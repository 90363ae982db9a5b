#!/usr/bin/env python
"""Capture .explain("formatted") output as plan evidence files:
plans/$SPARK_GRAFT_PLANS_ROUND/<query>_{before,after}.txt. These files are
the committed record that plan-shape claims in a change's notes (exchange
counts, join strategies, pushdown) match the code at the commit that
produced them. SPARK_GRAFT_PLANS_ROUND is required: with no default, a
capture can never overwrite an earlier change's evidence by accident.

Usage: SPARK_GRAFT_PLANS_ROUND=<dir> python scripts/capture_plans.py <before|after> q127_release_cut [more...]
       SPARK_GRAFT_PLANS_ROUND=<dir> python scripts/capture_plans.py <before|after> --all

Plans are built at sf0.01 (plan shape is SF-independent; the plan_audit
default) on the standard engine session.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_paper_implementation_spark.operators.caching import (  # noqa: E402
    free_local_checkpoints,
    release_persisted,
)
from mapreduce_paper_implementation_spark.plans.queries import QUERIES  # noqa: E402
from mapreduce_paper_implementation_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
PLANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")


def main() -> None:
    plans_round = os.environ.get("SPARK_GRAFT_PLANS_ROUND")
    if not plans_round:
        sys.exit("capture_plans: set SPARK_GRAFT_PLANS_ROUND to the plans/ subdirectory to write")
    out = os.path.join(PLANS, plans_round)
    tag = sys.argv[1]
    assert tag in ("before", "after"), "first arg must be before|after"
    names = sys.argv[2:]
    if names == ["--all"]:
        names = list(QUERIES)
    os.makedirs(out, exist_ok=True)
    spark = get_spark("capture-plans")
    for name in names:
        try:
            df = QUERIES[name](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            txt = f"PLAN BUILD FAILED: {type(exc).__name__}: {exc}"
        path = os.path.join(out, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
        release_persisted()
        spark.catalog.clearCache()
        free_local_checkpoints(spark)


if __name__ == "__main__":
    main()
