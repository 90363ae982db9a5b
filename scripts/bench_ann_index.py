#!/usr/bin/env python
"""ANN release index: inline-retrain vs published-index walls for the three
semantic consumers (VERDICT r12 ask #1 — the inline-vs-materialized
release-cut comparison applied to the trained ANN artifacts).

Registered q118 rebuilds its IVF-PQ index (coarse k-means + 8 codebook
fits + corpus encode) inline on every run; q116 and q127's semantic gate
retrain the same 16-cell coarse index. Production publishes (centroids,
codebooks, cells, codes) once (operators/ann_release.py:publish_ann_index;
streaming/ann_index.py maintains the same artifacts incrementally) and
query time reads them. This script records both walls per query, the
one-time publish wall, and q127's full production shape (ANN index + CC
label cut together), asserting results identical along the way.

Usage: python scripts/bench_ann_index.py [--sf-dir /root/testdata/sf0.1]
       [--repeat 3] [--out BENCH_ANN_INDEX.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mapreduce_paper_implementation_spark.operators.caching import (  # noqa: E402
    release_persisted,
)
from mapreduce_paper_implementation_spark.session import get_spark  # noqa: E402
from mapreduce_paper_implementation_spark.sources.tables import load_table  # noqa: E402

QUERY_NAMES = (
    "q118_ann_ivf_pq",
    "q116_semantic_decontaminate",
    "q127_release_cut",
)


def _time(spark, fn, repeat: int) -> float:
    best = None
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
        release_persisted()
        spark.catalog.clearCache()
    return round(best, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_ANN_INDEX.json"))
    args = ap.parse_args()

    from mapreduce_paper_implementation_spark.operators.ann_release import (
        publish_ann_index,
    )
    from mapreduce_paper_implementation_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from mapreduce_paper_implementation_spark.operators.graph import (
        connected_components,
    )
    from mapreduce_paper_implementation_spark.plans.queries import QUERIES

    assert "SPARK_GRAFT_ANN_INDEX" not in os.environ
    assert "SPARK_GRAFT_CC_CUT" not in os.environ
    spark = get_spark("bench_ann_index")
    emb = load_table(spark, args.sf_dir, "embeddings")
    emb.limit(10).collect()  # warmup

    result: dict = {"sf_dir": args.sf_dir, "repeat": args.repeat, "queries": {}}

    inline_rows: dict[str, list] = {}
    for name in QUERY_NAMES:
        inline_rows[name] = sorted(
            tuple(r) for r in QUERIES[name](spark, args.sf_dir).collect()
        )
        release_persisted()
        spark.catalog.clearCache()
        result["queries"][name] = {
            "inline_sec": _time(
                spark, lambda n=name: QUERIES[n](spark, args.sf_dir), args.repeat
            )
        }

    with tempfile.TemporaryDirectory() as tmp:
        idx_dir = os.path.join(tmp, "ann_index")
        t0 = time.perf_counter()
        publish_ann_index(emb, idx_dir)
        result["publish_sec"] = round(time.perf_counter() - t0, 3)
        release_persisted()
        spark.catalog.clearCache()

        os.environ["SPARK_GRAFT_ANN_INDEX"] = idx_dir
        try:
            for name in QUERY_NAMES:
                got = sorted(
                    tuple(r) for r in QUERIES[name](spark, args.sf_dir).collect()
                )
                assert got == inline_rows[name], f"{name}: indexed != inline"
                release_persisted()
                spark.catalog.clearCache()
                result["queries"][name]["indexed_sec"] = _time(
                    spark, lambda n=name: QUERIES[n](spark, args.sf_dir), args.repeat
                )

            # q127 full production: ANN index + CC label cut together
            cc_dir = os.path.join(tmp, "cc_cut")
            docs = load_table(spark, args.sf_dir, "documents")
            t0 = time.perf_counter()
            connected_components(
                ngram_jaccard_pairs(docs, threshold=0.1)
            ).write.mode("overwrite").parquet(cc_dir)
            result["cc_publish_sec"] = round(time.perf_counter() - t0, 3)
            release_persisted()
            spark.catalog.clearCache()
            os.environ["SPARK_GRAFT_CC_CUT"] = cc_dir
            try:
                got = sorted(
                    tuple(r)
                    for r in QUERIES["q127_release_cut"](
                        spark, args.sf_dir
                    ).collect()
                )
                assert got == inline_rows["q127_release_cut"], "q127 production != inline"
                release_persisted()
                spark.catalog.clearCache()
                result["queries"]["q127_release_cut"]["production_sec"] = _time(
                    spark,
                    lambda: QUERIES["q127_release_cut"](spark, args.sf_dir),
                    args.repeat,
                )
            finally:
                del os.environ["SPARK_GRAFT_CC_CUT"]
        finally:
            del os.environ["SPARK_GRAFT_ANN_INDEX"]

    result["note"] = (
        "best-of-repeat walls, noop sink; 'indexed' reads the published "
        "(centroids, codebooks, cells, codes) parquet artifacts instead of "
        "retraining inline; q127 'production' additionally reads the CC "
        "label cut. Equality of result rows asserted for every mode."
    )
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
