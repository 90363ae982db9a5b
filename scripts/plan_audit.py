"""Generate PLANS.md: the final (post-AQE) physical plan shape of every
registered query — exchanges, join strategies, scan pushdown/pruning,
codegen spans, Python boundaries. The 100-TB review artifact: a reviewer
reads this instead of 112 `.explain()` dumps.

Counts come from WALKING the physical-plan tree (the shared walker in
mapreduce_paper_implementation_spark/testing/planwalk.py — one wrapper-
handling implementation for this audit AND tests/test_plans.py), not from grepping
its printed string — the tree string both OVER-counts (a persisted
subtree is re-printed under every InMemoryTableScan that reads it, and a
nested AdaptiveSparkPlan prints its Final AND Initial sections) and, if
naïvely deduped, UNDER-counts (distinct operators whose printed lines
carry no expression ids collapse). The walker recurses AdaptiveSparkPlan
into its final plan only, query stages into their plans, each distinct
cached relation (keyed by its CacheBuilder — projections share one
builder) exactly once, traverses expression-held subquery plans via
node.subqueries() (ScalarSubquery/InSubquery SubqueryExec trees), and
stops at ReusedExchange/ReusedSubquery (the original executes elsewhere).

Usage: python scripts/plan_audit.py [sf_dir]  (default sf0.01)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_paper_implementation_spark.operators.caching import (  # noqa: E402
    release_persisted,
)
from mapreduce_paper_implementation_spark.plans.queries import ORACLES, QUERIES  # noqa: E402
from mapreduce_paper_implementation_spark.session import get_spark  # noqa: E402

_PY_NODES = {
    "ArrowEvalPythonExec",
    "BatchEvalPythonExec",
    "FlatMapGroupsInPandasExec",
    "FlatMapCoGroupsInPandasExec",
    "FlatMapGroupsInPandasWithStateExec",
    "MapInPandasExec",
}

_SCAN_NODES = ("FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec")


def _walk(node, counts: dict) -> None:
    from mapreduce_paper_implementation_spark.testing.planwalk import iter_plan

    for n in iter_plan(node):
        name = n.getClass().getSimpleName()
        if name in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            counts["exchanges"] += 1
        elif name == "BroadcastHashJoinExec":
            counts["bhj"] += 1
        elif name == "SortMergeJoinExec":
            counts["smj"] += 1
        elif name == "ShuffledHashJoinExec":
            counts["shj"] += 1
        elif name in ("CartesianProductExec", "BroadcastNestedLoopJoinExec"):
            counts["cartesian"] += 1
        elif name == "WholeStageCodegenExec":
            counts["wscg"] += 1
        elif name.startswith(_SCAN_NODES):
            counts["scans"] += 1
            st = n.toString()
            if "PushedFilters: [" in st and "PushedFilters: []" not in st:
                counts["pushed"] += 1
        elif name in _PY_NODES:
            counts["py"] += 1


def audit_jplan(jplan) -> dict[str, object]:
    counts = {
        "exchanges": 0,
        "bhj": 0,
        "smj": 0,
        "shj": 0,
        "cartesian": 0,
        "wscg": 0,
        "scans": 0,
        "pushed": 0,
        "py": 0,
    }
    _walk(jplan, counts)
    counts["aqe_final"] = "isFinalPlan=true" in jplan.toString()[:2000]
    return counts


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    rows = []
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # finalize AQE
        rows.append((name, audit_jplan(df._jdf.queryExecution().executedPlan())))
        # hermetic rows: release this query's persisted frames so an
        # identical lineage in a LATER query can't silently read a cached
        # relation and under-report its own exchanges (CacheManager matches
        # by logical plan — observed q124's pair cache rewriting q20's row)
        release_persisted()

    out = [
        "# PLANS — final physical plan shape per query",
        "",
        f"Generated by `scripts/plan_audit.py` at `{sf_dir}` (post-AQE executed",
        "plans, counted by WALKING the plan tree — persisted subtrees count",
        "once per cached relation regardless of consumer count, nested-AQE",
        "'Initial Plan' sections never count, ReusedExchange subtrees never",
        "double-count). Columns: shuffle+broadcast Exchanges; join strategies",
        "(broadcast-hash / sort-merge / shuffled-hash); file scans with pushed",
        "filters; whole-stage-codegen spans; Python (Arrow) boundaries.",
        "",
        "`nl-scan` counts nested-loop/cross joins. Nonzero ONLY where it is",
        "the intended plan: the similarity queries (broadcast nested-loop scan",
        "of candidates against a broadcast probe/centroid set — non-equi match",
        "conditions like hamming distance and id inequality) and the",
        "single-row broadcasts: q49's corpus count, q57's mixture-weight",
        "denominator, q119's collapsed merge-table array row (the",
        "broadcast apply), and",
        "the q93/q110/q111/q112-style single-row stats frames.",
        "Every relational query must show 0; tests/test_plans.py",
        "enforces the key ones.",
        "",
        "CHECKPOINT OPACITY: iterative operators that localCheckpoint per",
        "round (the q115/q121 training loops; the q29/q41/q74-class",
        "fixpoints when materialized) truncate lineage, so rows describe only",
        "the FINAL plan segment — e.g. q115 reads '1 exchange / 0 scans'",
        "although each training round ran a pair-count aggregate. The",
        "per-round shape is pinned instead by",
        "tests/test_plans.py::test_q115_training_round_shape_uncheckpointed",
        "(partial+final hash agg, TakeOrderedAndProject winner, zero",
        "shuffle exchanges in the merge apply).",
        "",
        "| query | exchanges | BHJ | SMJ | SHJ | nl-scan | codegen | scans (pushed) | py-boundaries | oracle |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        out.append(
            f"| {name} | {a['exchanges']} | {a['bhj']} | {a['smj']} | {a['shj']} "
            f"| {a['cartesian']} | {a['wscg']} | {a['scans']} ({a['pushed']}) "
            f"| {a['py']} | {'SQL' if name in ORACLES else 'rows-only'} |"
        )
    out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
