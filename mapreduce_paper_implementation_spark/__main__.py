"""CLI entry points mirroring the reference's three binaries.

Reference (/root/reference/mr-main/):
    mrsequential app.so pg-*.txt        -> mr-out-0 (sorted, single file)
    mrcoordinator pg-*.txt & mrworker app.so (xN) -> mr-out-0..9

Spark replaces the coordinator/worker split with its own scheduler, so the
operational surface collapses to two job shapes over the same app registry:

    python -m mapreduce_paper_implementation_spark sequential wc 'data/*.txt' -o out/
        one sorted mr-out-0 file — the mrsequential.go:27-89 analog
        (global sort-based grouping, mrsequential.go:61)
    python -m mapreduce_paper_implementation_spark run wc 'data/*.txt' -o out/ --n-reduce 10
        n_reduce partitioned mr-out-* files — the distributed analog
        ("%v %v" line format of mr/worker.go:156)
    python -m mapreduce_paper_implementation_spark query q01_wordcount --sf-dir /root/testdata/sf0.01
        run a manifest query and print the result
    python -m mapreduce_paper_implementation_spark list
        enumerate apps and registered queries
"""

from __future__ import annotations

import argparse
import os
import sys


def cmd_sequential(args, spark) -> int:
    """mrsequential analog: one sorted output file mr-out-0."""
    from mapreduce_paper_implementation_spark.apps import APPS
    from mapreduce_paper_implementation_spark.mr import mr_run

    mapf, reducef = APPS[args.app]
    df = mr_run(spark, mapf, reducef, args.input_glob, n_reduce=args.n_reduce)
    rows = sorted((r["key"], r["value"]) for r in df.collect())
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, "mr-out-0")
    with open(path, "w") as f:
        for k, v in rows:
            f.write(f"{k} {v}\n")  # "this is the correct format" mrsequential.go:82
    print(f"wrote {len(rows)} keys to {path}")
    return 0


def cmd_run(args, spark) -> int:
    """Distributed analog: n_reduce partitioned mr-out-* text files."""
    from mapreduce_paper_implementation_spark.apps import APPS
    from mapreduce_paper_implementation_spark.mr import mr_run_to_text

    mapf, reducef = APPS[args.app]
    mr_run_to_text(
        spark, mapf, reducef, args.input_glob, args.out, n_reduce=args.n_reduce
    )
    print(f"wrote {args.n_reduce}-partition output to {args.out}")
    return 0


def cmd_query(args, spark) -> int:
    from mapreduce_paper_implementation_spark.plans.queries import QUERIES

    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    df = QUERIES[args.name](spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_explain(args, spark) -> int:
    """Print the post-AQE physical plan of a manifest query — the artifact a
    reviewer checks for pushdown / broadcast / shuffle shape at scale."""
    from mapreduce_paper_implementation_spark.plans.queries import QUERIES

    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    df = QUERIES[args.name](spark, args.sf_dir)
    df.explain(args.mode)
    return 0


def cmd_list(args, spark=None) -> int:
    from mapreduce_paper_implementation_spark.apps import APPS
    from mapreduce_paper_implementation_spark.plans.queries import ORACLES, QUERIES

    print("apps (sequential/run):")
    for name in sorted(APPS):
        print(f"  {name}")
    print("queries:")
    for name in sorted(QUERIES):
        tag = "oracle" if name in ORACLES else "rows-only"
        print(f"  {name}  [{tag}]")
    return 0


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(prog="python -m mapreduce_paper_implementation_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ps = sub.add_parser("sequential", help="mrsequential analog: one sorted mr-out-0")
    ps.add_argument("app", choices=["wc", "indexer", "credit"])
    ps.add_argument("input_glob")
    ps.add_argument("-o", "--out", required=True)
    ps.add_argument("--n-reduce", type=int, default=1)

    pr = sub.add_parser("run", help="distributed analog: mr-out-* partitioned files")
    pr.add_argument("app", choices=["wc", "indexer", "credit"])
    pr.add_argument("input_glob")
    pr.add_argument("-o", "--out", required=True)
    pr.add_argument("--n-reduce", type=int, default=10)

    pq = sub.add_parser("query", help="run a manifest query")
    pq.add_argument("name")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pq.add_argument("--limit", type=int, default=20)

    pe = sub.add_parser("explain", help="print a manifest query's physical plan")
    pe.add_argument("name")
    pe.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pe.add_argument("--mode", default="formatted", choices=["simple", "extended", "formatted", "cost", "codegen"])
    sub.add_parser("list", help="list apps and queries")

    p.add_argument("--local", type=int, default=8, help="local[N] threads")
    args = p.parse_args(argv)

    if args.cmd == "list":
        return cmd_list(args)

    own_session = spark is None
    if own_session:
        # the engine's session: its UTC timezone keeps to_date day buckets
        # equal to the oracle's
        from mapreduce_paper_implementation_spark.session import get_spark

        spark = get_spark(master=f"local[{args.local}]")
    try:
        from mapreduce_paper_implementation_spark.shipping import ensure_shipped

        ensure_shipped(spark)
        return {"sequential": cmd_sequential, "run": cmd_run, "query": cmd_query, "explain": cmd_explain}[
            args.cmd
        ](args, spark)
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
