"""Simulate the driver: vanilla SparkSession, import __spark_entry__,
smoke entry(), then run every queries() entry and compare to oracle_sql()
via DuckDB — through the SAME pandas canonicalization the grading driver
uses (testing/compare.py), so dtype-contract bugs (Decimal vs float64)
fail here before they fail in the driver.

With --json PATH, also write a CORRECTNESS_r-style artifact covering the
FULL manifest (the driver's own oracle keyset froze at 50 queries; this is
the committed record for the other 62 — VERDICT r03 gap #1). The artifact
records the git SHA the run was generated at; the freshness gate
(tests/test_artifact_freshness.py) fails if query-defining code changed
since, so a stale full-file is structurally detectable (VERDICT r08 #7).

With --complement, run ONLY the queries NOT in the driver's frozen subset
(the keyset of the newest CORRECTNESS_r*.json) — the per-round re-check of
the 62 queries the driver itself never exercises.

A relative --json PATH is resolved against the repository root (the
parent of this script's directory), not the working directory, so the run
can start anywhere and still refresh the committed artifact.

Usage: python scripts/driver_sim.py [--json PATH] [--complement] [sf_dir] [query_prefix...]
"""
import glob
import json
import os
import re
import subprocess
import sys, time
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession

argv = sys.argv[1:]
json_out = None
if "--json" in argv:
    i = argv.index("--json")
    json_out = os.path.join(REPO, argv[i + 1])
    argv = argv[:i] + argv[i + 2:]
complement: set[str] | None = None
if "--complement" in argv:
    argv.remove("--complement")
    if json_out is not None:
        # A complement run covers only the 62+ queries OUTSIDE the driver
        # subset; writing that partial keyset over CORRECTNESS_FULL.json
        # would silently defeat the registry-coverage and sha-freshness
        # gates until the next full regen (ADVICE r09).
        sys.exit("--json with --complement would record a partial-keyset "
                 "artifact; run --json from a FULL pass (no --complement).")
    rounds = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r[0-9]*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    with open(rounds[-1]) as fh:
        complement = set(json.load(fh))
    print(f"COMPLEMENT MODE: skipping the {len(complement)} driver-subset "
          f"queries recorded in {os.path.basename(rounds[-1])}")

spark = (
    SparkSession.builder.master("local[8]")
    .appName("driver-sim")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e
from mapreduce_paper_implementation_spark.operators.caching import (
    free_local_checkpoints,
    release_persisted,
)
from mapreduce_paper_implementation_spark.testing.compare import (
    canonize,
    compare_query,
    duckdb_connect,
    spark_to_pandas,
)

df = e.entry(spark)
rows = df.collect()
print(f"ENTRY: rows={len(rows)} schema={df.schema.simpleString()}")

qs, os_ = e.queries(), e.oracle_sql()
print(f"CONTRACT: {len(qs)} queries, {len(os_)} oracles, orphan_oracles={set(os_)-set(qs)}")

SF = argv[0] if argv else "/root/testdata/sf0.01"
only = argv[1:]
con = duckdb_connect(SF)

record: dict[str, dict] = {}
fails = 0
for name in sorted(qs):
    if only and not any(name.startswith(p) for p in only):
        continue
    if complement is not None and name in complement:
        continue
    # per-query cache hygiene: the driver runs queries back to back in one
    # session; scoped persists from the previous query must not accumulate
    release_persisted()
    spark.catalog.clearCache()
    # clearCache never touches localCheckpoint blocks — sweep them too or
    # they accumulate across the whole run (caching.py contract).
    free_local_checkpoints(spark)
    t0 = time.time()
    if name not in os_:
        try:
            pdf = spark_to_pandas(qs[name](spark, SF))
            # the driver canonicalizes rows-only results too: unhashable /
            # unsortable cells (lists) crash it, so surface that here
            canonize(pdf)
            print(f"{name:28s} ROWS-ONLY rows={len(pdf)} ({time.time()-t0:.1f}s)")
            record[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(pdf), "oracle_rows": None,
                "err": None, "mode": "rows_only",
            }
        except Exception as ex:
            fails += 1
            print(f"{name:28s} ROWS-ONLY CANON-CRASH: {ex!r}")
            record[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": None, "oracle_rows": None,
                "err": repr(ex)[:500], "mode": "rows_only",
            }
        continue
    try:
        res = compare_query(spark, con, name, qs[name], os_[name], SF)
    except Exception as ex:
        fails += 1
        print(f"{name:28s} ERROR {ex!r}")
        record[name] = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None,
            "err": repr(ex)[:500], "mode": "oracle",
        }
        continue
    record[name] = {
        "rows_match": res.ok or res.spark_rows == res.oracle_rows,
        "schema_match": res.ok or "columns differ" not in res.detail,
        "hash_match": res.ok,
        "spark_rows": res.spark_rows, "oracle_rows": res.oracle_rows,
        "err": None if res.ok else res.detail[:500], "mode": "oracle",
    }
    if not res.ok:
        fails += 1
        print(f"{name:28s} MISMATCH {res.detail[:300]}")
    else:
        print(f"{name:28s} MATCH rows={res.spark_rows} ({time.time()-t0:.1f}s)")

print("RESULT:", "ALL MATCH" if fails == 0 else f"{fails} FAILURES")
if json_out:
    try:
        sha = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:
        sha = None
    with open(json_out, "w") as fh:
        json.dump(
            {
                "sf_dir": SF,
                "n_queries": len(record),
                "git_sha": sha,
                "generated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "results": record,
            },
            fh,
            indent=1,
        )
    print(f"WROTE {json_out} ({len(record)} entries, git_sha={sha})")
sys.exit(1 if fails else 0)
