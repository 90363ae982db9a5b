"""Budgeted-mixture shard exporter (VERDICT r13 ask #1): materialize the
q133/q134 repetition schedule as the on-disk artifact a training loader
mounts — each source's full epochs plus its md5-order remainder head,
laid out as hive-partitioned (epoch, shard) parquet with a counts
manifest, committed behind an atomic version pointer.

Layout: full-state versions under statedir.py; version N holds
`data/epoch=0/shard=3/part-*.parquet` (the repeated-epoch stream) and
`manifest.json` (per-(epoch,shard) counts, per-source totals, budget).

ONE lineage: the written rows ARE plans/release_queries.py:
mixture_stream_frame — the exact frame q136 aggregates under the DuckDB
hash gate, built on the same _mixture_sample_parts spine as q134's gated
per-source aggregate — so "files == manifest == q134/q136" holds by
construction and is re-read-verified in tests/test_round14_additions.py.
The manifest's per-source block carries (n_docs_kept, n_tokens_kept,
allocated, full_epochs): byte-for-byte q134's integer columns.

Scale shape: the copy expansion is a map-side explode (ncopies is a
small constant); within-epoch token-balanced shard cutting rides ONE
global prefix_sum (operators/sort.py) + a bounded per-epoch offset
broadcast — never a per-epoch or per-source single-task window, which is
the whole design point when one source dominates the corpus (the planted
-skew bench in scripts/bench_mixture_skew.py measures exactly that). The
data write is one hive-partitioned parquet job, parallel over (epoch,
shard) through Spark's commit protocol; driver-side state is only the
bounded counts list. A crash before the final pointer rename leaves the
previous version visible — readers never observe a half-written mixture.

Reference analog: mr-out-X as the job's real product
(/root/reference/mr-main/mr/worker.go:148-157), done atomically — the
same gap-fix as release_export.py, at the mixture grain.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.statedir import VersionedStateDir


def export_mixture(
    spark: SparkSession,
    docs: DataFrame | None,
    out_dir: str,
    n_shards: int | None = None,
    payload: DataFrame | None = None,
    meta: DataFrame | None = None,
) -> int:
    """Write one mixture version; returns its number.

    `docs`: the (doc_id, source, text, ...) corpus the q133 planner
    budgets over — OR pass `meta` (doc_id, source, tc) instead, e.g.
    streaming/release_view.py's maintained meta leaf, so maintain ->
    budget -> export never re-tokenizes (tests pin the two modes equal).
    `payload`: optional (doc_id, ...) columns joined onto every
    materialized copy so shards carry the training payload, not just ids
    (inner join on the sample's own key — the publisher owns the match,
    the release_export contract).

    Order of operations (crash-safe): data parquet -> bounded counts
    collects -> manifest.json -> pointer commit LAST."""
    from mapreduce_paper_implementation_spark.plans.release_queries import (
        _Q136_SHARDS,
        mixture_stream_frame,
    )

    store = VersionedStateDir(out_dir)
    version = store.next_version()
    vdir = store.version_dir(version)

    # ONE materialized assignment feeds the data write, the (epoch, shard)
    # counts, and the per-source totals (the release_export boundary
    # -consistency discipline; also saves recomputing the composed sample
    # three times).
    stream = mixture_stream_frame(
        docs, n_shards=n_shards or _Q136_SHARDS, meta=meta
    ).localCheckpoint(eager=True)
    data = stream if payload is None else stream.join(payload, "doc_id")
    data.write.mode("overwrite").partitionBy("epoch", "shard").parquet(
        os.path.join(vdir, "data")
    )

    shards = [
        {
            "epoch": int(r["epoch"]),
            "shard": int(r["shard"]),
            "n_docs": int(r["n_docs"]),
            "n_tokens": int(r["n_tokens"]),
        }
        for r in stream.groupBy("epoch", "shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tc").cast("long").alias("n_tokens"),
        )
        .orderBy("epoch", "shard")
        .collect()  # bounded: |epochs| x |shards| rows
    ]
    # per-source totals straight off the written stream — the block the
    # round-trip gate compares to q134's hash-gated integer columns
    from mapreduce_paper_implementation_spark.plans.release_queries import (
        _mixture_sample_parts,
    )

    _, alloc = _mixture_sample_parts(docs, meta=meta)
    sources = [
        {
            "source": r["source"],
            "n_docs_kept": int(r["n_docs_kept"]),
            "n_tokens_kept": int(r["n_tokens_kept"]),
            "allocated": int(r["allocated"]),
            "full_epochs": int(r["full_epochs"]),
        }
        for r in stream.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs_kept"),
            F.sum("tc").cast("long").alias("n_tokens_kept"),
        )
        .join(F.broadcast(alloc.select("source", "allocated", "full_epochs")), "source")
        .orderBy("source")
        .collect()  # bounded: |sources| rows
    ]
    manifest = {
        "version": version,
        "shards": shards,
        "sources": sources,
        "totals": {
            "n_docs": sum(c["n_docs"] for c in shards),
            "n_tokens": sum(c["n_tokens"] for c in shards),
        },
    }
    with open(os.path.join(vdir, "manifest.json"), "w", encoding="ascii") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)

    store.commit(version, publish=[vdir])
    return version


def read_mixture(spark: SparkSession, out_dir: str) -> tuple[DataFrame, dict]:
    """Load the CURRENT mixture version: (stream DataFrame, manifest).
    epoch/shard come back as typed partition columns, re-cast long to the
    writer's schema."""
    vdir = VersionedStateDir(out_dir).current_dir()
    df = (
        spark.read.parquet(os.path.join(vdir, "data"))
        .withColumn("epoch", F.col("epoch").cast("long"))
        .withColumn("shard", F.col("shard").cast("long"))
    )
    with open(os.path.join(vdir, "manifest.json"), encoding="ascii") as fh:
        manifest = json.load(fh)
    return df, manifest
