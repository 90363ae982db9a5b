"""Scale-adaptive scan-parallelism guard (round-14, re-tuned round-15).

The engine's CPU-heavy VECTOR map stages — per-vector cosine / argmin
folds over broadcast centroid arrays (interpreted HOFs, SURVEY.md §8.1),
PQ slice assignment — run in the SCAN's partitioning until the first
exchange. A small or unsplittable input (one parquet row group, a gzip
file) therefore pins that work to one core regardless of cluster size:
the bench embeddings at sf0.1 arrive as ONE partition, so e.g.
kmeans_fit's per-iteration argmin+re-center job ran single-threaded on a
32-core box.

`spread_partitions` round-robin repartitions ONLY when the input has
fewer partitions than the session's parallelism, and never below
MIN_SPREAD_BYTES (plan-stats estimate): a few KB per task cannot amortize
task launch + shuffle write, and the streaming maintainers push small
per-batch frames through the same operators (round-15; the round-14
partition-count-only guard fanned every tiny frame out — VERDICT r14 #1).
Above the floor the actual plan partitioning decides (one physical-plan
build, ~50 ms — only ever paid at the head of a heavy pipeline). A large
estimate is not trusted as proof of a parallel scan: a frame built from an
RDD reports Long.MaxValue and a join reports the product of its inputs
(318,956,651,838 bytes for two 0.8 MB single-partition scans), so an upper
size gate silently kept such heads on one core.

Round-15 A/B (interleaved pairs, sf0.1): the guard stays ONLY at the
vector heads. The round-14 doc-text spread sites (_shingle_frame,
_ngram_cooccurrence) measured as net losses on every consumer (q70 1.28x,
q18 1.22x, q20/q41 1.13x faster without) — shingling in place beats
shuffling raw text — and were removed; the vector sites measured as wins
(q118/q127 0.94, q135 0.90, q83 0.91 with the spread ON).

Determinism: repartition() round-robin is preceded by Spark's local sort
(spark.sql.execution.sortBeforeRepartition, on by default) so the
row-to-partition assignment is reproducible under task retry; every
consumer in this engine aggregates with order-free arithmetic (exact
integers / decimals, or the rounded-double contracts the oracles pin), so
partitioning never changes a result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Frames estimated below this are never spread: at ~2 KB/task on a 32-way
# fan-out the shuffle + scheduling overhead exceeds any map-side win. The
# floor is an absolute per-task-work bound, not a deployment constant.
MIN_SPREAD_BYTES = 64 * 1024


def spread_partitions(df: DataFrame) -> DataFrame:
    """Fan `df` out to the session's default parallelism iff it currently
    has fewer partitions (e.g. a single-row-group parquet scan) and is big
    enough for the fan-out to pay; otherwise return it untouched. Call at
    the head of CPU-heavy vector map pipelines that are about to be
    materialized or consumed by interpreted HOF work."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # stats unavailable — fall through to the plan probe
        est_bytes = None
    if est_bytes is not None and est_bytes < MIN_SPREAD_BYTES:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
