"""Incremental event-transition matrix: the streaming twin of q88
(plans/curation_queries.py:q88_event_transitions).

Recomputing the Markov matrix from raw history is O(history) per refresh; a
100 TB/day event stream needs the matrix maintained from deltas. The state
is the classic SEGMENT MONOID for sequence statistics:

    state = (transition counts, per-user FIRST event, per-user LAST event)

For two time-ordered segments A then B (all of a user's events in A precede
that user's events in B — the same in-order micro-batch contract the other
maintainers assume):

    merge(A, B).counts = A.counts + B.counts
                         + boundary(A.last_by_user -> B.first_by_user)
    merge(A, B).first  = A.first if present else B.first
    merge(A, B).last   = B.last  if present else A.last

which is associative, so per-batch deltas fold into durable state under the
same exactly-once discipline as streaming/rollup.py (full-state versions
under statedir.py; at-least-once replays skip on the version check).

State size is O(|event_types|^2 + |users|) regardless of stream volume —
the per-batch job is O(|delta| + |users|), never O(history). Serving side
(`transitions()`) row-normalizes the O(|types|^2) matrix exactly as q88, so
the maintained output is hash-identical to the batch query over the same
events (differential gate: tests/test_transitions.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.operators.incremental import merge_rollups
from mapreduce_paper_implementation_spark.statedir import read_parquet, write_parquet
from mapreduce_paper_implementation_spark.streaming.rollup import RollupMaintainer

_EP_FIELDS = ("type", "t_us", "event_id")


def _batch_state(delta: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(counts, endpoints) for one time-ordered segment of raw events.

    One shuffle on user_id; the lead window and the endpoint min/max ride the
    same partitioning. Struct min/max ordering is (t_us, event_id, type) —
    lexicographic on the total order, so endpoints are deterministic."""
    e = delta.select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    counts = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ordered = F.struct(
        F.col("t_us"), F.col("event_id"), F.col("event_type").alias("type")
    )
    endpoints = e.groupBy("user_id").agg(
        F.min(ordered).alias("first"), F.max(ordered).alias("last")
    )
    return counts, endpoints


def _merge(
    prev_counts: DataFrame,
    prev_ep: DataFrame,
    b_counts: DataFrame,
    b_ep: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Monoid merge of time-ordered segments (prev precedes batch)."""
    boundary = (
        prev_ep.alias("p")
        .join(b_ep.alias("b"), "user_id")
        .groupBy(
            F.col("p.last.type").alias("event_type"),
            F.col("b.first.type").alias("next_type"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    counts = merge_rollups(
        [prev_counts, b_counts, boundary], ["event_type", "next_type"], add_cols=["n"]
    )
    p, b = prev_ep.alias("p"), b_ep.alias("b")
    merged_ep = p.join(b, "user_id", "full_outer").select(
        "user_id",
        F.coalesce(F.col("p.first"), F.col("b.first")).alias("first"),
        F.coalesce(F.col("b.last"), F.col("p.last")).alias("last"),
    )
    return counts, merged_ep


class TransitionMaintainer(RollupMaintainer):
    """Durable transition-matrix state under `state_dir`; each version holds
    `counts/` (event_type, next_type, n) and `endpoints/` (user_id, first,
    last) parquet dirs. Reuses RollupMaintainer's pointer/vacuum machinery —
    only the state shape (two frames per version) differs."""

    def __init__(self, spark: SparkSession, state_dir: str):
        super().__init__(spark, state_dir)

    def _read_state(self, v: int) -> tuple[DataFrame, DataFrame]:
        d = self.store.version_dir(v)
        return (
            read_parquet(self.spark, os.path.join(d, "counts")),
            read_parquet(self.spark, os.path.join(d, "endpoints")),
        )

    def current_state(self) -> DataFrame | None:
        v = self.store.pointer()
        if v is None:
            return None
        return self._read_state(v)[0]

    def update(self, delta: DataFrame, batch_id: int) -> None:
        committed = self.store.pointer()
        if committed is not None and committed >= batch_id:
            return  # at-least-once replay: version already folded in
        counts, endpoints = _batch_state(delta)
        if committed is not None:
            prev_counts, prev_ep = self._read_state(committed)
            counts, endpoints = _merge(prev_counts, prev_ep, counts, endpoints)
        d = self.store.version_dir(batch_id)
        write_parquet(counts, os.path.join(d, "counts"))
        write_parquet(endpoints, os.path.join(d, "endpoints"))
        self.store.commit(batch_id, publish=[d])

    def transitions(self) -> DataFrame | None:
        """Serving view: the q88 output shape (event_type, next_type,
        n_transitions, prob) over everything ingested so far. Runs on the
        O(|types|^2) state — raw history is never re-read."""
        counts = self.current_state()
        if counts is None:
            return None
        row_total = F.sum("n").over(Window.partitionBy("event_type"))
        return (
            counts.select(
                "event_type",
                "next_type",
                F.col("n").alias("n_transitions"),
                F.round(
                    F.col("n").cast("double") / row_total.cast("double"), 6
                ).alias("prob"),
            )
            .orderBy("event_type", "next_type")
        )
