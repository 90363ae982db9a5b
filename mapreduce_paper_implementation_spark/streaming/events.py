"""Structured Streaming over the `events` table.

The reference is batch-only (SURVEY.md §2C: streaming ❌); this module is the
committed-beyond-reference streaming surface: watermarked tumbling-window
aggregation, session windows, and a custom stateful operator via
applyInPandasWithState.

Local tests drive a parquet file source with a memory sink and
processAllAvailable() — one synchronous pass over the fixture. In production
the same queries run unchanged over Kafka/file streams; watermarks bound
state so a 100 TB/day stream holds only (watermark window x key cardinality)
state, checkpointed incrementally.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events fixture with normalized timestamps.

    File stream sources require a declared schema, and the declared type of
    `ts` must match how the writer encoded it — TIMESTAMP(NANOS) fixtures read
    as int64 under the legacy nanosAsLong conf, TIMESTAMP(MICROS) fixtures as
    a timestamp type. Rather than hardcode one encoding (which broke when the
    fixture generation changed), probe the file with a one-off batch schema
    read — metadata only, no data scan — and declare exactly what the batch
    reader infers (memoized per file version by sources/tables.read_source),
    then normalize `ts` with the same dtype-adaptive projection the batch
    catalog uses (sources/tables._normalize_timestamp).
    """
    from ..sources.tables import _normalize_timestamp, read_source

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = read_source(spark, os.path.join(sf_dir, "events.parquet")).schema
    # File stream sources take a directory; pathGlobFilter narrows it to the
    # events table so sibling parquet files in the fixture dir are ignored.
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return _normalize_timestamp(raw, "ts")


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts + sums per event_type with late-data bound.
    Works on both streaming and batch DataFrames (same expression tree),
    which is how the tests cross-check stream output against batch truth."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session-window (inactivity gap) event counts per user — the streaming
    analog of operators/sessionize.py."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "user_id",
            "cnt",
        )
    )


_STATE_SCHEMA = "total LONG"
_OUT_SCHEMA = "user_id LONG, total LONG"


def _count_updates(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    total = state.get[0] if state.exists else 0
    for pdf in pdfs:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"user_id": [user_id], "total": [total]})


def user_running_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event totals across
    micro-batches (applyInPandasWithState). State is one counter per user —
    O(users) not O(events)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _count_updates,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the documents fixture."""
    return (
        spark.readStream.schema(_DOCS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def streaming_dedup_counts(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on the md5 digest (state = one
    entry per distinct digest — at 100 TB/day bound it with
    dropDuplicatesWithinWatermark and an ingest-time column), then distinct
    docs per source. Batch twin: operators/dedup.exact_dedup."""
    digested = docs.select("source", F.md5(F.col("text").cast("binary")).alias("digest"))
    return (
        digested.dropDuplicates(["digest"])
        .groupBy("source")
        .agg(F.count("*").alias("n_unique"))
    )


def click_purchase_interval_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: each purchase matched with every click by the
    same user in the preceding hour. Both sides carry watermarks and the join
    condition bounds event time on BOTH ends, so Spark can expire buffered
    state — the two requirements for an unbounded stream-stream join to hold
    finite state. Same expression tree runs on batch for the differential
    test."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    buys = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("buy_ts"),
        F.col("event_id").alias("buy_id"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", "2 hours")
        buys = buys.withWatermark("buy_ts", "2 hours")
    return clicks.join(
        buys,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("click_ts") <= F.col("buy_ts"))
        & (F.col("click_ts") >= F.col("buy_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("buy_id", "b_user", "click_ts", "click_value")


def segment_counts(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join + aggregate: enrich each event with the customer's
    market segment (a static dimension table) and count events per segment —
    the standard streaming dimension-enrichment topology. The static side is
    broadcast into every micro-batch, so the stream never shuffles for the
    join; the same expression tree runs on a batch DataFrame, which is how
    the test cross-checks it."""
    dim = F.broadcast(
        customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    return (
        events.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"))
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append") -> None:
    """Drive a streaming query to completion over the available input and
    leave the result in an in-memory table `name`."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
