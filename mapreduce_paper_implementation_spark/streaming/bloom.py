"""Materialized seen-keys maintenance: the stateful half of
operators/membership.py:seen_membership.

A daily ingest pipeline asks "which of this batch's keys has history
already seen?" every run. Rebuilding the history Bloom filter per run
re-scans history; this maintainer persists the filter once and grows it
per batch. The Bloom word-map representation (word -> int64 bitmask) makes
growth ASSOCIATIVE: the filter of (A union B) is the per-word BIT_OR of the
filters of A and B, so a batch contributes a tiny word-map delta and the
merged filter is one groupBy(word).BIT_OR away — no key ever needs
re-hashing. The exact key store grows alongside it so bloom-positive keys
can be verified exactly (operators/membership.py removes the
false-positive sliver; false negatives cannot exist).

State is a delta chain under statedir.py with leaves `filter/` (the
batch's own word-map delta) and `keys/` (the batch's distinct keys), plus
each batch's answer — its rows tagged `seen` — under `seen/b{N}`. A
replayed batch id is a no-op returning the persisted answer. compact()
folds deltas into a baseline generation so probe cost is O(1) dirs
regardless of batch count.

At 100 TB the word map stays <= num_bits/64 rows forever (size it for the
projected key cardinality up front, or retrain-style rebuild at a larger
num_bits when the fill factor passes ~50 % — rebuild cost is one scan of
the compacted key store, not of history's raw data); the key store is the
only state that grows with history, and only bloom-positive keys ever join
it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.operators.membership import (
    DEFAULT_NUM_BITS,
    DEFAULT_NUM_HASHES,
    DEFAULT_SEED,
    bloom_maybe_seen,
    build_bloom,
)
from mapreduce_paper_implementation_spark.statedir import VersionedStateDir


class SeenKeysMaintainer:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: Sequence[str],
        *,
        num_bits: int = DEFAULT_NUM_BITS,
        num_hashes: int = DEFAULT_NUM_HASHES,
        seed: int = DEFAULT_SEED,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.key_cols = list(key_cols)
        self.num_bits = num_bits
        self.num_hashes = num_hashes
        self.seed = seed
        self.store = VersionedStateDir(state_dir)

    # -- state -------------------------------------------------------------
    def filter(self) -> DataFrame | None:
        """The merged history Bloom filter: per-word BIT_OR over every
        committed delta — the associative merge that makes per-batch
        maintenance possible. <= num_bits/64 rows by construction."""
        deltas = self.store.read_leaf(self.spark, "filter")
        if deltas is None:
            return None
        return deltas.groupBy("word").agg(F.bit_or("bits").alias("bits"))

    def keys(self) -> DataFrame | None:
        return self.store.read_leaf(self.spark, "keys")

    # -- per-batch maintenance --------------------------------------------
    def update(self, batch: DataFrame, batch_id: int) -> DataFrame | None:
        """Tag `batch` rows with `seen` (vs all history committed BEFORE this
        batch), persist the answer and the batch's filter/key deltas, and
        advance the pointer. Replays of a committed batch id are no-ops
        returning the persisted answer."""
        seen_dir = self.store.batch_dir(batch_id, group="seen")
        if self.store.replayed(batch_id):
            return self.spark.read.parquet(seen_dir)
        self.store.begin_batch(batch_id, "seen")
        hist_filter = self.filter()
        batch_keys = batch.select(*self.key_cols).distinct()
        if hist_filter is None:
            flags = batch_keys.select(*self.key_cols, F.lit(False).alias("seen"))
        else:
            maybe = bloom_maybe_seen(
                batch_keys,
                hist_filter,
                self.key_cols,
                num_bits=self.num_bits,
                num_hashes=self.num_hashes,
                seed=self.seed,
            )
            pos_keys = maybe.where(F.col("bloom_maybe")).select(*self.key_cols)
            # The key store holds one distinct-key set PER DELTA, so a key
            # seen in several batches appears several times before compact();
            # a plain left join against it would duplicate flag rows. Semi-
            # join the store against the (small) positive set and distinct
            # the matches instead — history is scanned map-side, never
            # shuffled or deduplicated wholesale.
            matched = self.keys().join(pos_keys, self.key_cols, "left_semi").distinct()
            positives = pos_keys.join(
                matched.withColumn("_h", F.lit(True)), self.key_cols, "left"
            ).select(*self.key_cols, F.coalesce("_h", F.lit(False)).alias("seen"))
            flags = (
                maybe.where(~F.col("bloom_maybe"))
                .select(*self.key_cols, F.lit(False).alias("seen"))
                .unionByName(positives)
            )
        tagged = batch.join(flags, self.key_cols, "left").withColumn(
            "seen", F.coalesce("seen", F.lit(False))  # NULL keys: not seen
        )
        tagged.write.mode("overwrite").parquet(seen_dir)
        build_bloom(
            batch_keys,
            self.key_cols,
            num_bits=self.num_bits,
            num_hashes=self.num_hashes,
            seed=self.seed,
        ).write.mode("overwrite").parquet(self.store.batch_dir(batch_id, "filter"))
        batch_keys.write.mode("overwrite").parquet(self.store.batch_dir(batch_id, "keys"))
        self.store.commit_batch(batch_id, "seen")
        return self.spark.read.parquet(seen_dir)

    # -- compaction --------------------------------------------------------
    def compact(self) -> int | None:
        """Fold committed filter deltas (BIT_OR) and key deltas (distinct)
        into one baseline generation; truncate the delta chain
        (statedir.py's compact)."""

        def fold(g: int) -> None:
            self.filter().write.mode("overwrite").parquet(
                self.store.generation_dir(g, "filter")
            )
            self.keys().distinct().write.mode("overwrite").parquet(
                self.store.generation_dir(g, "keys")
            )

        return self.store.compact(fold)


def maintain_seen_keys(
    stream_df: DataFrame, maintainer: SeenKeysMaintainer, checkpoint_dir: str
):
    """Wire a raw record stream into the maintainer (foreachBatch, same
    pattern as streaming/rollup.py:maintain_rollup). Each micro-batch is
    tagged against all history committed before it and appended; replays of
    a committed epoch are no-ops by the pointer discipline, so at-least-once
    delivery yields exactly-once state. Returns the started StreamingQuery."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda df, batch_id: maintainer.update(df, batch_id)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
