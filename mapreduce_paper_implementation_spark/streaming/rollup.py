"""Streaming continuous-aggregate maintenance: the foreachBatch twin of
operators/incremental.py.

Each micro-batch is a delta; the maintainer folds it into a durable state
table (exact decimal count/sum, min/max, HLL user sketch per (bucket, key))
so the serving-side rollup is always one cheap `finalize_rollup` away and
raw history is never re-read. This is the streaming half of the same
contract q69 gates in batch.

Exactly-once without a transactional store: batch N writes its merged
state to a new full-state version and commits it by moving the pointer
(layout and commit rule: statedir.py). A replay of batch N sees the pointer
already >= N and SKIPS — merging twice would double-count, so idempotence
comes from the version check, not from the merge.

State size is |buckets| x |keys| regardless of stream volume, so the
per-batch maintenance job is O(|state| + |delta|) — at 100 TB/day the delta
aggregation dominates and history cost stays constant. Old versions are
left for time travel/debugging until `vacuum` drops them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreduce_paper_implementation_spark.operators.incremental import (
    merge_states,
    rollup_state,
)
from mapreduce_paper_implementation_spark.statedir import VersionedStateDir


class RollupMaintainer:
    """Durable (bucket, key) rollup state under `state_dir`, updated one
    micro-batch at a time via `update` (a foreachBatch callback).

    The versioned-state/atomic-pointer machinery is state-shape-agnostic:
    pass `state_fn` (delta -> mergeable state frame) and `merge_fn`
    (state, state -> state) to maintain any associative state under the
    same exactly-once discipline — `histogram_maintainer` below uses this
    for the q80 quantile-sketch state (operators/incremental.py §3)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        bucket_s: int = 3600,
        state_fn=None,
        merge_fn=None,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.bucket_s = bucket_s
        self._state_fn = state_fn or (
            lambda delta: rollup_state(delta, bucket_s=self.bucket_s)
        )
        self._merge_fn = merge_fn or merge_states
        self.store = VersionedStateDir(state_dir)

    # -- state ------------------------------------------------------------
    def current_state(self) -> DataFrame | None:
        v = self.store.pointer()
        if v is None:
            return None
        return self.spark.read.parquet(self.store.version_dir(v))

    def update(self, delta: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch of raw events into the state. Idempotent
        under foreachBatch replay: a batch id at or below the committed
        version is a no-op."""
        from mapreduce_paper_implementation_spark.operators.caching import (
            persist_scope,
        )

        committed = self.store.pointer()
        if committed is not None and committed >= batch_id:
            return
        # persist_scope: the parquet write below materializes the whole
        # fold, so any frame a state_fn scoped_persist-ed (e.g. the
        # replace maintainer's collapsed delta) has paid off by the end
        # of this method — release it here instead of leaking one cache
        # entry per batch into the global registry (ADVICE r09).
        with persist_scope():
            state = self._state_fn(delta)
            prev = self.current_state()
            if prev is not None:
                state = self._merge_fn(prev, state)
            state.write.mode("overwrite").parquet(self.store.version_dir(batch_id))
        self.store.commit(batch_id, publish=[self.store.version_dir(batch_id)])

    def vacuum(self, keep: int = 1) -> list[int]:
        """Drop superseded state versions (statedir.py's vacuum rule).
        Returns the removed version numbers."""
        return self.store.vacuum(keep)


def histogram_maintainer(
    spark: SparkSession,
    state_dir: str,
    group_cols=("event_type",),
    value_col: str = "value",
    inv_width: int = 4,
) -> RollupMaintainer:
    """Streaming twin of the q80 histogram-quantile sketch: maintains the
    (group..., bin, cnt) state from operators/incremental.py §3 under the
    versioned exactly-once discipline above. Serving side is
    `quantiles_from_hist(maintainer.current_state(), ...)` — always one
    cheap interpolation away, raw history never re-read; state size is
    O(groups x value_range/width) regardless of stream volume."""
    from mapreduce_paper_implementation_spark.operators.incremental import (
        hist_state,
        merge_hist_states,
    )

    gc = list(group_cols)
    return RollupMaintainer(
        spark,
        state_dir,
        state_fn=lambda delta: hist_state(delta, gc, value_col, inv_width),
        merge_fn=lambda a, b: merge_hist_states([a, b], gc),
    )


def ntile_view(
    state: DataFrame,
    df: DataFrame,
    group_cols=("event_type",),
    value_col: str = "value",
    n_tiles: int = 10,
    inv_width: int = 4,
) -> DataFrame:
    """Tile assignment for `df` from MAINTAINED histogram state — the
    streaming serving twin of q110 under distribution drift (VERDICT r08
    ask #8). Cutpoints are re-derived from the state each call
    (tile_cutpoints_from_hist inside tile_assign_via_hist, the SAME
    function the batch query runs), so a late batch that shifts a group's
    distribution MOVES the cut bins and re-tiles already-served rows —
    which a per-batch-only assigner would never revisit. State is
    O(groups x bins); no events history is re-read. Aggregate with
    serving.tile_decile_readout for q110's exact output shape."""
    from mapreduce_paper_implementation_spark.operators.incremental import (
        tile_assign_via_hist,
    )

    return tile_assign_via_hist(
        df,
        list(group_cols),
        value_col,
        n_tiles=n_tiles,
        inv_width=inv_width,
        hist=state,
    )


def maintain_rollup(
    events_stream: DataFrame, maintainer: RollupMaintainer, checkpoint_dir: str
):
    """Wire a raw event stream into the maintainer. Returns the started
    StreamingQuery; callers drive it (processAllAvailable in tests, just
    run in production)."""
    return (
        events_stream.writeStream.foreachBatch(
            lambda df, batch_id: maintainer.update(df, batch_id)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def qi_counts_maintainer(
    spark: SparkSession, state_dir: str
) -> RollupMaintainer:
    """Streaming twin of q92's k-anonymity audit: maintains the
    quasi-identifier group counts (user bucket-of-10, event_type,
    hour-of-day) -> n from per-batch deltas. Counts are purely additive, so
    the generic versioned RollupMaintainer applies unchanged; state size is
    bounded by the QI domain (buckets x types x 24), never stream volume.
    Serving side: `k_anonymity_view(maintainer.current_state(), k)` flags
    suppressible groups without touching raw history — and a group that was
    below k yesterday can flip to kept as deltas accumulate, which a
    per-batch-only audit would miss."""
    from pyspark.sql import functions as F

    day_us = 86_400 * 1_000_000
    hour_us = 3600 * 1_000_000

    def state_fn(delta: DataFrame) -> DataFrame:
        return (
            delta.select(
                (F.expr("user_id div 10") * 10).cast("long").alias("user_bucket"),
                "event_type",
                F.expr(f"unix_micros(ts) % {day_us} div {hour_us}")
                .cast("long")
                .alias("hour_of_day"),
            )
            .groupBy("user_bucket", "event_type", "hour_of_day")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    def merge_fn(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("user_bucket", "event_type", "hour_of_day")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    return RollupMaintainer(spark, state_dir, state_fn=state_fn, merge_fn=merge_fn)


def k_anonymity_view(state: DataFrame, k: int = 5) -> DataFrame:
    """q92's output shape over maintained QI state."""
    from pyspark.sql import functions as F

    return (
        state.withColumn("kept", F.col("n") >= k)
        .orderBy("user_bucket", "event_type", "hour_of_day")
    )


def source_bins_maintainer(
    spark: SparkSession, state_dir: str, bin_chars: int = 50
) -> RollupMaintainer:
    """Streaming twin of q93's source-drift monitor: maintains the
    (source, length-bin) -> c counts from per-batch document deltas
    (additive, O(sources x bins) state). Serving side:
    `kl_from_bins(maintainer.current_state())` recomputes the per-source KL
    divergence against the corpus marginal from the state alone — the drift
    dashboard updates per ingest without re-reading any document."""
    from pyspark.sql import functions as F

    def state_fn(delta: DataFrame) -> DataFrame:
        return (
            delta.groupBy(
                "source", (F.expr(f"n_chars div {bin_chars}") * bin_chars).alias("bin")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    def merge_fn(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b).groupBy("source", "bin").agg(F.sum("c").cast("long").alias("c"))
        )

    return RollupMaintainer(spark, state_dir, state_fn=state_fn, merge_fn=merge_fn)


def kl_from_bins(state: DataFrame) -> DataFrame:
    """q93's output shape (source, n_docs, kl_vs_corpus) from maintained
    (source, bin, c) state — the batch query and this view call the SAME
    kl_readout (operators/serving.py), so served == one-shot structurally,
    not by convention."""
    from mapreduce_paper_implementation_spark.operators.serving import kl_readout

    return kl_readout(state)


def quality_hist_maintainer(spark: SparkSession, state_dir: str) -> RollupMaintainer:
    """Streaming twin of q103's adaptive quality threshold: maintains the
    (source, rounded-6 quality score) -> c histogram from per-batch document
    deltas. Scores are bounded-precision, so the state is bounded by
    #sources x 1e6+1 REGARDLESS of ingest volume — the same property the
    batch query exploits to avoid a per-doc sort. Counts are additive, so
    the generic versioned RollupMaintainer applies unchanged. Serving side:
    `adaptive_threshold_view(maintainer.current_state())` re-derives the
    exact per-source bottom-quartile cut from the histogram alone — and a
    cut moves as ingest shifts a source's score distribution, which a
    per-batch-only filter would never revisit."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.text_analysis import (
        quality_score,
    )

    def state_fn(delta: DataFrame) -> DataFrame:
        return (
            delta.select(
                "source",
                F.round(quality_score("text", "n_chars"), 6)
                .cast("decimal(9,6)")
                .cast("double")
                .alias("q"),
            )
            .groupBy("source", "q")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    def merge_fn(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b).groupBy("source", "q").agg(F.sum("c").cast("long").alias("c"))
        )

    return RollupMaintainer(spark, state_dir, state_fn=state_fn, merge_fn=merge_fn)


def adaptive_threshold_view(state: DataFrame) -> DataFrame:
    """q103's output shape (source, threshold, n_total, n_kept, avg_kept)
    from maintained (source, q, c) state. The selection rule is the SAME
    quartile_threshold the batch query calls (operators/serving.py); the
    kept mass/mean come from the histogram (see
    adaptive_threshold_from_hist for the ROUND-grain equivalence
    argument)."""
    from mapreduce_paper_implementation_spark.operators.serving import (
        adaptive_threshold_from_hist,
    )

    return adaptive_threshold_from_hist(state)


def ab_counters_maintainer(spark: SparkSession, state_dir: str) -> RollupMaintainer:
    """Streaming twin of q104's A/B readout: maintains per-user
    (n_events, n_purchases) counters from event deltas — O(#users) state,
    purely additive. The per-user counters, not the four variant totals,
    are the state: conversion is a RATIO threshold (purchase share >= 20%),
    so a new batch can flip a user's conversion either way — variant totals
    are not a monoid, the user counters are. Serving side:
    `ab_test_view(maintainer.current_state())` re-derives assignment,
    conversion, and the pooled z from state alone."""
    from pyspark.sql import functions as F

    def state_fn(delta: DataFrame) -> DataFrame:
        return delta.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
        )

    def merge_fn(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("n_purchases").cast("long").alias("n_purchases"),
            )
        )

    return RollupMaintainer(spark, state_dir, state_fn=state_fn, merge_fn=merge_fn)


def ab_test_view(state: DataFrame) -> DataFrame:
    """q104's single-row output from maintained per-user counters: the
    conversion flag is re-derived from the (n_events, n_purchases)
    counters, then the SAME ab_readout the batch query calls
    (operators/serving.py — Knuth-hash assignment, BIGINT counters,
    pooled z) produces the readout, so served == batch structurally."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.serving import ab_readout

    u = state.select(
        "user_id",
        F.when(5 * F.col("n_purchases") >= F.col("n_events"), 1)
        .otherwise(0)
        .alias("conv"),
    )
    return ab_readout(u)


def postings_maintainer(spark: SparkSession, state_dir: str) -> RollupMaintainer:
    """Streaming twin of q111's retrieval index: maintains the
    (doc_id, term, tf) postings table from per-batch document deltas —
    term frequencies are purely additive, so the generic versioned
    RollupMaintainer applies unchanged (replayed batches no-op via
    versioning). PRECONDITION: batches must partition docs disjointly —
    each doc_id appears in exactly one batch. Additive merge SUMS tf per
    (doc_id, term), so feeding the same doc twice (a re-crawl) would
    double its tf/dl and inflate df relative to batch q111 over the
    deduped corpus; re-crawl pipelines must dedup upstream (q14/q70) or
    use a replace-semantics maintainer (max-version per doc), not this
    one. The differential test feeds disjoint batches, matching the
    contract. Everything BM25 needs — df,
    per-doc length, corpus N and total length — DERIVES from the postings,
    so the state is the one table real retrieval systems incrementally
    maintain. Serving side: `bm25_view(maintainer.current_state())`
    re-ranks from state alone — the corpus-derived query terms and the idf
    weights shift as ingest changes document frequencies, which a
    per-batch-only scorer would never revisit."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.serving import postings_frame

    def state_fn(delta: DataFrame) -> DataFrame:
        return postings_frame(delta)

    def merge_fn(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("doc_id", "term")
            .agg(F.sum("tf").cast("long").alias("tf"))
        )

    return RollupMaintainer(spark, state_dir, state_fn=state_fn, merge_fn=merge_fn)


def bm25_view(state: DataFrame) -> DataFrame:
    """q111's top-10 output from maintained (doc_id, term, tf) postings —
    the batch query and this view call the SAME bm25_readout
    (operators/serving.py), so served == one-shot structurally. Also
    serves postings_replace_maintainer state: the extra `ver` column is
    pruned and its term-NULL TOMBSTONE rows (a doc whose newest crawl has
    no tokens) are dropped — a tombstoned doc must be absent from dl/N/df
    like any token-less doc is in the batch query."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.serving import bm25_readout

    return bm25_readout(
        state.where(F.col("term").isNotNull()).select("doc_id", "term", "tf")
    )


def postings_replace_maintainer(
    spark: SparkSession, state_dir: str
) -> RollupMaintainer:
    """Re-crawl-safe retrieval index: postings with REPLACE semantics —
    per doc, the highest `crawl_ver` wins outright (the additive
    postings_maintainer requires doc-disjoint batches; this one does not).

    Deltas carry (doc_id, text, crawl_ver). PRECONDITION: (doc_id,
    crawl_ver) determines text uniquely — two DIFFERENT texts under one
    version is corrupt input (their posting rows cannot fold and both
    survive a version tie). state_fn first collapses the delta itself to
    each doc's newest version (a batch may legally contain two crawls of
    one doc), builds postings via the SAME postings_frame the batch query
    uses, and tags rows with the version. A version whose
    text yields NO tokens (page emptied/deleted) still emits a TOMBSTONE
    row (term NULL, tf 0) — without it the new version would contribute
    zero rows and max-version arbitration would resurrect the doc's stale
    postings forever. merge_fn keeps, per doc, the rows whose ver equals
    the max across old+new — so a re-crawl REPLACES the doc's postings
    (tf/dl/df reflect only the current text), and a LATE batch carrying
    an OLDER crawl of a doc is a no-op for that doc (max-version
    arbitration, not arrival order). Serving: bm25_view(state) — its
    term-NOT-NULL filter drops tombstones, so a tombstoned doc is absent
    from every corpus statistic (dl/N/df), exactly like batch q111
    excludes token-less docs (postings_frame emits nothing for them).

    Scale shape: the max-version arbitration is a partial-aggregable
    groupBy(doc_id).max(ver) + an equi-join on (doc_id, ver) — O(state),
    no windows; state stays one row per (current-version doc, term)."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.serving import postings_frame

    def _latest(u: DataFrame) -> DataFrame:
        # single-pass arbitration: a per-doc window MAX + filter consumes
        # the input ONCE (one doc_id shuffle) — the groupBy+self-join form
        # evaluated its lazy input twice per call, compounding to 2-4
        # re-evaluations of the delta collapse per update() (the q97
        # multi-consumer recompute class, review r9)
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id")
        return (
            u.withColumn("_mx", F.max("ver").over(w))
            .where(F.col("ver") == F.col("_mx"))
            .drop("_mx")
        )

    def state_fn(delta: DataFrame) -> DataFrame:
        from mapreduce_paper_implementation_spark.operators.caching import (
            scoped_persist,
        )

        # distinct: a duplicated (doc, ver) row in one delta must not
        # double tf through postings_frame's count.
        # scoped_persist: `newest` feeds TWO lazy consumers (the version
        # map and postings_frame) — without the persist the window
        # collapse + distinct over the delta evaluates once per consumer
        # (the q97 recompute class, ADVICE r09). update()'s persist_scope
        # releases it once the state write materializes.
        newest = scoped_persist(
            _latest(
                delta.select("doc_id", "text", F.col("crawl_ver").alias("ver"))
            ).distinct()
        )
        vers = newest.select("doc_id", "ver").distinct()
        # LEFT join from the version map: a token-less version still emits
        # its tombstone row (term NULL, tf 0) so the new version WINS the
        # max-ver arbitration instead of vanishing
        return vers.join(postings_frame(newest), "doc_id", "left").select(
            "doc_id",
            "term",
            F.coalesce("tf", F.lit(0)).cast("long").alias("tf"),
            "ver",
        )

    def merge_fn(a: DataFrame, b: DataFrame) -> DataFrame:
        # distinct: the same (doc, ver) re-ingested under a NEW batch id
        # yields bit-identical posting rows — set semantics fold them, so
        # overlapping re-ingest is exact here too (like user_day_maintainer)
        return _latest(a.unionByName(b)).distinct()

    return RollupMaintainer(spark, state_dir, state_fn=state_fn, merge_fn=merge_fn)


def day_value_hist_maintainer(spark: SparkSession, state_dir: str) -> RollupMaintainer:
    """Streaming twin of q112's rolling p95: maintains the (day_num, cent)
    -> c value histogram from event deltas — additive, state bounded by
    #days x value domain (cents), independent of event volume. Serving
    side: `rolling_p95_view(maintainer.current_state())` re-derives every
    day's trailing-7-day exact p95 from state alone — late events for a
    past day fold into that day's bins and move the affected trailing
    windows, which a per-batch-only monitor would never revisit."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.serving import day_cent_hist

    def state_fn(delta: DataFrame) -> DataFrame:
        return day_cent_hist(delta)

    def merge_fn(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("day_num", "cent")
            .agg(F.sum("c").cast("long").alias("c"))
        )

    return RollupMaintainer(spark, state_dir, state_fn=state_fn, merge_fn=merge_fn)


def rolling_p95_view(state: DataFrame) -> DataFrame:
    """q112's output from maintained (day_num, cent, c) state — the batch
    query and this view call the SAME rolling_p95_readout
    (operators/serving.py), so served == one-shot structurally."""
    from mapreduce_paper_implementation_spark.operators.serving import (
        rolling_p95_readout,
    )

    return rolling_p95_readout(state)


def user_day_maintainer(spark: SparkSession, state_dir: str) -> RollupMaintainer:
    """Streaming twin of q96's engagement series: maintains the distinct
    (user_id, day_num) activity set from event deltas. Unlike the
    additive-count maintainers (whose correctness needs disjoint batches —
    see postings_maintainer's precondition), SET-UNION state is IDEMPOTENT:
    re-ingesting the same events, overlapping batches, late data for old
    days — all fold exactly. State is bounded by active users x days,
    independent of raw event volume (the frame every DAU/WAU system
    maintains). Serving: `sliding_distinct_view(maintainer.current_state())`
    re-derives every trailing-7-day distinct-user count from state alone —
    late events for an old day extend that day's user set and move the
    windows it feeds, which a per-batch-only counter would never revisit."""
    from mapreduce_paper_implementation_spark.operators.serving import user_day_frame

    def merge_fn(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.unionByName(b).distinct()

    return RollupMaintainer(
        spark, state_dir, state_fn=user_day_frame, merge_fn=merge_fn
    )


def sliding_distinct_view(state: DataFrame) -> DataFrame:
    """q96's output from maintained (user_id, day_num) state — the batch
    query and this view call the SAME sliding_distinct_readout
    (operators/serving.py), so served == one-shot structurally."""
    from mapreduce_paper_implementation_spark.operators.serving import (
        sliding_distinct_readout,
    )

    return sliding_distinct_readout(state)


def hll_vocab_maintainer(spark: SparkSession, state_dir: str) -> RollupMaintainer:
    """Streaming twin of q114's vocabulary audit: maintains one HLL
    sketch per source (Apache DataSketches, lgK=12) over the token
    stream. The state algebra is a register-max JOIN-SEMILATTICE —
    associative, commutative, and IDEMPOTENT — so overlapping re-ingest,
    replays under new batch ids, and any batch partitioning all converge
    to the registers of a one-shot sketch over the union: served
    estimates == batch estimates EXACTLY (shared hll_estimate_readout),
    not merely within error. State is O(sources x 2^lgK) bytes no matter
    how many tokens stream through — the bounded-state sibling of the
    exact user_day set (whose state grows with distinct keys)."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.serving import (
        vocab_sketch_frame,
    )

    def merge_fn(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("source")
            .agg(F.hll_union_agg("sketch").alias("sketch"))
        )

    return RollupMaintainer(
        spark, state_dir, state_fn=vocab_sketch_frame, merge_fn=merge_fn
    )


def hll_vocab_view(state: DataFrame) -> DataFrame:
    """q114's estimate path from maintained (source, sketch) state — the
    batch query and this view call the SAME hll_estimate_readout
    (operators/serving.py), so served == one-shot structurally."""
    from mapreduce_paper_implementation_spark.operators.serving import (
        hll_estimate_readout,
    )

    return hll_estimate_readout(state)


def digit_counts_maintainer(spark: SparkSession, state_dir: str) -> RollupMaintainer:
    """Streaming twin of q107's Benford audit: maintains (event_type,
    leading-digit) -> cnt from event deltas — additive, state bounded by
    #types x 9. Serving side: `benford_view(maintainer.current_state())`
    re-derives frequencies and the per-type chi-square; the forensic
    readout updates per ingest batch without re-scanning value history."""
    from pyspark.sql import functions as F

    def state_fn(delta: DataFrame) -> DataFrame:
        cents = F.round(F.col("value") * 100).cast("long")
        return (
            delta.select(
                "event_type",
                F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"),
            )
            .where(cents > 0)
            .groupBy("event_type", "digit")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    def merge_fn(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("event_type", "digit")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )

    return RollupMaintainer(spark, state_dir, state_fn=state_fn, merge_fn=merge_fn)


def benford_view(state: DataFrame) -> DataFrame:
    """q107's output shape from maintained (event_type, digit, cnt) state —
    the batch query and this view call the SAME benford_readout
    (operators/serving.py), so served == one-shot bit-for-bit (the counts
    are exact; every float derives from them the same way)."""
    from mapreduce_paper_implementation_spark.operators.serving import benford_readout

    return benford_readout(state)


def wordfreq_maintainer(spark: SparkSession, state_dir: str) -> RollupMaintainer:
    """Streaming twin of q115's training input: maintains the corpus
    (w, freq) word-type table as additive counter state from document
    deltas — the cheapest monoid in the inventory (one token-hash shuffle
    per batch, merge = partial-aggregable counter sum over state + batch,
    state bounded by vocabulary size under Heaps' law). PRECONDITION like
    the other additive maintainers: doc-disjoint batches (a re-sent doc
    would double its counts).

    Serving side: `bpe_view(maintainer.current_state(), n_merges)` retrains
    the merge table FROM STATE — the corpus is never re-read at retrain
    time, which is the whole point: tokenizer retraining after a day's
    ingest costs O(vocab x rounds), not O(corpus). Pair with
    streaming/policy.py's retrain triggers exactly like ann_index."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.tokenizer import word_freq

    def state_fn(delta: DataFrame) -> DataFrame:
        return word_freq(delta)

    def merge_fn(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b).groupBy("w").agg(F.sum("freq").cast("long").alias("freq"))
        )

    return RollupMaintainer(spark, state_dir, state_fn=state_fn, merge_fn=merge_fn)


def bpe_view(state: DataFrame, n_merges: int = 10) -> DataFrame:
    """q115's merge table from maintained (w, freq) state — the batch query
    and this view call the SAME bpe_merges_from_wordfreq, and the merge
    table is a pure deterministic function of exact integer counts, so
    served == batch BIT-exactly whenever the maintained counts equal the
    corpus counts (differentially gated after every batch in
    tests/test_counts_maintainers.py)."""
    from mapreduce_paper_implementation_spark.operators.tokenizer import (
        bpe_merges_from_wordfreq,
    )

    return bpe_merges_from_wordfreq(state, n_merges)


def unigram_view(
    state: DataFrame,
    vocab_size: int = 200,
    max_len: int = 4,
    em_rounds: int = 2,
) -> DataFrame:
    """q121's trained piece table from the SAME maintained (w, freq) state
    wordfreq_maintainer feeds bpe_view — one counter state serves BOTH
    tokenizer families' retrains. unigram_train is a pure deterministic
    function of exact integer word counts (every float inside derives from
    them identically on every run), so served == batch BIT-exactly whenever
    the maintained counts equal the corpus counts. Retrain-from-state cost
    is O(vocab x em_rounds), never O(corpus) — the corpus is not re-read."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.tokenizer import (
        unigram_train,
    )

    return unigram_train(
        state.select("w", F.col("freq").cast("long").alias("freq")),
        vocab_size=vocab_size,
        max_len=max_len,
        em_rounds=em_rounds,
    )


def greedy_segment_view(
    state: DataFrame,
    vocab_size: int = 200,
    max_len: int = 4,
    cand_factor: int = 4,
) -> DataFrame:
    """q122's segmented word-type table (w, subwords) from maintained
    (w, freq) state: rebuild the deterministic seed vocabulary
    (unigram_candidates) from the counters and greedy-segment the word
    types under it — the SAME two operators the batch query calls, so
    served segmentation == batch bit-exactly (strings and integers only).
    Like unigram_view this costs O(vocab), never O(corpus)."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.tokenizer import (
        greedy_segment,
        unigram_candidates,
    )

    wc = state.select("w", F.col("freq").cast("long").alias("freq"))
    vocab = unigram_candidates(
        wc, vocab_size=vocab_size, max_len=max_len, cand_factor=cand_factor
    )
    return greedy_segment(wc.select("w"), vocab, max_len=max_len)


def quantile_sketch_maintainer(
    spark: SparkSession, state_dir: str, k: int | None = None
) -> RollupMaintainer:
    """Streaming twin of q120's rank sketch: maintains one mergeable
    deterministic compactor sketch per event_type over the continuous
    value stream (operators/sketch.py:_QSketch — level capacity k, weight-
    exact: total sketch weight always equals the exact event count, which
    the differential test pins per batch). Unlike every other maintainer
    in this file the state is APPROXIMATE in rank (not in mass): merge is
    associative within the sketch's rank-error envelope rather than
    bit-identically, so the serving gate is the q34/q114-style bracket —
    served quantile estimates must sit within the error envelope of the
    exact order statistic — not bit-equality with batch. State is
    O(groups x k log n) REGARDLESS of stream volume: the bounded-state
    answer for value domains the exact histogram maintainers
    (histogram_maintainer, day_value_hist_maintainer) cannot bin.

    Serving side: `quantile_view(maintainer.current_state(), phis)` — an
    O(sketch) readout; no value history is ever re-read."""
    from mapreduce_paper_implementation_spark.operators.serving import (
        continuous_value_frame,
    )
    from mapreduce_paper_implementation_spark.operators.sketch import (
        _QSK_K,
        merge_quantile_states,
        quantile_sketch_state,
    )

    kk = k or _QSK_K
    return RollupMaintainer(
        spark,
        state_dir,
        state_fn=lambda delta: quantile_sketch_state(
            continuous_value_frame(delta), "event_type", "v", kk
        ),
        merge_fn=lambda a, b: merge_quantile_states(a, b, "event_type", kk),
    )


def quantile_view(state: DataFrame, phis: tuple[float, ...] = (0.5, 0.95, 0.99)) -> DataFrame:
    """(event_type, phi, est) from maintained sketch state — the same
    quantiles_from_sketch readout batch q120 runs, so served == batch
    structurally; accuracy is gated by the q120 bracket contract."""
    from mapreduce_paper_implementation_spark.operators.sketch import (
        quantiles_from_sketch,
    )

    return quantiles_from_sketch(state, "event_type", phis)
