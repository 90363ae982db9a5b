"""Shared final-projection logic for batch queries and their streaming
serving twins.

The streaming maintainers (streaming/rollup.py) each claim their served
readout is bit-identical to the corresponding batch query (q93/q103/q104/
q107). That guarantee is STRUCTURAL here, not by convention: the batch
query and the serving view both call the single projection function below,
so the two expression trees cannot drift apart (the same discipline q105
established via ngram_containment_pairs).

Every function takes the maintained-state shape — which is also an
intermediate frame of the batch plan — and produces the final output
columns with one fixed IEEE expression order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# A/B variant assignment (q104 + ab_test_view)
#
# Knuth multiplicative hash, overflow-safe: the id is reduced mod 2^31
# BEFORE the multiply, so |residue * 2654435761| <= (2^31-1) * 2654435761
# ≈ 5.7e18 < int64 max (9.22e18). Without the reduction, user_id >= ~3.5e9
# silently wraps in Spark (non-ANSI) — a negative product makes `% 100`
# negative and every overflowed user lands in variant A — while DuckDB
# raises. Both engines' `%` is sign-of-dividend, so for NEGATIVE ids the
# inner `% 100` is negative too; the final `(+ 100) % 100` folds it into
# 0..99 so negative ids split ~50/50 like everyone else instead of all
# landing in variant A. The whole expression is reproducible cross-engine
# for ALL int64 ids, which is the point of a deterministic assignment at
# 100 TB re-ingest scale. (For user_id >= 0 the fold is the identity, so
# the round-8 assignment is unchanged.)
# ---------------------------------------------------------------------------

SQL_IS_A = (
    "CASE WHEN ((((user_id % 2147483648) * 2654435761) % 100) + 100) % 100 < 50 "
    "THEN 1 ELSE 0 END"
)


def variant_is_a(user_col: str = "user_id") -> Column:
    """1 if the id hashes into variant A, else 0 — the Spark twin of
    SQL_IS_A (textually identical arithmetic)."""
    reduced = F.col(user_col) % F.lit(2147483648)
    folded = ((reduced * F.lit(2654435761)) % 100 + 100) % 100
    return F.when(folded < 50, 1).otherwise(0)


# ---------------------------------------------------------------------------
# The q56 train/valid/test hash rule + the q124 cluster-granular assignment
# tail — housed here (not in plans/) because serving views reuse them:
# cluster_split_view (streaming/cc_index.py) over maintained CC labels and
# the batch q124/q56 call the same expression trees (§8.27).
# ---------------------------------------------------------------------------


def sql_bucket(col: str) -> str:
    """First 8 hex chars of md5(col) as an integer mod 100 — DuckDB side."""
    return (
        f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
    )


def sql_split(col: str) -> str:
    b = sql_bucket(col)
    return f"CASE WHEN {b} < 90 THEN 'train' WHEN {b} < 95 THEN 'valid' ELSE 'test' END"


def split_of(c: Column) -> Column:
    """The q56 split rule as a Spark expression over ANY integer key —
    shared by q56 (doc-granular), q124 (cluster-granular), and the
    streaming cluster_split_view, so the split surfaces cannot drift."""
    bucket = (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("bigint")
        % 100
    )
    return F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")


def cluster_split_assign(docs: DataFrame, labels: DataFrame | None) -> DataFrame:
    """q124's per-doc cluster-granular split assignment from ANY
    (id, component) label table: (doc_id, tc, cluster_id, is_dup,
    split_c, split_d). The batch query passes
    connected_components(pairs); the serving twin passes
    ComponentsMaintainer.labels() (streaming/cc_index.py) — ONE
    expression tree, so served assignments equal batch bit-exactly
    whenever the label tables agree (which tests/test_cc_index.py gates
    after every batch). `labels` None/empty → every doc is a singleton
    cluster of itself. NOTE the serving caveat (documented, by design):
    labels only ever DECREASE as edges arrive, so a doc's cluster id —
    and therefore its split — can change when components merge;
    production pins splits at release cuts, it does not stream them."""
    from mapreduce_paper_implementation_spark.functions.text import token_count

    return cluster_split_assign_from_tc(
        docs.select("doc_id", token_count("text").alias("tc")), labels
    )


def cluster_split_assign_from_tc(
    base: DataFrame, labels: DataFrame | None
) -> DataFrame:
    """cluster_split_assign from a precomputed (doc_id, tc) frame — the
    entry streaming/release_view.py uses (its doc-meta state stores tc at
    ingest, so the view never re-tokenizes the corpus). Same expression
    tree as cluster_split_assign: the batch path is a thin wrapper."""
    if labels is None:
        labeled = base.select(
            "doc_id", "tc", F.col("doc_id").alias("cluster_id"),
            F.lit(False).alias("is_dup"),
        )
    else:
        labeled = base.join(labels, F.col("doc_id") == F.col("id"), "left").select(
            "doc_id",
            "tc",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            F.col("id").isNotNull().alias("is_dup"),
        )
    return labeled.withColumn("split_c", split_of(F.col("cluster_id"))).withColumn(
        "split_d", split_of(F.col("doc_id"))
    )


def ab_readout(u: DataFrame) -> DataFrame:
    """From a per-user frame with (user_id, conv) — conv already the 0/1
    conversion flag — to q104's single-row readout: BIGINT variant
    counters, 6dp rates, and the pooled two-proportion z (4dp, NULL-guarded
    when conversions are all or none)."""
    s = u.select(variant_is_a("user_id").alias("is_a"), "conv").agg(
        F.sum("is_a").cast("long").alias("n_a"),
        F.sum(F.col("is_a") * F.col("conv")).cast("long").alias("conv_a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("n_b"),
        F.sum((1 - F.col("is_a")) * F.col("conv")).cast("long").alias("conv_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ra = F.col("conv_a") / na
    rb = F.col("conv_b") / nb
    p = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b")).cast(
        "double"
    )
    z = (ra - rb) / F.sqrt(
        p
        * (F.lit(1.0) - p)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    nc = F.col("conv_a") + F.col("conv_b")
    z_guarded = F.when(
        (nc == 0) | (nc == F.col("n_a") + F.col("n_b")), F.lit(None).cast("double")
    ).otherwise(F.round(z, 4))
    return s.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        z_guarded.alias("z_score"),
    )


# ---------------------------------------------------------------------------
# KL drift readout (q93 + source_bins_maintainer)
# ---------------------------------------------------------------------------


def kl_readout(state: DataFrame) -> DataFrame:
    """q93's output (source, n_docs, kl_vs_corpus) from a (source, bin, c)
    count frame. The bin marginal and grand total are O(bins)/O(1) frames
    BROADCAST onto the counts; ROUND(,4) absorbs float addition order."""
    st = state.groupBy("source").agg(F.sum("c").alias("tot"))
    cc = state.groupBy("bin").agg(F.sum("c").alias("cq"))
    g = state.agg(F.sum("c").alias("gt"))
    p = F.col("c").cast("double") / F.col("tot").cast("double")
    qd = F.col("cq").cast("double") / F.col("gt").cast("double")
    return (
        state.join(F.broadcast(st), "source")
        .join(F.broadcast(cc), "bin")
        .crossJoin(F.broadcast(g))
        .groupBy("source", "tot")
        .agg(F.round(F.sum(p * F.log(p / qd)), 4).alias("kl_vs_corpus"))
        .select("source", F.col("tot").cast("long").alias("n_docs"), "kl_vs_corpus")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Adaptive quality threshold (q103 + quality_hist_maintainer)
# ---------------------------------------------------------------------------


def quartile_threshold(hist: DataFrame) -> DataFrame:
    """The exact per-source bottom-quartile cut from a (source, q, c) score
    histogram: t = smallest q with running count >= n//4 + 1 (boundary ties
    all kept — no interpolation, no float-ulp divergence). Returns
    (source, threshold, n_total). The window runs over the BOUNDED
    histogram (#sources x 1e6+1 rows max), never per-doc."""
    cnt = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    w = Window.partitionBy("source").orderBy("q").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select("source", "q", F.sum("c").over(w).alias("cum"))
    return (
        cum.join(F.broadcast(cnt), "source")
        .where(F.col("cum") >= F.expr("n div 4") + 1)
        .groupBy("source")
        .agg(F.min("q").alias("threshold"), F.max("n").alias("n_total"))
    )


def adaptive_threshold_from_hist(state: DataFrame) -> DataFrame:
    """q103's output shape (source, threshold, n_total, n_kept, avg_kept)
    entirely from the (source, q, c) histogram: kept mass and its mean come
    from sum(c) / sum(q*c)/sum(c) over kept bins — equal to the batch
    per-doc mean well under the ROUND(,4) grain, since q is already rounded
    to 6dp and grouping identical values changes only float addition
    order."""
    thr = quartile_threshold(state)
    return (
        state.join(F.broadcast(thr), "source")
        .where(F.col("q") >= F.col("threshold"))
        .groupBy("source", "threshold", "n_total")
        .agg(
            F.sum("c").cast("long").alias("n_kept"),
            F.round(
                F.sum(F.col("q") * F.col("c").cast("double"))
                / F.sum("c").cast("double"),
                4,
            ).alias("avg_kept"),
        )
        .select("source", "threshold", "n_total", "n_kept", "avg_kept")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Shared STATE-SHAPE builders — the head expressions, not just the tails.
# A maintainer's state_fn and the batch query's first aggregation must be
# the same expression tree too, or an edit to one silently breaks the
# served == batch contract until the differential test runs.
# ---------------------------------------------------------------------------

DAY_US = 86_400_000_000


def postings_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) postings from a documents frame — q111's head
    and postings_maintainer's state_fn."""
    from mapreduce_paper_implementation_spark.functions.text import tokens

    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def day_cent_hist(events: DataFrame) -> DataFrame:
    """(day_num, cent, c) per-day value histogram from an events frame —
    q112's head and day_value_hist_maintainer's state_fn."""
    return (
        events.select(
            F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_num"),
            F.round(F.col("value") * 100).cast("long").alias("cent"),
        )
        .groupBy("day_num", "cent")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval readout (q111 + bm25_view)
# ---------------------------------------------------------------------------


def bm25_readout(
    tf: DataFrame, k1: float = 1.2, b: float = 0.75, top: int = 10
) -> DataFrame:
    """q111's output (doc_id, score) from a (doc_id, term, tf) postings
    frame — which is also the streaming postings_maintainer's state shape,
    so batch and served retrieval share this one expression tree.

    Everything derives from the postings: dl = per-doc token count, corpus
    stats (N, sum dl) a single-row broadcast, the query = the 5
    mid-frequency terms (df ranks 10-14, total order by (df DESC, term)).
    Only the global top-14 is ever needed, so the term pick is
    `orderBy(...).limit(14)` — TakeOrderedAndProject, a parallel per-
    partition heap + 14-row driver merge — and the rank-10..14 filter runs
    over that 14-row result. The vocabulary aggregate is NEVER sorted in
    one task: a corpus-sized vocab (~1e8 distinct tokens at 100 TB of
    text) through an unpartitioned window was this function's one scale
    bug, found by the round-8 plan audit. Okapi BM25 summed per doc (<= 5
    ln-terms, ROUND(,4)), top-`top` by the rounded score with doc_id
    tiebreak."""
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    top14 = dfreq.orderBy(F.col("df").desc(), "term").limit(14)
    w = Window.orderBy(F.col("df").desc(), "term")  # input is 14 rows, bounded
    qterms = (
        top14.select("term", "df", F.row_number().over(w).alias("r"))
        .where(F.col("r") >= 10)
        .select("term", "df")
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    nd = F.col("n_docs").cast("double")
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    avgdl = F.col("sum_dl").cast("double") / nd
    idf = F.log(F.lit(1.0) + (nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)))
    contrib = (
        idf
        * (tfd * F.lit(k1 + 1.0))
        / (tfd + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * (dld / avgdl)))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(top)
    )


# ---------------------------------------------------------------------------
# Histogram-decile readout (q110 + ntile_view)
# ---------------------------------------------------------------------------


def tile_decile_readout(assigned: DataFrame) -> DataFrame:
    """q110's output (event_type, tile, n, min_value, max_value) from a
    tile-assigned events frame (operators/incremental.py:
    tile_assign_via_hist) — shared by the batch query and the streaming
    ntile_view (streaming/rollup.py), so served == batch structurally.
    The aggregate is bounded: #types x n_tiles rows."""
    return (
        assigned.groupBy("event_type", "tile")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type", "tile")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day p95 readout (q112 + day_value_hist_maintainer)
# ---------------------------------------------------------------------------


def rolling_p95_readout(h: DataFrame, window_days: int = 7) -> DataFrame:
    """q112's output (day_num, n_events_7d, p95) from a (day_num, cent, c)
    per-day value histogram — which is also the streaming
    day_value_hist_maintainer's state shape, so batch and served monitoring
    share this one expression tree.

    Each histogram row contributes to <= window_days target days (bounded
    fan-out on the HISTOGRAM, never the events); the rank rule is
    integer-exact (t = ceil(0.95 n) = (19n+19) div 20, p95 = min cent with
    cum >= t); the only float is the final cents/100 division.

    Both histograms are persisted: h feeds two consumers (max-day, the
    expansion) and hh feeds two (day totals, the cumsum) — without the
    persists each consumer replays the events scan (the q97 lesson; at
    100 TB that is 4 corpus scans instead of 1). Both frames are bounded
    by days x bins, so the cache cost is trivial."""
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    h = scoped_persist(h)
    mx = h.agg(F.max("day_num").alias("max_day"))
    hh = scoped_persist(
        h.select(
            F.explode(
                F.sequence(F.col("day_num"), F.col("day_num") + (window_days - 1))
            ).alias("target_day"),
            "cent",
            "c",
        )
        .crossJoin(F.broadcast(mx))
        .where(F.col("target_day") <= F.col("max_day"))
        .groupBy("target_day", "cent")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    cnt = hh.groupBy("target_day").agg(F.sum("c").cast("long").alias("n"))
    w = Window.partitionBy("target_day").orderBy("cent").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hh.select("target_day", "cent", F.sum("c").over(w).alias("cum"))
    return (
        cum.join(F.broadcast(cnt), "target_day")
        .where(F.col("cum") >= F.expr("(19 * n + 19) div 20"))
        .groupBy("target_day", "n")
        .agg(F.min("cent").alias("p95_cents"))
        .select(
            F.col("target_day").alias("day_num"),
            F.col("n").alias("n_events_7d"),
            (F.col("p95_cents").cast("double") / F.lit(100.0)).alias("p95"),
        )
        .orderBy("day_num")
    )


# ---------------------------------------------------------------------------
# Sliding 7-day distinct users readout (q96 + user_day_maintainer)
# ---------------------------------------------------------------------------


def user_day_frame(events: DataFrame) -> DataFrame:
    """The distinct (user_id, day_num) frame — q96's head and
    user_day_maintainer's state_fn (streaming/rollup.py). This is the
    state every DAU/WAU system actually maintains: bounded by active
    users x days, independent of raw event volume, and IDEMPOTENT under
    re-ingest (set union, not counter addition — feeding the same events
    twice cannot corrupt it, unlike the additive-count maintainers)."""
    return events.select(
        "user_id", F.expr(f"unix_micros(ts) div {DAY_US}").alias("day_num")
    ).distinct()


def sliding_distinct_readout(du: DataFrame, window_days: int = 7) -> DataFrame:
    """q96's output (target_day, users_7d) from a distinct (user_id,
    day_num) frame — which is also user_day_maintainer's state shape, so
    batch and served engagement series share this one expression tree.
    Contribution expansion: each (user, day) feeds the `window_days`
    windows ending d..d+window_days-1 (bounded fan-out of the already-
    deduplicated frame — never a per-day history rescan, never a range
    self-join), then one partial-agg count-distinct per target day.

    du is persisted: it feeds two consumers (max-day, the expansion) and
    without the persist each replays the events scan + distinct (the q97
    lesson; at 100 TB that is 2 corpus scans instead of 1)."""
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    du = scoped_persist(du)
    mx = du.agg(F.max("day_num").alias("max_day"))
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day_num"), F.col("day_num") + (window_days - 1))
        ).alias("target_day"),
    )
    return (
        contrib.crossJoin(F.broadcast(mx))
        .where(F.col("target_day") <= F.col("max_day"))
        .groupBy("target_day")
        .agg(F.count_distinct("user_id").cast("long").alias("users_7d"))
        .orderBy("target_day")
    )


# ---------------------------------------------------------------------------
# Per-source vocabulary HLL sketch (q114 + hll_vocab_maintainer)
#
# A third maintained-state ALGEBRA next to the counter monoids (postings,
# day/cent histograms) and the set union (user_day): the Apache
# DataSketches HLL register array, merged by element-wise register MAX —
# a join-semilattice, so merge is associative, commutative, AND
# idempotent: overlapping re-ingest, replays, and any batch partitioning
# all produce bit-identical registers (sketch(A) ∪ sketch(B) ==
# sketch(A ∪ B) exactly, not approximately). State is O(sources x 2^lgK)
# bytes regardless of corpus size.
# ---------------------------------------------------------------------------


def vocab_sketch_frame(docs: DataFrame, lg_k: int = 12) -> DataFrame:
    """(source, sketch) — per-source HLL sketch of the token vocabulary:
    q114's internal estimate path and hll_vocab_maintainer's state_fn."""
    from mapreduce_paper_implementation_spark.functions.text import tokens

    return (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source")
        .agg(F.hll_sketch_agg("tok", F.lit(lg_k)).alias("sketch"))
    )


def hll_estimate_readout(state: DataFrame) -> DataFrame:
    """(source, n_distinct_est) from (source, sketch) state — shared by
    q114's bracket check and hll_vocab_maintainer's serving, so batch and
    served estimates are the SAME register readout."""
    return state.select(
        "source",
        F.hll_sketch_estimate("sketch").cast("long").alias("n_distinct_est"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Benford first-digit readout (q107 + digit_counts_maintainer)
# ---------------------------------------------------------------------------


def benford_readout(state: DataFrame) -> DataFrame:
    """q107's output from a (event_type, digit, cnt) count frame: observed
    vs Benford expected frequency and the per-type chi-square, via a window
    over the bounded 9-rows-per-type aggregate."""
    wt = Window.partitionBy("event_type")
    n = F.sum("cnt").over(wt)
    exp_freq = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    t = state.select(
        "event_type", "digit", "cnt", n.alias("n"), exp_freq.alias("exp_freq")
    )
    dev = F.col("cnt").cast("double") - F.col("n").cast("double") * F.col("exp_freq")
    chi2 = F.sum(dev * dev / (F.col("n").cast("double") * F.col("exp_freq"))).over(wt)
    return (
        t.select(
            "event_type",
            "digit",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n").cast("double"), 6).alias(
                "obs_freq"
            ),
            F.round("exp_freq", 6).alias("benford_freq"),
            F.round(chi2, 4).alias("chi2"),
        )
        .orderBy("event_type", "digit")
    )


# ---------------------------------------------------------------------------
# Continuous-value frame (q120 + quantile_sketch_maintainer)
#
# The rank-sketch scenario needs a value column with UNBOUNDED precision —
# the whole point is that no round-then-histogram bin domain exists (the
# q80/q110/q112 trick assumes cents / round-6 scores). events.value alone
# is cents-grained, so the scenario derives v = value + user_id/97: a
# deterministic, engine-identical IEEE computation (one divide, one add —
# both engines bit-agree) whose fractional part is dense enough that no
# bounded histogram could carry it exactly.
# ---------------------------------------------------------------------------

SQL_CONTINUOUS_V = "(value + CAST(user_id AS DOUBLE) / CAST(97 AS DOUBLE))"


def continuous_value_frame(events: DataFrame) -> DataFrame:
    """(event_type, v DOUBLE) — shared by batch q120 and the streaming
    quantile_sketch_maintainer's state_fn, so batch and served sketches
    summarize the IDENTICAL value stream."""
    return events.select(
        "event_type",
        (F.col("value") + F.col("user_id").cast("double") / F.lit(97).cast("double")).alias("v"),
    )
