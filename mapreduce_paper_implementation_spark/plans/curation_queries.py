"""Corpus-curation queries Q79+ — the second tranche of training-data
pipeline surface beyond plans/pipeline_queries.py: PII redaction audit,
mergeable histogram quantiles (q37's bounded-memory scale path), context-
window document chunking, bigram collocation mining, embedding outlier
audit, funnel attribution, retention cohorts, and exact substring-run
scrubbing.

Same contract as plans/queries.py (SURVEY.md §2D determinism rules): every
query is (spark, sf_dir) -> DataFrame with a DuckDB oracle string; inexact
columns are ROUND(..., k) double on both engines with identical IEEE
operation order; outputs fully sorted by key.

Provenance: the reference's Map/Reduce surface (mr/worker.go:32-33) is the
generalized capability; none exist as mrapps. All are SURVEY.md §2C
"north-star training-data pipeline" components, expressed Spark-first.

Round-13 split (VERDICT r12 ask #5): the tokenizer tranche (q115/q117/
q119/q121-q123/q128/q129) lives in plans/tokenizer_queries.py and the
release-cut tranche (q124-q127) in plans/release_queries.py — same
registry, byte-identical oracle strings (pinned across the move by the
registry snapshot). This module keeps q79-q114 plus the semantic/sketch
queries q116/q118/q120 and their shared CTE constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.functions.text import let, tokens
from mapreduce_paper_implementation_spark.operators.serving import (
    SQL_CONTINUOUS_V,
    SQL_IS_A,
    ab_readout,
)
from mapreduce_paper_implementation_spark.operators.text_analysis import (
    PII_PATTERNS,
    pii_count,
    scrub_pii,
    sql_stop_ratio,
    sql_tokens,
)
from mapreduce_paper_implementation_spark.plans.queries import query
from mapreduce_paper_implementation_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Q79 PII scrub audit — plant deterministic synthetic PII, scrub, hash-check.
#
# The fixture corpus is letters-only (no real PII), so the query PLANTS
# deterministic synthetic spans derived from doc_id — an email every 5th doc,
# a long id every 7th, a phone-shaped span every 11th — then runs the
# production scrub (operators/text_analysis.py:scrub_pii) and value-checks
# the scrubbed text via md5. This turns the previously pytest-only scrub
# operator into an oracle-gated manifest query: the DuckDB twin applies the
# IDENTICAL RE2/Java-compatible patterns in the identical order, so a single
# character of divergence (pattern semantics, replacement order, greedy-match
# behavior) hash-mismatches.
#
# Scale shape: map-only — regexp chains are pure codegen'd Column
# expressions; at 100 TB this is a rewrite pass with zero shuffles (the final
# ORDER BY is the manifest determinism rule, not part of the operator).
# Planted values derive from doc_id alone, so the scenario is collision-free
# at every gen_scale factor of the manifest replay.
# ---------------------------------------------------------------------------

_Q79_ORACLE = f"""
WITH planted AS (
  SELECT doc_id, source,
    text
    || CASE WHEN doc_id % 5 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' ref ' || CAST(100000000 + doc_id * 37 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
    AS t
  FROM documents
),
s1 AS (
  SELECT doc_id, source,
         len(regexp_extract_all(t, '{PII_PATTERNS["email"]}')) AS n1,
         regexp_replace(t, '{PII_PATTERNS["email"]}', '<PII>', 'g') AS t
  FROM planted
),
s2 AS (
  SELECT doc_id, source, n1,
         len(regexp_extract_all(t, '{PII_PATTERNS["phone"]}')) AS n2,
         regexp_replace(t, '{PII_PATTERNS["phone"]}', '<PII>', 'g') AS t
  FROM s1
),
s3 AS (
  SELECT doc_id, source, n1, n2,
         len(regexp_extract_all(t, '{PII_PATTERNS["digit_run"]}')) AS n3,
         regexp_replace(t, '{PII_PATTERNS["digit_run"]}', '<PII>', 'g') AS t
  FROM s2
)
SELECT doc_id, source,
       CAST(n1 + n2 + n3 AS BIGINT) AS n_spans,
       CAST(length(t) AS BIGINT) AS scrubbed_len,
       md5(t) AS scrubbed_md5
FROM s3
ORDER BY doc_id
"""


@query("q79_pii_scrub", _Q79_ORACLE)
def q79_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(""),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" ref "), (F.lit(100000000) + did * 37).cast("string")),
        ).otherwise(""),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call +1 (555) 010-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    return (
        docs.select("doc_id", "source", planted.alias("t"))
        .select(
            "doc_id",
            "source",
            pii_count("t").cast("long").alias("n_spans"),
            F.length(scrub_pii("t")).cast("long").alias("scrubbed_len"),
            F.md5(scrub_pii("t")).alias("scrubbed_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q80 histogram quantile sketch — q37's bounded-memory, mergeable scale path.
#
# q37's exact median/p90 needs the full sorted value set per group; at 100 TB
# that is a sort of the entire fact table. The sketch path bins values into
# fixed-width buckets (width 0.25, data-INdependent so partial histograms
# from any partition/batch merge by plain count addition — the same
# associative-state property as operators/incremental.py), then estimates
# the quantile by linear interpolation inside the target bucket. Memory is
# O(value_range / width) per group regardless of row count, the aggregation
# is one partial+final HashAggregate (map-side combine collapses each
# partition to its local histogram), and the tiny per-group histogram —
# never the raw values — crosses the shuffle.
#
# Determinism: bins and ranks are exact integers (rank = ceil via integer
# arithmetic, never 0.9*n in floating point — 0.9 has no exact double
# representation); the final interpolation is the identical IEEE expression
# on both engines over identical integer inputs, rounded to 4 decimals.
# pytest additionally brackets the estimate against q37's exact values
# (|est - exact| <= bin width).
# ---------------------------------------------------------------------------

_Q80_ORACLE = """
WITH hist AS (
  SELECT event_type, CAST(floor(value * 4) AS BIGINT) AS bin, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
  FROM hist
),
tot AS (SELECT event_type, SUM(cnt) AS n, COUNT(*) AS n_bins FROM hist GROUP BY 1),
tgt AS (
  SELECT event_type, 'p50' AS q, (n + 1) // 2 AS t FROM tot
  UNION ALL
  SELECT event_type, 'p90', (9 * n + 9) // 10 FROM tot
),
hit AS (
  SELECT g.event_type, g.q,
         CAST(ROUND(CAST(c.bin AS DOUBLE) * 0.25
                    + (0.25 * (g.t - (c.cum - c.cnt))) / c.cnt, 4)
              AS DECIMAL(18,4)) AS est
  FROM tgt g JOIN cum c
    ON c.event_type = g.event_type AND c.cum - c.cnt < g.t AND c.cum >= g.t
)
SELECT t.event_type,
       CAST(MAX(CASE WHEN h.q = 'p50' THEN h.est END) AS DOUBLE) AS med_est,
       CAST(MAX(CASE WHEN h.q = 'p90' THEN h.est END) AS DOUBLE) AS p90_est,
       CAST(MAX(t.n_bins) AS BIGINT) AS n_bins
FROM tot t JOIN hit h ON h.event_type = t.event_type
GROUP BY t.event_type
ORDER BY t.event_type
"""


def histogram_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantile_ranks,
    inv_width: int = 4,
) -> DataFrame:
    """(group, q, est, n_bins) histogram-interpolated quantile estimates.
    `quantile_ranks` is a list of (label, rank_sql) where rank_sql is an
    integer SQL expression over the group row count column `n` yielding the
    1-based target rank (use exact integer ceil arithmetic — `div`, never
    floating-point fractions). Thin composition of the mergeable state
    primitives in operators/incremental.py §3 (hist_state +
    quantiles_from_hist) — the SAME state the continuous-aggregate
    maintenance path carries, so the one-shot manifest query and the
    incremental path cannot drift (tests/test_round7_additions.py
    differential)."""
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist
    from mapreduce_paper_implementation_spark.operators.incremental import (
        hist_state,
        quantiles_from_hist,
    )

    # quantiles_from_hist consumes hist multiple times (cumsum, totals,
    # target-rank join) — persist the bounded histogram or each consumer
    # replays the corpus scan (plan audit: 3 scans -> 1)
    hist = scoped_persist(hist_state(df, [group_col], value_col, inv_width))
    return quantiles_from_hist(hist, [group_col], quantile_ranks, inv_width)


@query("q80_hist_quantile", _Q80_ORACLE)
def q80_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ranks = [
        ("p50", "(n + 1) div 2"),  # ceil(n/2), exact integer arithmetic
        ("p90", "(9 * n + 9) div 10"),  # ceil(9n/10)
    ]
    hq = histogram_quantiles(events, "event_type", "value", ranks)
    return (
        hq.groupBy("event_type")
        .agg(
            F.max(F.when(F.col("q") == "p50", F.col("est"))).cast("double").alias("med_est"),
            F.max(F.when(F.col("q") == "p90", F.col("est"))).cast("double").alias("p90_est"),
            F.max("n_bins").cast("long").alias("n_bins"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q81 context-window document chunking — the pre-tokenization sharding step
# that turns variable-length documents into fixed-window training chunks
# (64 tokens, stride 48 => 16-token overlap). Complements q59's greedy
# packing: packing concatenates SHORT sequences up to the context length,
# chunking splits LONG documents down to it.
#
# Chunk-count spec (deterministic, covers every token): a doc with n tokens
# yields c = 1 + ceil(max(n - 64, 0) / 48) chunks; chunk i starts at token
# 48*i (0-based) and takes min(64, n - start) tokens. The last chunk always
# reaches token n; starts never exceed n-16 for n > 64.
#
# Scale shape: map-only — tokenize, per-row explode of a c-element index
# sequence, slice + hash; no shuffle (final ORDER BY is the manifest rule).
# The chunk TEXT never needs to leave the operator in production (downstream
# tokenizers consume it in place); the manifest emits md5 so the oracle
# value-checks content without hashing megabytes through the driver.
# ---------------------------------------------------------------------------

_Q81_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS tk FROM documents
),
sized AS (
  SELECT doc_id, tk, len(tk) AS n,
         1 + (greatest(len(tk) - 64, 0) + 47) // 48 AS c
  FROM toks
),
idx AS (
  SELECT doc_id, tk, n, unnest(range(0, c)) AS i FROM sized
)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       CAST(least(64, n - 48 * i) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(list_slice(tk, 48 * i + 1, 48 * i + 64), ' ')) AS chunk_md5
FROM idx
ORDER BY doc_id, chunk_id
"""


@query("q81_doc_chunks", _Q81_ORACLE)
def q81_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    W, S = 64, 48
    sized = docs.select(
        "doc_id",
        tokens("text").alias("tk"),
    ).select(
        "doc_id",
        "tk",
        F.size("tk").alias("n"),
        (F.lit(1) + F.expr(f"(greatest(size(tk) - {W}, 0) + {S - 1}) div {S}")).alias("c"),
    )
    idx = sized.select(
        "doc_id",
        "tk",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("c") - 1)).alias("i"),
    )
    return idx.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_id"),
        F.least(F.lit(W), F.col("n") - S * F.col("i")).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", F.slice("tk", S * F.col("i") + 1, W))).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


# ---------------------------------------------------------------------------
# Q82 bigram collocation mining — corpus-level phrase discovery (the PMI /
# lift family): for every adjacent token pair, how much more often does it
# occur than independence predicts? Tokenizer-vocabulary curation and
# phrase-aware dedup both start from this table.
#
# score = (c_xy / N_big) / ((c_x / N_uni) * (c_y / N_uni))  — PMI without
# the log (monotone, so ranking is identical), computed as one double
# expression over exact integer counts in the identical operation order on
# both engines, rounded to 6 decimals.
#
# Scale shape: bigram formation is map-only (adjacent-pair transform over
# the let-bound token array — no window, no per-doc shuffle); one
# partial+final count aggregate per table; the two unigram joins BROADCAST
# the vocabulary (vocab ≪ corpus at any scale — unigram counts for a 100 TB
# corpus fit executor memory; were they ever to outgrow it, the fallback is
# a shuffle join salted per operators/skew.py, since token frequency is
# Zipf-skewed). Final top-k is TakeOrderedAndProject, never a global sort.
# ---------------------------------------------------------------------------

_Q82_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS tk FROM documents
),
big AS (
  SELECT tk[i] AS x, tk[i + 1] AS y
  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks WHERE len(tk) >= 2)
),
bc AS (SELECT x, y, COUNT(*) AS c_xy FROM big GROUP BY 1, 2),
uni AS (
  SELECT t AS tok, COUNT(*) AS c
  FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1
),
n_uni AS (SELECT SUM(c) AS nu FROM uni),
n_big AS (SELECT SUM(c_xy) AS nb FROM bc)
SELECT b.x, b.y, CAST(b.c_xy AS BIGINT) AS c_xy,
       CAST(ROUND((CAST(b.c_xy AS DOUBLE) * nu * nu) / (CAST(nb AS DOUBLE) * ux.c * uy.c), 6)
            AS DOUBLE) AS lift
FROM bc b
JOIN uni ux ON ux.tok = b.x
JOIN uni uy ON uy.tok = b.y
CROSS JOIN n_uni CROSS JOIN n_big
WHERE b.c_xy >= 5
ORDER BY lift DESC, x ASC, y ASC
LIMIT 20
"""


@query("q82_bigram_collocations", _Q82_ORACLE)
def q82_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(
            let(
                tokens("text"),
                # no otherwise(): docs with <2 tokens yield NULL, which
                # explode() drops — and the when() guard is load-bearing
                # (sequence(1, 0) is DESCENDING, see word_shingles).
                lambda tk: F.when(
                    F.size(tk) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(tk) - 1),
                        lambda i: F.struct(
                            F.element_at(tk, i).alias("x"),
                            F.element_at(tk, i + 1).alias("y"),
                        ),
                    ),
                ),
            )
        ).alias("p")
    ).select("p.x", "p.y")
    bc = pairs.groupBy("x", "y").agg(F.count("*").alias("c_xy"))
    uni = docs.select(F.explode(tokens("text")).alias("tok")).groupBy("tok").agg(
        F.count("*").alias("c")
    )
    n_uni = uni.agg(F.sum("c").alias("nu"))
    n_big = bc.agg(F.sum("c_xy").alias("nb"))
    return (
        bc.where(F.col("c_xy") >= 5)
        .join(F.broadcast(uni.withColumnRenamed("tok", "x").withColumnRenamed("c", "cx")), "x")
        .join(F.broadcast(uni.withColumnRenamed("tok", "y").withColumnRenamed("c", "cy")), "y")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "x",
            "y",
            F.col("c_xy").cast("long").alias("c_xy"),
            F.round(
                (F.col("c_xy").cast("double") * F.col("nu") * F.col("nu"))
                / (F.col("nb").cast("double") * F.col("cx") * F.col("cy")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("x"), F.asc("y"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q83 embedding outlier audit — the pruning half of the SemDeDup family
# (q72 removes near-DUPLICATES; this surfaces the OUTLIERS): per trained
# k-means cell, the 3 members least similar to their own centroid — the
# noisy/low-density examples curation pipelines drop or down-weight
# (SemDeDup, Abbas et al. 2023 §4 prunes by distance-to-centroid).
#
# Shares the exact trained index build with q29/q72: kmeans_fit (2 Lloyd
# iterations, lowest-id seeding) on the Spark side, the identical unrolled
# CTEs (_ivf_build_ctes) on the oracle side — so the assignment, the cosine
# quantization (ROUND 6) and the tiebreaks cannot drift between the three
# semantic queries.
#
# Scale shape: centroids broadcast (k rows); assignment + centroid cosine is
# one map-side pass over the vectors; the only shuffle is the per-cell rank
# window (k cells x bottom-3 survivors). At 100 TB the vectors never shuffle.
# ---------------------------------------------------------------------------


def _q83_oracle(n_cells: int = 16, iters: int = 2, bottom: int = 3) -> str:
    from mapreduce_paper_implementation_spark.plans.queries import _ivf_build_ctes

    ctes = _ivf_build_ctes(n_cells, iters)
    ctes += [
        f"""scored AS (
  SELECT c.cell, c.vec_id,
         CAST(ROUND(list_dot_product(c.vec, ct.c_vec) / (c.nrm * ct.c_nrm), 6) AS DECIMAL(9,6)) AS cos_c
  FROM cand c JOIN cents ct ON ct.cell = c.cell
)""",
        """ranked AS (
  SELECT cell, vec_id, cos_c,
         CAST(ROW_NUMBER() OVER (PARTITION BY cell ORDER BY cos_c ASC, vec_id ASC) AS BIGINT) AS rk
  FROM scored
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(cell AS BIGINT) AS cell, rk, vec_id, CAST(cos_c AS DOUBLE) AS cos_c
FROM ranked WHERE rk <= {bottom}
ORDER BY cell, rk
"""
    )


@query("q83_embedding_outliers", _q83_oracle())
def q83_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.functions.vectors import (
        norm,
        to_double_vec,
    )
    from mapreduce_paper_implementation_spark.operators.kmeans import (
        kmeans_fit,
        nearest_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=16, max_iter=2, tol=0.0).withColumn(
        "c_nrm", norm(F.col("c_vec"))
    )
    v = emb.select(
        F.col("vec_id"), to_double_vec("embedding").alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    # the q29/q72 cell assignment (nearest_centroids by cosine), keeping
    # the winner's rounded score: a NARROW per-vector argmax over the
    # broadcast centroid array — the vectors never shuffle.
    best = nearest_centroids(
        F.col("vec"), F.col("_cents"), nrm=F.col("nrm")
    )[0]
    carr = cents.agg(F.collect_list(F.struct("cell", "c_vec", "c_nrm")).alias("_cents"))
    assigned = v.crossJoin(F.broadcast(carr)).select(
        "vec_id",
        best["cell"].alias("cell"),
        (-best["score"]).cast("decimal(9,6)").alias("cos_c"),
    )
    rw = Window.partitionBy("cell").orderBy(F.asc("cos_c"), F.asc("vec_id"))
    return (
        assigned.withColumn("rk", F.row_number().over(rw).cast("long"))
        .where(F.col("rk") <= 3)
        .select(
            F.col("cell").cast("long").alias("cell"),
            "rk",
            "vec_id",
            F.col("cos_c").cast("double").alias("cos_c"),
        )
        .orderBy("cell", "rk")
    )


# ---------------------------------------------------------------------------
# Q84 funnel attribution — view -> click -> purchase within per-step 4-hour
# windows, the conversion analysis every event-analytics engine ships. A
# purchase converts at step 2 if the user's most recent prior click is
# within 4 h; at step 3 if, additionally, the most recent view BEFORE THAT
# CLICK was within 4 h of the click.
#
# Single-pass window formulation (no joins): per user, ordered by (ts,
# event_id), carry three running values — last view time, last click time,
# and "last view time as seen at the last click" (a nested carry: at click
# rows the current last-view is captured, and that captured value is itself
# carried forward). MAX over the running frame equals "latest" because
# event times are monotone within the frame. ONE shuffle (the per-user
# window), then the day rollup.
#
# All time arithmetic in epoch MICROS (unix_micros / epoch_us) — identical
# integers on both engines, timezone-free (q60/q61 convention). Day =
# floor-div of micros by 86_400e6 (fixture epochs are positive).
# ---------------------------------------------------------------------------

_H4_US = 4 * 3600 * 1_000_000
_DAY_US = 86_400 * 1_000_000


def behavioral_events_frame(events: DataFrame) -> DataFrame:
    """The projection every per-user behavioral query starts from:
    (event_id, user_id, event_type, t_us, cents). Shared by the registered
    q84/q88/q101 heads AND the bucketed catalog's `events_bck` writer
    (plans/bucketed_catalog.py) so the stored layout and the inline
    projection cannot drift. t_us/cents are materialized here BECAUSE the
    catalog stores them: a within-bucket sortBy can order by a stored
    column, never by unix_micros(ts) on the fly."""
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )


def funnel_shape(e: DataFrame) -> DataFrame:
    """q84's body over a behavioral_events_frame-shaped input — called by
    the registered query and by q84_bucketed (plans/bucketed_catalog.py),
    where the user_id-bucketed, (user_id, t_us, event_id)-sorted scan
    satisfies the window's distribution+ordering with zero Exchange."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w1 = e.withColumn(
        "lv", F.max(F.when(F.col("event_type") == "view", F.col("t_us"))).over(w)
    )
    w2 = w1.withColumn(
        "lc", F.max(F.when(F.col("event_type") == "click", F.col("t_us"))).over(w)
    ).withColumn(
        "lv_at_lc",
        F.max(F.when(F.col("event_type") == "click", F.col("lv"))).over(w),
    )
    conv2 = F.col("lc").isNotNull() & (F.col("lc") >= F.col("t_us") - _H4_US)
    conv3 = (
        conv2
        & F.col("lv_at_lc").isNotNull()
        & (F.col("lv_at_lc") >= F.col("lc") - _H4_US)
    )
    return (
        w2.where(F.col("event_type") == "purchase")
        .groupBy(F.expr(f"t_us div {_DAY_US}").alias("day_num"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum(conv2.cast("long")).cast("long").alias("n_conv_click"),
            F.sum(conv3.cast("long")).cast("long").alias("n_conv_full"),
        )
        .orderBy("day_num")
    )

_Q84_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us FROM events
),
w1 AS (
  SELECT user_id, event_id, event_type, t_us,
         MAX(CASE WHEN event_type = 'view' THEN t_us END) OVER (
           PARTITION BY user_id ORDER BY t_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv
  FROM e
),
w2 AS (
  SELECT user_id, event_type, t_us,
         MAX(CASE WHEN event_type = 'click' THEN t_us END) OVER (
           PARTITION BY user_id ORDER BY t_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc,
         MAX(CASE WHEN event_type = 'click' THEN lv END) OVER (
           PARTITION BY user_id ORDER BY t_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv_at_lc
  FROM w1
)
SELECT t_us // {_DAY_US} AS day_num,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN lc IS NOT NULL AND lc >= t_us - {_H4_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_conv_click,
       CAST(SUM(CASE WHEN lc IS NOT NULL AND lc >= t_us - {_H4_US}
                      AND lv_at_lc IS NOT NULL AND lv_at_lc >= lc - {_H4_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_conv_full
FROM w2
WHERE event_type = 'purchase'
GROUP BY day_num
ORDER BY day_num
"""


@query("q84_funnel", _Q84_ORACLE)
def q84_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # head + body shared with q84_bucketed (plans/bucketed_catalog.py)
    events = load_table(spark, sf_dir, "events")
    return funnel_shape(behavioral_events_frame(events))


# ---------------------------------------------------------------------------
# Q85 retention cohorts — users grouped by first-seen day, distinct-user
# counts per (cohort, days-since-first) offset: the activity-retention
# triangle every growth dashboard draws.
#
# Cohort via a per-user window MIN (no self-join: the events already
# shuffle once on user_id for the window; the min rides that partition),
# then one distinct-count aggregate on (cohort, offset). Day arithmetic in
# epoch micros (q84 convention).
#
# Scale shape: two shuffles total — user window + the cohort-offset
# count-distinct (itself a partial-agg expand). The cohort matrix is
# O(days^2) rows regardless of corpus size.
# ---------------------------------------------------------------------------

_Q85_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US} AS day_num FROM events
),
c AS (
  SELECT user_id, day_num,
         MIN(day_num) OVER (PARTITION BY user_id) AS cohort_day
  FROM e
)
SELECT cohort_day, day_num - cohort_day AS day_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM c
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
"""


@query("q85_retention_cohorts", _Q85_ORACLE)
def q85_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id", F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day_num")
    )
    c = e.withColumn(
        "cohort_day", F.min("day_num").over(Window.partitionBy("user_id"))
    )
    return (
        c.groupBy(
            "cohort_day", (F.col("day_num") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


# ---------------------------------------------------------------------------
# Q86 exact substring-run scrubbing — the REMOVAL half of the exact-substring
# dedup family (Lee et al. 2021 ExactSubstr: cut the duplicated span, keep
# the rest of the doc). q75 SCORES cross-doc duplication; this edits it out:
# every token position covered by any 10-gram occurring in >= 2 distinct docs
# is deleted, and the surviving text is value-checked by md5.
#
# Span union is a sliding window MAX of the gram-start flag over ROWS k-1
# PRECEDING — one per-doc window pass, never an interval self-join. The
# oracle joins on gram TEXT while Spark joins on the 64-bit xxhash64 (q75
# convention): a hash collision would scrub an extra span and hash-mismatch,
# so the oracle also audits hash safety.
#
# Scale shape: three shuffles at any corpus size — doc partition (gram
# window), gram hash (repeated-set build + position flag join), doc
# partition again (coverage window + reassembly). Only 64-bit hashes and
# token strings shuffle; scrubbed content leaves the operator as md5.
# ---------------------------------------------------------------------------

_Q86_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS tk FROM documents
),
pos AS (
  SELECT doc_id, tk, len(tk) AS n, unnest(range(1, len(tk) + 1)) AS p FROM toks
),
g AS (
  SELECT doc_id, p, tk[p] AS tok,
         CASE WHEN p + 9 <= n
              THEN array_to_string(list_slice(tk, p, p + 9), ' ') END AS gram
  FROM pos
),
rep AS (
  SELECT gram FROM (
    SELECT gram, COUNT(DISTINCT doc_id) AS nd
    FROM g WHERE gram IS NOT NULL GROUP BY 1
  ) WHERE nd >= 2
),
f AS (
  SELECT g.doc_id, g.p, g.tok,
         CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END AS flag
  FROM g LEFT JOIN rep r ON r.gram = g.gram
),
cov AS (
  SELECT doc_id, p, tok,
         MAX(flag) OVER (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS covered
  FROM f
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(covered) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(CASE WHEN covered = 0 THEN tok END, ' ' ORDER BY p), ''))
         AS scrubbed_md5
FROM cov GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Q87 triangle counting — per-node triangle participation over the q66/q74
# link graph (user_id -> props.k, undirected simple graph), the third
# classic graph workload after reverse-links and PageRank. Local clustering
# signals (spam/community detection in web-graph curation) start here.
#
# Spark side uses the Suri & Vassilvitskii (2011) MapReduce formulation
# with DEGREE-based orientation: every undirected edge points from its
# (degree, id)-smaller endpoint, bounding every vertex's oriented
# out-degree at O(sqrt(|E|)) — the "curse of the last reducer" fix, so the
# wedge join stays balanced on Zipf-skewed hub graphs where a lowest-id
# orientation melts one task. The oracle proves the orientation-invariance
# of the count with the naive x<y<z three-way join (triangles are counted
# once under EITHER total order, so a Spark orientation bug — double count,
# dropped wedge, cyclic orientation — hash-mismatches).
#
# Scale shape: degree join O(|E|); wedge self-join shuffles oriented edges
# on the anchor once; closing join shuffles wedges on (v, w) — O(#wedges),
# the intrinsic cost, bounded by the orientation. No cartesian, no driver
# data, no Python in the loop.
# ---------------------------------------------------------------------------

_Q87_ORACLE = """
WITH edges AS (
  SELECT DISTINCT user_id AS src, CAST(props->>'k' AS BIGINT) AS dst
  FROM events WHERE props->>'k' IS NOT NULL
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
FROM (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
GROUP BY node
ORDER BY node
"""


@query("q87_triangle_count", _Q87_ORACLE)
def q87_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.graph import count_triangles

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        F.get_json_object("props", "$.k").cast("bigint").alias("dst"),
    ).where(F.col("dst").isNotNull())
    return count_triangles(edges).orderBy("node")


@query("q86_substring_scrub", _Q86_ORACLE)
def q86_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.text_analysis import (
        scrub_repeated_substrings,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        scrub_repeated_substrings(docs, k=10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q88 event-transition matrix — per-user Markov transitions between event
# types (lead over the per-user timeline), aggregated to the global
# (from, to) count matrix with row-normalized probabilities. The behavioral
# twin of q82's token bigrams: session-modeling / anomaly-scoring pipelines
# start from exactly this matrix.
#
# Scale shape: one shuffle on user_id for the lead window (rides the same
# partitioning every per-user query uses), then a partial-agg count on the
# (from, to) pair — the matrix is O(|event_types|^2) regardless of corpus
# size, so the row-normalizing window runs on a trivially small frame.
# prob is an exact BIGINT/BIGINT division cast through DOUBLE on both
# engines (identical operands -> identical IEEE result).
# ---------------------------------------------------------------------------

_Q88_ORACLE = """
WITH s AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_type
  FROM events
),
t AS (
  SELECT event_type, next_type, COUNT(*) AS n
  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, next_type,
       CAST(n AS BIGINT) AS n_transitions,
       ROUND(CAST(n AS DOUBLE) /
             CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE), 6) AS prob
FROM t
ORDER BY event_type, next_type
"""


def event_transitions_shape(e: DataFrame) -> DataFrame:
    """q88's body over a behavioral_events_frame-shaped input — shared
    with q88_bucketed (plans/bucketed_catalog.py), where the lead window's
    user_id shuffle vanishes against the bucketed scan."""
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    t = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )
    row_total = F.sum("n_transitions").over(Window.partitionBy("event_type"))
    return (
        t.withColumn(
            "prob",
            F.round(
                F.col("n_transitions").cast("double") / row_total.cast("double"), 6
            ),
        )
        .orderBy("event_type", "next_type")
    )


@query("q88_event_transitions", _Q88_ORACLE)
def q88_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return event_transitions_shape(behavioral_events_frame(events))


# ---------------------------------------------------------------------------
# Q89 lexical statistics — per-document type-token ratio and token-level
# Shannon entropy, the two standard lexical-diversity signals a quality
# filter adds on top of q24's surface ratios (low-entropy docs are
# keyboard-mash / template spam even when their stopword ratios look fine).
#
# Entropy uses the shuffle-friendly decomposition
#   H = ln(n) - (1/n) * sum(c * ln c)
# so the per-(doc, token) counts aggregate straight to per-doc sums —
# two partial-agg shuffles (doc_id+token hash, then doc_id), no
# collect_list of the token multiset. ln(1) = 0 exactly, so singleton
# tokens contribute nothing and the float sum runs over few terms;
# ROUND(,4) absorbs addition-order rounding, while ttr is a single exact
# BIGINT/BIGINT division (ROUND(,6) bit-identical on both engines).
# ---------------------------------------------------------------------------

_Q89_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents
),
c AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
),
d AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS sclnc
  FROM c GROUP BY 1
)
SELECT doc_id, n_tokens, n_types,
       ROUND(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
       ROUND(ln(CAST(n_tokens AS DOUBLE))
             - sclnc / CAST(n_tokens AS DOUBLE), 4) AS entropy
FROM d
ORDER BY doc_id
"""


@query("q89_lexical_stats", _Q89_ORACLE)
def q89_lexical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # explode(split) keeps tokenization inside whole-stage codegen (the
    # q01 pattern); HOF map-accumulators would be CodegenFallback.
    toks = docs.select(
        "doc_id", F.explode(F.split("text", "[^A-Za-z]+")).alias("tok")
    ).where(F.col("tok") != "")
    c = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    d = c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "sclnc"
        ),
    )
    n = F.col("n_tokens").cast("double")
    return d.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / n, 6).alias("ttr"),
        F.round(F.log(n) - F.col("sclnc") / n, 4).alias("entropy"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Q90 SCD type-2 history — collapse each customer's order-priority timeline
# into validity intervals [valid_from, valid_to) with an is_current flag:
# the slowly-changing-dimension build every warehouse runs nightly, and the
# batch complement of q77's keyed MERGE (q77 keeps latest-wins state; q90
# keeps full change history).
#
# Run detection is the standard gaps-and-islands pair: LAG to flag changes,
# running SUM to number runs — both ride ONE shuffle on o_custkey (the
# second window reuses the first's partitioning; only the tiny runs frame
# re-sorts). Interval bounds are epoch micros (q84 convention,
# timezone-free BIGINTs on both engines).
# ---------------------------------------------------------------------------

_Q90_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS d_us, o_orderpriority,
         LAG(o_orderpriority) OVER (
           PARTITION BY o_custkey
           ORDER BY epoch_us(o_orderdate), o_orderkey) AS prev_p
  FROM orders
),
r AS (
  SELECT o_custkey, d_us, o_orderpriority,
         SUM(CASE WHEN prev_p IS NULL OR prev_p <> o_orderpriority
                  THEN 1 ELSE 0 END) OVER (
           PARTITION BY o_custkey ORDER BY d_us, o_orderkey) AS run_id
  FROM o
),
runs AS (
  SELECT o_custkey AS custkey, CAST(run_id AS BIGINT) AS version,
         o_orderpriority AS priority,
         MIN(d_us) AS valid_from_us,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM r GROUP BY 1, 2, 3
)
SELECT custkey, version, priority, valid_from_us,
       LEAD(valid_from_us) OVER (
         PARTITION BY custkey ORDER BY version) AS valid_to_us,
       n_orders,
       LEAD(valid_from_us) OVER (
         PARTITION BY custkey ORDER BY version) IS NULL AS is_current
FROM runs
ORDER BY custkey, version
"""


@query("q90_scd2_history", _Q90_ORACLE)
def q90_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        "o_orderkey",
        F.unix_micros("o_orderdate").alias("d_us"),
        "o_orderpriority",
    )
    w = Window.partitionBy("o_custkey").orderBy("d_us", "o_orderkey")
    changed = (
        F.lag("o_orderpriority").over(w).isNull()
        | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority"))
    ).cast("long")
    runs = (
        o.withColumn("run_id", F.sum(changed).over(w))
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("run_id").cast("long").alias("version"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.min("d_us").alias("valid_from_us"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )
    wv = Window.partitionBy("custkey").orderBy("version")
    valid_to = F.lead("valid_from_us").over(wv)
    return runs.select(
        "custkey",
        "version",
        "priority",
        "valid_from_us",
        valid_to.alias("valid_to_us"),
        "n_orders",
        valid_to.isNull().alias("is_current"),
    ).orderBy("custkey", "version")


# ---------------------------------------------------------------------------
# Q91 value deciles — NTILE(10) over each event type's value distribution,
# reduced to per-decile count/min/max: the equi-depth histogram feeding
# outlier fences and quantile-bucketed feature engineering. The exact-rank
# complement of q80's mergeable-histogram APPROX quantiles.
#
# NTILE is SQL-standard deterministic given a total order — the ORDER BY
# carries event_id as tiebreak so equal values land identically on both
# engines. Scale shape: the window is one shuffle on event_type; skew note
# inline. min/max of stored doubles are exact (no float arithmetic).
# ---------------------------------------------------------------------------

_Q91_ORACLE = """
WITH t AS (
  SELECT event_type, value,
         NTILE(10) OVER (
           PARTITION BY event_type ORDER BY value, event_id) AS decile
  FROM events
)
SELECT event_type, CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM t GROUP BY 1, 2
ORDER BY event_type, decile
"""


@query("q91_value_deciles", _Q91_ORACLE)
def q91_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB a single-partition-per-event-type NTILE would bottleneck on
    the largest type; the scale path is IMPLEMENTED as
    operators/incremental.py:tile_assign_via_hist (histogram cutpoints +
    broadcast map-side bucket assignment, no per-group sort) and gated
    against this exact-rank truth at sf0.1 in tests/test_operators.py::
    test_tile_assign_via_hist_within_bin_of_exact_ntile (agreement exact
    outside tile-boundary bins; within-bin tolerance documented there).
    This query is the exact truth oracle (5 event types x O(rows/5))."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    t = events.select("event_type", "value", F.ntile(10).over(w).alias("decile"))
    return (
        t.groupBy("event_type", F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type", "decile")
    )


# ---------------------------------------------------------------------------
# Q92 k-anonymity audit — generalize events to the quasi-identifier
# (user bucket-of-10, event type, hour-of-day) and flag QI groups below
# k=5 members: the suppression pass a privacy-preserving release runs
# before publishing behavioral data (Sweeney 2002), and the structured-data
# sibling of q79's free-text PII scrub.
#
# Scale shape: map-only generalization (integer div + epoch arithmetic,
# codegen'd) followed by one partial-agg count on the QI — the output is
# bounded by the QI domain (buckets x types x 24), not corpus size.
# ---------------------------------------------------------------------------

_DAY_US_ = 86_400 * 1_000_000
_HOUR_US = 3600 * 1_000_000

_Q92_ORACLE = f"""
WITH q AS (
  SELECT CAST((user_id // 10) * 10 AS BIGINT) AS user_bucket,
         event_type,
         CAST(epoch_us(ts) % {_DAY_US_} // {_HOUR_US} AS BIGINT) AS hour_of_day
  FROM events
)
SELECT user_bucket, event_type, hour_of_day,
       CAST(COUNT(*) AS BIGINT) AS n,
       COUNT(*) >= 5 AS kept
FROM q GROUP BY 1, 2, 3
ORDER BY user_bucket, event_type, hour_of_day
"""


@query("q92_k_anonymity", _Q92_ORACLE)
def q92_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    q = events.select(
        (F.expr("user_id div 10") * 10).cast("long").alias("user_bucket"),
        "event_type",
        F.expr(f"unix_micros(ts) % {_DAY_US_} div {_HOUR_US}")
        .cast("long")
        .alias("hour_of_day"),
    )
    return (
        q.groupBy("user_bucket", "event_type", "hour_of_day")
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn("kept", F.col("n") >= 5)
        .orderBy("user_bucket", "event_type", "hour_of_day")
    )


# ---------------------------------------------------------------------------
# Q93 source drift (KL divergence) — per-source KL divergence of the
# doc-length distribution (50-char bins) against the whole-corpus
# distribution: the distribution-shift monitor a data pipeline runs per
# ingest source to catch a crawler gone wrong before it poisons the mix
# (the drift complement of q57's mixture shares).
#
# Every source bin exists in the corpus distribution by construction
# (corpus = union of sources), so ln(p/q) never sees q=0. Scale shape: one
# partial-agg shuffle on (source, bin); the bin-marginal and grand total
# are O(bins) and O(1) frames joined by BROADCAST — history-size
# independent. ROUND(,4) absorbs float addition order in the final sum.
# ---------------------------------------------------------------------------

_Q93_ORACLE = """
WITH sc AS (
  SELECT source, (n_chars // 50) * 50 AS bin, COUNT(*) AS c
  FROM documents GROUP BY 1, 2
),
st AS (SELECT source, SUM(c) AS tot FROM sc GROUP BY 1),
cc AS (SELECT bin, SUM(c) AS cq FROM sc GROUP BY 1),
g  AS (SELECT SUM(c) AS gt FROM sc)
SELECT sc.source,
       CAST(st.tot AS BIGINT) AS n_docs,
       ROUND(SUM((CAST(sc.c AS DOUBLE) / CAST(st.tot AS DOUBLE))
             * ln((CAST(sc.c AS DOUBLE) / CAST(st.tot AS DOUBLE))
                 / (CAST(cc.cq AS DOUBLE) / CAST(g.gt AS DOUBLE)))), 4)
         AS kl_vs_corpus
FROM sc
JOIN st USING (source)
JOIN cc USING (bin)
CROSS JOIN g
GROUP BY sc.source, st.tot
ORDER BY sc.source
"""


@query("q93_source_drift_kl", _Q93_ORACLE)
def q93_source_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the KL tail is kl_readout (operators/serving.py) — the SAME function
    # the streaming kl_from_bins view serves from maintained state, so
    # batch == served structurally.
    from mapreduce_paper_implementation_spark.operators.serving import kl_readout

    docs = load_table(spark, sf_dir, "documents")
    sc = docs.groupBy(
        "source", (F.expr("n_chars div 50") * 50).alias("bin")
    ).agg(F.count("*").alias("c"))
    return kl_readout(sc.persist())


# ---------------------------------------------------------------------------
# Q94 item co-occurrence similarity — item-item cosine over the user-item
# interaction matrix (items = props.k), top-5 neighbors per item: the
# classic collaborative-filtering neighborhood build, and the
# interaction-graph sibling of q72's embedding-space neighbors.
#
# cosine(i,j) = |users(i) ∩ users(j)| / sqrt(|users(i)|·|users(j)|) — all
# exact BIGINT counts until one final double conversion, so ROUND(,6) is
# bit-identical on both engines; ranking orders by the ROUNDED value with
# an id tiebreak (total order).
#
# Scale shape: the distinct user-item frame shuffles once on user_id, the
# co-occurrence self-join reuses that partitioning, and the pair aggregate
# shuffles O(Σ_u activity(u)²) pairs — bounded by capping per-user activity
# (production caps hyperactive users; the fixture's are bounded by the item
# domain). Item marginals are O(|items|) and BROADCAST onto the pairs.
# ---------------------------------------------------------------------------

_Q94_ORACLE = """
WITH ui AS (
  SELECT DISTINCT user_id, CAST(props->>'k' AS BIGINT) AS item
  FROM events WHERE props->>'k' IS NOT NULL
),
deg AS (SELECT item, COUNT(*) AS n FROM ui GROUP BY 1),
co AS (
  SELECT a.item AS i, b.item AS j, COUNT(*) AS c
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY 1, 2
),
directed AS (
  SELECT i AS item, j AS other, c FROM co
  UNION ALL
  SELECT j, i, c FROM co
),
scored AS (
  SELECT d.item, d.other, CAST(d.c AS BIGINT) AS co_count,
         ROUND(CAST(d.c AS DOUBLE)
               / sqrt(CAST(di.n * dj.n AS DOUBLE)), 6) AS cosine
  FROM directed d
  JOIN deg di ON di.item = d.item
  JOIN deg dj ON dj.item = d.other
  WHERE d.c >= 2
)
SELECT item, other, co_count, cosine, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY item ORDER BY cosine DESC, other) AS rnk
  FROM scored
)
WHERE rnk <= 5
ORDER BY item, rnk
"""


@query("q94_item_cooccurrence", _Q94_ORACLE)
def q94_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ui = (
        events.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        )
        .where(F.col("item").isNotNull())
        .distinct()
    )
    deg = ui.groupBy("item").agg(F.count("*").alias("n"))
    a, b = ui.alias("a"), ui.alias("b")
    co = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id")) & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("i"), F.col("b.item").alias("j"))
        .agg(F.count("*").alias("c"))
    )
    directed = co.select(
        F.col("i").alias("item"), F.col("j").alias("other"), "c"
    ).unionByName(co.select(F.col("j").alias("item"), F.col("i").alias("other"), "c"))
    di = deg.select(F.col("item"), F.col("n").alias("ni"))
    dj = deg.select(F.col("item").alias("other"), F.col("n").alias("nj"))
    scored = (
        directed.where(F.col("c") >= 2)
        .join(F.broadcast(di), "item")
        .join(F.broadcast(dj), "other")
        .select(
            "item",
            "other",
            F.col("c").cast("long").alias("co_count"),
            F.round(
                F.col("c").cast("double")
                / F.sqrt((F.col("ni") * F.col("nj")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("cosine").desc(), F.col("other"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 5)
        .orderBy("item", "rnk")
    )


# ---------------------------------------------------------------------------
# Q95 robust outliers (median/MAD) — per event_type median, median absolute
# deviation, and the count beyond the 3σ-equivalent robust fence
# (3 × 1.4826 × MAD): the outlier detector q39's mean/stddev z-score family
# breaks on (a single extreme value inflates the stddev and hides itself;
# the median/MAD fence is 50%-breakdown robust — Hampel's estimator).
#
# Exact interpolated medians (percentile / quantile_cont with identical
# even-count averaging), two aggregate passes: per-type median (O(types)
# frame BROADCAST back onto events), then MAD + fence count. Every
# comparison operates on bit-identical doubles (same stored values, same
# arithmetic), so the flag set cannot drift between engines.
# ---------------------------------------------------------------------------

_Q95_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, med, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY 1, 2
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(m.med, 6) AS median_value,
       ROUND(m.mad, 6) AS mad,
       CAST(SUM(CASE WHEN d.adev > 3 * CAST(1.4826 AS DOUBLE) * m.mad
                     THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type, m.med, m.mad
ORDER BY d.event_type
"""


@query("q95_robust_outliers", _Q95_ORACLE)
def q95_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), ["event_type", "med"])
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                (F.col("adev") > 3 * 1.4826 * F.col("mad")).cast("long")
            ).cast("long").alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            F.round("med", 6).alias("median_value"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q96 sliding-window distinct users — trailing-7-day distinct user count per
# day: the DAU/WAU-style engagement series. COUNT(DISTINCT) over a SLIDING
# range is not window-expressible in either engine; the scalable form is the
# CONTRIBUTION EXPANSION: each distinct (user, day) contributes to the 7
# windows ending on days d..d+6, then one count-distinct per target day.
# Bounded ×7 blowup of the already-deduplicated (user, day) frame — never a
# per-day rescan of history, never a range self-join.
#
# Scale shape: dedup shuffle on (user, day), explode map-side, one final
# partial-agg count-distinct on target_day. Max-day bound via single-row
# broadcast.
# ---------------------------------------------------------------------------

_Q96_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US_} AS day_num FROM events
),
mx AS (SELECT MAX(day_num) AS max_day FROM du),
contrib AS (
  SELECT user_id, unnest(range(day_num, day_num + 7)) AS target_day FROM du
)
SELECT c.target_day,
       CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS users_7d
FROM contrib c CROSS JOIN mx
WHERE c.target_day <= mx.max_day
GROUP BY c.target_day
ORDER BY c.target_day
"""


@query("q96_sliding_distinct_users", _Q96_ORACLE)
def q96_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # head + tail shared with the streaming user_day_maintainer /
    # sliding_distinct_view (operators/serving.py), so batch == served
    # structurally.
    from mapreduce_paper_implementation_spark.operators.serving import (
        sliding_distinct_readout,
        user_day_frame,
    )

    events = load_table(spark, sf_dir, "events")
    return sliding_distinct_readout(user_day_frame(events))


# ---------------------------------------------------------------------------
# Q97 degree assortativity — Pearson correlation of endpoint degrees over
# the q87 link graph's edges (Newman 2002): do hubs link to hubs (r > 0,
# social) or to leaves (r < 0, web/biological)? The one-number structural
# summary that decides which graph-partitioning strategy survives at scale,
# completing the graph family (q66 reverse links, q74 PageRank, q41/q87
# components/triangles).
#
# Every moment (Σx, Σy, Σxy, Σx², Σy², M) is an exact BIGINT sum over the
# both-orientations directed edge list; r converts the exact integer
# numerator/denominator factors to double at the SAME points on both
# engines, so ROUND(,6) is bit-identical. Degrees stay < 2^16 and edge
# counts < 2^32 at every replay factor, so 64-bit products cannot overflow
# (production would lift to DECIMAL(38,0)).
#
# Scale shape: degree build = one partial-agg count on node; degree join
# broadcasts the O(|V|) degree table onto edges twice; final moment
# aggregate is a single-row reduce. No cartesian, no iteration.
# ---------------------------------------------------------------------------

_Q97_ORACLE = """
WITH edges AS (
  SELECT DISTINCT user_id AS src, CAST(props->>'k' AS BIGINT) AS dst
  FROM events WHERE props->>'k' IS NOT NULL
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
directed AS (
  SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
),
deg AS (SELECT u AS node, COUNT(*) AS d FROM directed GROUP BY 1),
xy AS (
  SELECT du.d AS x, dv.d AS y
  FROM directed e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
m AS (
  SELECT COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sx2, SUM(y * y) AS sy2
  FROM xy
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
       ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(m * sx2 - sx * sx AS DOUBLE)
                    * CAST(m * sy2 - sy * sy AS DOUBLE)), 6) AS assortativity
FROM m
"""


@query("q97_degree_assortativity", _Q97_ORACLE)
def q97_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The edge list feeds FOUR consumers (both orientations of `directed`,
    # the degree build via it, and the n_edges count) and each would
    # otherwise replay the events scan + get_json_object parse + distinct
    # shuffle — measured 4x the standing wall-time before persisting
    # (round-8 solo re-bench). Persist edges once; deg is O(|V|) and feeds
    # three consumers (du, dv, n_nodes), persist it too.
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    events = load_table(spark, sf_dir, "events")
    edges = scoped_persist(
        events.select(
            F.col("user_id").alias("src"),
            F.get_json_object("props", "$.k").cast("bigint").alias("dst"),
        )
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    directed = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = scoped_persist(
        directed.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("y"))
    xy = directed.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    m = xy.agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    counts = edges.agg(
        F.count("*").cast("long").alias("n_edges"),
    ).crossJoin(deg.agg(F.count("*").cast("long").alias("n_nodes")))
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    d1 = (F.col("m") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
    d2 = (F.col("m") * F.col("sy2") - F.col("sy") * F.col("sy")).cast("double")
    return m.crossJoin(F.broadcast(counts)).select(
        "n_nodes",
        "n_edges",
        F.round(num / F.sqrt(d1 * d2), 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Q98 snapshot diff (CDC) — classify every key across two table snapshots as
# INSERT / DELETE / UPDATE / SAME: the change-data-capture detection pass
# that FEEDS q77's MERGE (q77 applies a known changeset; q98 derives one
# from snapshots) and q90's SCD2 build. The "new" snapshot is planted
# deterministically from the base customer table — deletes at k%11=0,
# balance updates at k%7=0, inserts offset past max(c_custkey) (the ADVICE
# r06 rule: derive offsets from the data so no scale factor collides).
#
# Scale shape: one full-outer sort-merge join on the key — the intrinsic
# cost of snapshot comparison; column comparison is codegen'd; at 100 TB
# both snapshots bucket by key and the join is exchange-free
# (tests/test_plans.py pins the q77 bucketed-target demo for this layout).
# ---------------------------------------------------------------------------

_Q98_ORACLE = """
WITH mx AS (SELECT MAX(c_custkey) AS mk FROM customer),
new_snap AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0
              THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 11 <> 0
  UNION ALL
  SELECT mx.mk + c_custkey, c_acctbal, c_mktsegment
  FROM customer CROSS JOIN mx WHERE c_custkey % 13 = 3
),
old_snap AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer)
SELECT COALESCE(o.c_custkey, n.c_custkey) AS custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'INSERT'
            WHEN n.c_custkey IS NULL THEN 'DELETE'
            WHEN o.c_acctbal <> n.c_acctbal
                 OR o.c_mktsegment <> n.c_mktsegment THEN 'UPDATE'
            ELSE 'SAME' END AS change_type,
       o.c_acctbal AS old_acctbal,
       n.c_acctbal AS new_acctbal
FROM old_snap o FULL OUTER JOIN new_snap n ON o.c_custkey = n.c_custkey
WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
   OR o.c_acctbal <> n.c_acctbal OR o.c_mktsegment <> n.c_mktsegment
ORDER BY custkey
"""


def plant_new_snapshot(cust: DataFrame) -> DataFrame:
    """The q98 planted 'new' snapshot from a (c_custkey, c_acctbal,
    c_mktsegment) frame: deletes at k%11=0, +100 balance updates at k%7=0,
    inserts offset past max(c_custkey) (the ADVICE r06 rule: derive offsets
    from the data so no scale factor collides). Shared by q98 and the
    bucketed-catalog builder (plans/bucketed_catalog.py) so the planted
    scenario cannot drift between them."""
    mx = cust.agg(F.max("c_custkey").alias("mk"))
    return (
        cust.where(F.col("c_custkey") % 11 != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0
            )
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 13 == 3)
            .crossJoin(F.broadcast(mx))
            .select(
                (F.col("mk") + F.col("c_custkey")).alias("c_custkey"),
                "c_acctbal",
                "c_mktsegment",
            )
        )
    )


def snapshot_diff_readout(old: DataFrame, new: DataFrame) -> DataFrame:
    """q98's output shape from two (c_custkey, c_acctbal, c_mktsegment)
    snapshots via the generic operators/merge.py:snapshot_diff — shared by
    q98 (derived snapshots) and q98's bucketed twin (stored bucketed
    snapshots, exchange-free join)."""
    from mapreduce_paper_implementation_spark.operators.merge import snapshot_diff

    d = snapshot_diff(old, new, ["c_custkey"], ["c_acctbal", "c_mktsegment"])
    return d.select(
        F.col("c_custkey").alias("custkey"),
        "change_type",
        F.col("old_c_acctbal").alias("old_acctbal"),
        F.col("new_c_acctbal").alias("new_acctbal"),
    ).orderBy("custkey")


@query("q98_snapshot_diff", _Q98_ORACLE)
def q98_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    return snapshot_diff_readout(cust, plant_new_snapshot(cust))


# ---------------------------------------------------------------------------
# Q99 calendar-spine gap fill + LOCF — daily revenue per event_type over a
# COMPLETE day spine (min..max day x types), missing days filled by
# last-observation-carried-forward: the time-series regularization every
# monitoring/forecasting consumer needs before resampling (the batch
# complement of the streaming watermark windows, and the missing piece
# between q61's sparse rollup and a dense series).
#
# Revenue sums in DECIMAL(18,4) (the fixture's 2-decimal doubles are
# exactly representable), converted once to DOUBLE — deterministic at any
# partitioning (q07/q22 convention). LOCF = last_value IGNORE NULLS over
# (type, day) — identical SQL-standard semantics on both engines.
#
# Scale shape: the spine is |days| x |types| rows (generated, never a
# history rescan); the daily aggregate partial-aggregates; the fill window
# shuffles the O(spine) frame once on event_type. The spine join broadcasts
# the aggregate ONLY when small — at 100 TB of event history the daily
# aggregate is still O(days x types), so it stays broadcastable.
# ---------------------------------------------------------------------------

_Q99_ORACLE = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US_} AS day_num,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT MIN(day_num) AS lo, MAX(day_num) AS hi FROM daily
),
spine AS (
  SELECT t.event_type, d.day_num
  FROM (SELECT DISTINCT event_type FROM daily) t
  CROSS JOIN (SELECT unnest(range((SELECT lo FROM bounds),
                                  (SELECT hi FROM bounds) + 1)) AS day_num) d
)
SELECT s.event_type, s.day_num,
       COALESCE(d.revenue,
                last_value(d.revenue IGNORE NULLS) OVER (
                  PARTITION BY s.event_type ORDER BY s.day_num
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         AS revenue,
       d.revenue IS NULL AS filled
FROM spine s LEFT JOIN daily d
  ON d.event_type = s.event_type AND d.day_num = s.day_num
ORDER BY s.event_type, s.day_num
"""


@query("q99_gap_fill_locf", _Q99_ORACLE)
def q99_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type", F.expr(f"unix_micros(ts) div {_DAY_US_}").alias("day_num")
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
    )
    daily = daily.persist()
    bounds = daily.agg(F.min("day_num").alias("lo"), F.max("day_num").alias("hi"))
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day_num"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(F.broadcast(daily), ["event_type", "day_num"], "left")
        .select(
            "event_type",
            "day_num",
            F.coalesce(
                F.col("revenue"), F.last("revenue", ignorenulls=True).over(w)
            ).alias("revenue"),
            F.col("revenue").isNull().alias("filled"),
        )
        .orderBy("event_type", "day_num")
    )


# ---------------------------------------------------------------------------
# Q100 blocked Levenshtein typo pairs — CHARACTER-level near-dup, completing
# the dedup ladder (exact q14, token-shingle q18/q20, bit-signature q19,
# embedding q21/q72): detect planted single-character corruptions via
# prefix blocking + edit distance <= 2. The classic record-linkage /
# OCR-noise dedup pass.
#
# Variants are planted deterministically (every 17th doc, one char at
# 1-based position 17 + doc_id%20 replaced by 'Z' — beyond the 16-char
# block so every planted pair shares its block; ids offset past
# max(doc_id), the ADVICE r06 rule). The block is TWO leading words
# (the fixture vocabulary is ~31 tokens, so an 8-char single-word block
# degenerates to O(n^2/31) pairs at scale; 16 chars squares the block
# count — pick block length against corpus prefix entropy, same
# hot-bucket cap discipline as q18). Candidate pruning: same 16-char block
# AND |len difference| <= 2 — both SEMANTICS-PRESERVING for distance <= 2
# (an edit script of length d changes length by <= d and production
# blocking accepts prefix misses as recall trade — documented, the planted
# truth never misses). Both engines run the identical classic Levenshtein.
#
# Scale shape: one shuffle on the block key; within-block pairing is
# bounded by block cardinality (Zipf text prefixes -> monitor hot blocks,
# same cap discipline as q18's banded buckets); the length prefilter is
# codegen'd and kills most candidates before the distance; the distance
# itself is Spark's BOUNDED levenshtein(l, r, threshold=2) — identical
# accept set, O(threshold x len) banded cost instead of the full matrix.
# ---------------------------------------------------------------------------

_Q100_ORACLE = """
WITH mx AS (SELECT MAX(doc_id) AS mk FROM documents),
variants AS (
  SELECT d.doc_id + mx.mk + 1 AS doc_id,
         substr(d.text, 1, 16 + d.doc_id % 20) || 'Z'
           || substr(d.text, 18 + d.doc_id % 20) AS text
  FROM documents d CROSS JOIN mx WHERE d.doc_id % 17 = 0
),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM variants
),
blocked AS (
  SELECT doc_id, text, substr(text, 1, 16) AS blk, len(text) AS n FROM corpus
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE abs(a.n - b.n) <= 2 AND levenshtein(a.text, b.text) <= 2
ORDER BY id_a, id_b
"""


@query("q100_typo_pairs", _Q100_ORACLE)
def q100_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id").alias("mk"))
    variants = (
        docs.where(F.col("doc_id") % 17 == 0)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("doc_id") + F.col("mk") + 1).alias("doc_id"),
            F.expr(
                "substr(text, 1, 16 + doc_id % 20) || 'Z' "
                "|| substr(text, 18 + doc_id % 20)"
            ).alias("text"),
        )
    )
    corpus = docs.unionByName(variants)
    blocked = corpus.select(
        "doc_id",
        "text",
        F.substring("text", 1, 16).alias("blk"),
        F.length("text").alias("n"),
    )
    # NEVER broadcast a corpus-sized self-join side: at 50k docs the
    # auto-broadcast BHJ measured 10x slower than the shuffle join (full
    # texts serialized to every task), and at 100 TB it would OOM outright.
    # The shuffle-hash hint keeps both sides partitioned on the block key.
    blocked = blocked.hint("shuffle_hash")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.abs(F.col("a.n") - F.col("b.n")) <= 2)
        # PUSHDOWN BARRIER: without it Catalyst folds the distance predicate
        # INTO the join condition — where conjunct splitting re-evaluates
        # levenshtein once per conjunct (no CSE) on every raw bucket match,
        # self-matches and both orientations included, and condition
        # reordering runs it BEFORE the cheap length filter. Measured 5 s
        # vs 0.5 s at sf0.1 for identical results; at scale it multiplies
        # the only expensive expression by the raw block collision count.
        # A plain added column is NOT a barrier (the filter alias-
        # substitutes straight through), so dist is entangled with a
        # nondeterministic-but-constant guard (monotonic ids are always
        # >= 0): a filter referencing a nondeterministic projection cannot
        # be pushed below it. The distance itself is Spark's BOUNDED
        # levenshtein(l, r, threshold=2): identical accept set (returns -1
        # past the threshold), O(threshold x len) banded cost.
        .withColumn("__rid", F.monotonically_increasing_id())
        .withColumn(
            "dist",
            F.when(
                F.col("__rid") >= 0,
                F.levenshtein(F.col("a.text"), F.col("b.text"), 2),
            )
            .otherwise(-1)
            .cast("long"),
        )
        .where((F.col("dist") >= 0) & (F.col("dist") <= 2))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            "dist",
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Q101 largest-remainder click attribution — split each purchase's value
# across the user's clicks in the preceding 4 h, in EXACT INTEGER CENTS:
# share = cents div n per click, remainder cents distributed one each to
# the earliest clicks (the largest-remainder / Hamilton method). Revenue
# attribution without a single float: the per-day attributed totals are
# exact BIGINTs, associative at any partitioning — where a naive
# value/n double split loses cents to rounding and sum order.
#
# Scale shape: the purchase-click pairing is the q60-style interval
# EQUI-join on user_id with the window predicate as a post-filter (never a
# nested loop); per-purchase click ranking rides one window over the
# matched pairs; the day rollup partial-aggregates. Purchases with no
# in-window click report unattributed cents (conservation law: attributed
# + unattributed = total purchase cents — pinned by the oracle's algebra).
# ---------------------------------------------------------------------------

_Q101_ORACLE = f"""
WITH p AS (
  SELECT event_id AS pid, user_id, epoch_us(ts) AS pt,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT event_id AS cid, user_id, epoch_us(ts) AS ct
  FROM events WHERE event_type = 'click'
),
matched AS (
  SELECT p.pid, p.cents, c.cid, c.ct
  FROM p JOIN c ON c.user_id = p.user_id
  WHERE c.ct < p.pt AND c.ct >= p.pt - {_H4_US}
),
ranked AS (
  SELECT pid, cents, cid, ct,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ct, cid) AS rk,
         COUNT(*) OVER (PARTITION BY pid) AS n
  FROM matched
),
shares AS (
  SELECT cid, ct,
         cents // n + CASE WHEN rk <= cents % n THEN 1 ELSE 0 END AS share
  FROM ranked
)
SELECT ct // {_DAY_US_} AS day_num,
       CAST(COUNT(*) AS BIGINT) AS n_attributed_clicks,
       CAST(SUM(share) AS BIGINT) AS attributed_cents
FROM shares
GROUP BY day_num
ORDER BY day_num
"""


def click_attribution_shape(e: DataFrame) -> DataFrame:
    """q101's body over a behavioral_events_frame-shaped input — shared
    with q101_bucketed (plans/bucketed_catalog.py), where BOTH sides of the
    purchase⋈click user_id equi-join read co-located buckets of one stored
    table and the join plans with zero Exchange."""
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("t_us").alias("pt"),
        "cents",
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        "user_id",
        F.col("t_us").alias("ct"),
    )
    matched = p.join(c, "user_id").where(
        (F.col("ct") < F.col("pt")) & (F.col("ct") >= F.col("pt") - _H4_US)
    )
    wp = Window.partitionBy("pid")
    ranked = matched.select(
        "pid",
        "cents",
        "cid",
        "ct",
        F.row_number().over(wp.orderBy("ct", "cid")).alias("rk"),
        F.count("*").over(wp).alias("n"),
    )
    shares = ranked.select(
        "cid",
        "ct",
        (
            F.expr("cents div n")
            + F.when(F.col("rk") <= F.col("cents") % F.col("n"), 1).otherwise(0)
        ).alias("share"),
    )
    return (
        shares.groupBy(F.expr(f"ct div {_DAY_US_}").alias("day_num"))
        .agg(
            F.count("*").cast("long").alias("n_attributed_clicks"),
            F.sum("share").cast("long").alias("attributed_cents"),
        )
        .orderBy("day_num")
    )


@query("q101_click_attribution", _Q101_ORACLE)
def q101_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return click_attribution_shape(behavioral_events_frame(events))


# ---------------------------------------------------------------------------
# Q102 BFS reachability — minimum hop distance from a seed cohort over the
# directed interaction graph (user_id -> props.k, the same canonical edge
# set as q74 pagerank / q87 triangles / q41-family CC).
#
# The level-synchronous frontier traversal (operators/graph.py:bfs_hops):
# each round expands only the NEW wave (anti-join against visited), so a
# round's shuffle is O(|frontier| x avg-degree), not O(|V|) — at 100 TB a
# 6-hop neighborhood query touches the neighborhood, not the graph. The
# DuckDB twin is the textbook WITH RECURSIVE bounded-path formulation with
# MIN(hop) — exponentially worse asymptotics (it enumerates paths), which
# is exactly why the frontier algorithm is the engine's shape and the CTE
# is only the truth oracle.
#
# Reference analog: multi-job chaining beyond the single map/reduce barrier
# (/root/reference/mr-main/mr/coordinator.go), as for q74/q41.
# ---------------------------------------------------------------------------

_Q102_ORACLE = """
WITH RECURSIVE
e AS (
  SELECT DISTINCT user_id AS s, CAST(props->>'k' AS BIGINT) AS d
  FROM events WHERE props->>'k' IS NOT NULL
),
seeds AS (
  SELECT DISTINCT user_id AS node FROM events
  WHERE event_type = 'signup' AND user_id % 17 = 0
),
hops(node, hop) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.d, hops.hop + 1 FROM hops JOIN e ON e.s = hops.node
  WHERE hops.hop < 4
)
SELECT node, CAST(MIN(hop) AS BIGINT) AS hop
FROM hops GROUP BY node ORDER BY node
"""


@query("q102_bfs_reachability", _Q102_ORACLE)
def q102_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.graph import bfs_hops

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        F.get_json_object("props", "$.k").cast("bigint").alias("dst"),
    ).where(F.col("dst").isNotNull())
    seeds = (
        ev.where((F.col("event_type") == "signup") & (F.col("user_id") % 17 == 0))
        .select(F.col("user_id").alias("node"))
        .distinct()
    )
    return bfs_hops(edges, seeds, max_hops=4).orderBy("node")


# ---------------------------------------------------------------------------
# Q103 adaptive quality threshold — drop each source's bottom quartile by
# quality score, where the cut is EXACT and computed without sorting docs.
#
# Real curation pipelines threshold per-source (a p25 cut on web-crawl text
# is a different absolute score than on curated reference text). The naive
# exact formulation is a per-source row_number over the full corpus — a
# per-source global sort, exactly what dies at 100 TB. The engine's shape
# instead exploits that scores are bounded-precision (round 6 => at most
# 1e6+1 distinct values): aggregate a (source, score) histogram (one
# map-side-combinable shuffle, output rows bounded by #sources x 1e6
# REGARDLESS of corpus size), take the running-count threshold on the tiny
# histogram, broadcast the per-source cuts back, and filter map-only.
# Same trick as q80's mergeable histogram quantiles, specialized to an
# exact selection rule:
#     n_drop = n // 4;  t = smallest score with cum-count >= n_drop + 1;
#     keep docs with score >= t  (boundary ties all kept — deterministic,
#     no interpolation, so no float-ulp divergence between engines).
# ---------------------------------------------------------------------------

_Q103_SCORE_SQL = f"""CAST(CAST(ROUND(
  0.4 * LEAST(len({sql_tokens('text')}) / 50.0, 1.0)
  + 0.3 * (CASE WHEN n_chars > 0 THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / n_chars ELSE 0.0 END)
  + 0.3 * LEAST({sql_stop_ratio('text')} * 5, 1.0)
, 6) AS DECIMAL(9,6)) AS DOUBLE)"""

_Q103_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, {_Q103_SCORE_SQL} AS q FROM documents
),
hist AS (SELECT source, q, COUNT(*) AS c FROM scored GROUP BY source, q),
cnt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY source),
cum AS (
  SELECT source, q, SUM(c) OVER (PARTITION BY source ORDER BY q) AS cum
  FROM hist
),
thr AS (
  SELECT cum.source, MIN(q) AS threshold, MAX(n) AS n
  FROM cum JOIN cnt ON cum.source = cnt.source
  WHERE cum >= n // 4 + 1
  GROUP BY cum.source
)
SELECT s.source,
       t.threshold AS threshold,
       t.n AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(ROUND(AVG(s.q), 4) AS DOUBLE) AS avg_kept
FROM scored s JOIN thr t ON s.source = t.source AND s.q >= t.threshold
GROUP BY s.source, t.threshold, t.n
ORDER BY s.source
"""


@query("q103_adaptive_quality", _Q103_ORACLE)
def q103_adaptive_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.text_analysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        F.round(quality_score("text", "n_chars"), 6)
        .cast("decimal(9,6)")
        .cast("double")
        .alias("q"),
    )
    # the selection rule is quartile_threshold (operators/serving.py) —
    # the SAME function the streaming adaptive_threshold_view serves from,
    # so the cut logic cannot drift between batch and served.
    from mapreduce_paper_implementation_spark.operators.serving import (
        quartile_threshold,
    )

    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    # quartile_threshold consumes hist twice (totals + cumsum) — persist
    # the bounded histogram or each consumer replays the corpus scan +
    # quality projection (plan audit showed 3 scans; now 2: hist build +
    # the per-doc filter join, which is the design's second pass)
    hist = scoped_persist(scored.groupBy("source", "q").agg(F.count("*").alias("c")))
    thr = quartile_threshold(hist)
    return (
        scored.join(F.broadcast(thr), "source")
        .where(F.col("q") >= F.col("threshold"))
        .groupBy("source", "threshold", "n_total")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.round(F.avg("q"), 4).alias("avg_kept"),
        )
        .select("source", "threshold", "n_total", "n_kept", "avg_kept")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q104 A/B test readout — deterministic hash bucketing into variants, per-
# variant conversion, and the pooled two-proportion z statistic.
#
# Assignment is a pure function of user_id (overflow-safe Knuth
# multiplicative hash, see operators/serving.py:SQL_IS_A — the id is
# reduced mod 2^31 before the multiply so the product can never wrap
# int64), so it is reproducible across engines, runs, and re-ingests —
# no RNG, the same discipline as q71's md5-rank sampling. Conversion is
# "purchases are >= 20% of the user's events" (5 * purchases >= n_events,
# exact integer math): a SHARE threshold, not an absolute count, so the
# converter population stays mixed at every gen_scale factor of the
# manifest replay — an absolute threshold ("has a purchase") saturates to
# all-1 as per-user event counts grow (at sf0.01 literally every user has
# a purchase, making pooled variance 0 and z undefined). The degenerate
# all/none case is still guarded to NULL in both engines.
#
# Scale shape: one map-side-combinable groupBy(user_id) to collapse the
# event log to per-user flags, then a global conditional aggregate to a
# SINGLE row (two-stage partial agg — no data ever concentrates on one
# executor until the four running counters do). The z arithmetic is a
# scalar projection on that row. At 100 TB of events this is the minimal
# two-shuffle plan, and the first shuffle's width is #users, not #events.
#
# Float discipline (SURVEY §2D): rates and z are computed with textually
# identical operation order in both engines from exact BIGINT counters,
# rounded at the end (6 / 4 dp).
# ---------------------------------------------------------------------------

_Q104_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN 5 * SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= COUNT(*) THEN 1 ELSE 0 END AS conv,
         {SQL_IS_A} AS is_a
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(SUM(is_a) AS BIGINT) AS n_a,
         CAST(SUM(is_a * conv) AS BIGINT) AS conv_a,
         CAST(SUM(1 - is_a) AS BIGINT) AS n_b,
         CAST(SUM((1 - is_a) * conv) AS BIGINT) AS conv_b
  FROM u
)
SELECT n_a, conv_a, n_b, conv_b,
       CAST(ROUND(conv_a / CAST(n_a AS DOUBLE), 6) AS DOUBLE) AS rate_a,
       CAST(ROUND(conv_b / CAST(n_b AS DOUBLE), 6) AS DOUBLE) AS rate_b,
       CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN NULL
       ELSE CAST(ROUND(
         (conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
         / sqrt(
             ((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
             * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
             * (1.0 / n_a + 1.0 / n_b)
           )
       , 4) AS DOUBLE) END AS z_score
FROM s
"""


@query("q104_ab_test", _Q104_ORACLE)
def q104_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    # assignment + readout are ab_readout (operators/serving.py) — the
    # SAME function the streaming ab_test_view serves from maintained
    # per-user counters, so batch == served structurally.
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            5 * F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= F.count("*"),
            1,
        )
        .otherwise(0)
        .alias("conv")
    )
    return ab_readout(u)


# ---------------------------------------------------------------------------
# Q105 n-gram containment dedup — the ASYMMETRIC rung of the dedup ladder
# (exact q14 / Jaccard q20 / MinHash q18 / SimHash q19 / embedding q21,q72 /
# typo q100): overlap coefficient inter/min(|A|,|B|) catches a short doc
# quoted wholesale inside a long one, which Jaccard structurally misses
# (the union is dominated by the long doc). Curation drops the CONTAINED
# doc and keeps the superset (SlimPajama-style).
#
# Engine shape: operators/dedup.py:ngram_containment_pairs — the shared
# inverted-index skeleton (explode distinct shingles, hot-shingle max_df
# anti-join broadcast, shingle equi-self-join with id_a < id_b, partial-agg
# co-counts); only the score differs from q20. Oracle mirrors the max_df
# cut verbatim so the gate stays exact.
# ---------------------------------------------------------------------------

_Q105_ORACLE = f"""
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
    SELECT shingle FROM inv0 GROUP BY shingle HAVING COUNT(*) > {{max_df}}
  )
),
co AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS inter
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(CAST(ROUND(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 6) AS DECIMAL(9,6)) AS DOUBLE) AS containment
FROM co
JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON sa.doc_id = id_a
JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON sb.doc_id = id_b
WHERE CAST(ROUND(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 6) AS DECIMAL(9,6)) >= 0.5
ORDER BY id_a, id_b
"""


@query(
    "q105_containment_neardup",
    _Q105_ORACLE.replace("{max_df}", "1000"),
)
def q105_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    return ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


# ---------------------------------------------------------------------------
# Q106 transition-model perplexity scoring — per-user average negative log
# likelihood of the observed event bigrams under the GLOBAL q88 transition
# model. The structured-data analog of KenLM perplexity filtering (the
# canonical LLM-corpus quality gate): users whose behavior the corpus-wide
# Markov model finds surprising surface at the top.
#
# Scale shape: the q88 window forms per-user bigrams (one user_id shuffle),
# partial-agg to per-(user, bigram) counts, then the model — O(#types^2)
# rows — BROADCASTS onto them (never a shuffle by bigram of the big side),
# and a final per-user partial agg: sum(n*ln p)/sum(n). Every p is observed
# (the model is fitted on the same events), so ln never sees 0.
#
# Float discipline: p = n/row_total is an identical double division in both
# engines; ln agrees to 1 ulp (libm vs java.lang.Math) and each user sums
# <= #types^2 = 25 grouped terms, so ROUND(,4) absorbs order + ulp noise.
# ---------------------------------------------------------------------------

_Q106_ORACLE = """
WITH s AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_type
  FROM events
),
b AS (
  SELECT user_id, event_type, next_type, COUNT(*) AS n
  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2, 3
),
m AS (
  SELECT event_type, next_type,
         CAST(SUM(n) AS DOUBLE)
         / CAST(SUM(SUM(n)) OVER (PARTITION BY event_type) AS DOUBLE) AS p
  FROM b GROUP BY event_type, next_type
)
SELECT b.user_id,
       CAST(SUM(b.n) AS BIGINT) AS n_transitions,
       CAST(ROUND(-SUM(b.n * ln(m.p)) / SUM(b.n), 4) AS DOUBLE) AS avg_nll
FROM b JOIN m ON b.event_type = m.event_type AND b.next_type = m.next_type
GROUP BY b.user_id
ORDER BY b.user_id
"""


@query("q106_transition_perplexity", _Q106_ORACLE)
def q106_transition_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    b = (
        ev.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
        .where(F.col("next_type").isNotNull())
        .groupBy("user_id", "event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    # b feeds both the model fit and the scoring join — persist so the
    # user_id window shuffle runs once.
    b = scoped_persist(b)
    m = b.groupBy("event_type", "next_type").agg(F.sum("n").alias("tn"))
    m = m.select(
        "event_type",
        "next_type",
        (
            F.col("tn").cast("double")
            / F.sum("tn").over(Window.partitionBy("event_type")).cast("double")
        ).alias("p"),
    )
    return (
        b.join(F.broadcast(m), ["event_type", "next_type"])
        .groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("n_transitions"),
            F.round(-F.sum(F.col("n") * F.log("p")) / F.sum("n"), 4).alias("avg_nll"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Q107 Benford first-digit audit — data-quality forensics: the leading
# significant digit of event values per event_type vs the Benford
# expectation log10(1+1/d), with a per-type chi-square statistic. Fabricated
# or unit-mangled feeds jump out; a standard ingest-monitoring pass next to
# q93's KL drift.
#
# Digit extraction is EXACT cross-engine: integer cents (round(value*100))
# rendered as VARCHAR, first character — never floor(v/10^floor(log10 v)),
# whose log10 can land an ulp under an integer in one libm and not the
# other, flipping the digit for values at powers of ten. Integer-to-string
# is identical everywhere.
#
# Scale shape: map-only digit projection, one (type, digit) partial agg
# (output bounded: 9 rows per type), chi-square via a window over those 9
# rows. The expected-frequency constants fold identically (CAST literals to
# DOUBLE — DuckDB parses bare decimals as DECIMAL).
# ---------------------------------------------------------------------------

_Q107_ORACLE = """
WITH d AS (
  SELECT event_type,
         CAST(substr(CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM events
  WHERE CAST(ROUND(value * 100) AS BIGINT) > 0
),
c AS (
  SELECT event_type, digit, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM d GROUP BY event_type, digit
),
t AS (
  SELECT event_type, digit, cnt,
         SUM(cnt) OVER (PARTITION BY event_type) AS n,
         CAST(log10(1.0 + 1.0 / digit) AS DOUBLE) AS exp_freq
  FROM c
)
SELECT event_type, digit, cnt,
       CAST(ROUND(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE) AS obs_freq,
       CAST(ROUND(exp_freq, 6) AS DOUBLE) AS benford_freq,
       CAST(ROUND(SUM(
         (CAST(cnt AS DOUBLE) - CAST(n AS DOUBLE) * exp_freq)
         * (CAST(cnt AS DOUBLE) - CAST(n AS DOUBLE) * exp_freq)
         / (CAST(n AS DOUBLE) * exp_freq)
       ) OVER (PARTITION BY event_type), 4) AS DOUBLE) AS chi2
FROM t
ORDER BY event_type, digit
"""


@query("q107_benford_audit", _Q107_ORACLE)
def q107_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the chi-square tail is benford_readout (operators/serving.py) — the
    # SAME function the streaming benford_view serves from maintained
    # digit counts, so batch == served structurally.
    from mapreduce_paper_implementation_spark.operators.serving import (
        benford_readout,
    )

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(
        "event_type",
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"),
    ).where(cents > 0)
    c = d.groupBy("event_type", "digit").agg(F.count("*").cast("long").alias("cnt"))
    return benford_readout(c)


# ---------------------------------------------------------------------------
# Q108 path mining — top event-type TRIGRAMS across user timelines, the
# order-3 sibling of q88's bigram transition matrix (clickstream path
# analysis: which 3-step journeys dominate). Two LEADs over the same
# (user, time) window — one shuffle, window state O(2) per row — then a
# partial-agg count into a domain bounded by #types^3 = 125 rows and a
# single-partition top-10 rank over THAT (ranking the bounded aggregate,
# never the event stream; the q13 discipline). Total order (n DESC, path)
# makes the cut deterministic under ties.
# ---------------------------------------------------------------------------

_Q108_ORACLE = """
WITH s AS (
  SELECT event_type AS e1,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
t AS (
  SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
  FROM s WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
)
SELECT e1, e2, e3, n, CAST(rk AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, e1, e2, e3) AS rk FROM t
)
WHERE rk <= 10
ORDER BY rank
"""


@query("q108_top_paths", _Q108_ORACLE)
def q108_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    t = (
        ev.select(
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .where(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").cast("long").alias("n"))
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("n").desc(), "e1", "e2", "e3")
    )
    return (
        t.select("e1", "e2", "e3", "n", rk.cast("long").alias("rank"))
        .where(F.col("rank") <= 10)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Q109 cross-source duplication matrix — near-dup pair counts by source
# pair: WHERE duplicated content leaks between ingest feeds (the
# source-level view of contamination; q55 is the doc-level eval-set gate).
# Composition query: the q20 exact-Jaccard pair operator (threshold 0.5)
# joined twice against the doc->source projection, aggregated into a
# matrix bounded by #sources^2. Broadcast direction matters at 100 TB:
# the doc->source map is O(corpus) — NEVER the broadcast side — while the
# near-dup PAIR SET is bounded by the duplicate rate; so the pair set
# broadcasts and the two-column corpus projection streams map-side
# through both joins.
# ---------------------------------------------------------------------------

_Q109_ORACLE = f"""
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
    SELECT shingle FROM inv0 GROUP BY shingle HAVING COUNT(*) > 1000
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
  WHERE CAST(ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS DECIMAL(9,6)) >= 0.5
)
SELECT LEAST(da.source, db.source) AS source_lo,
       GREATEST(da.source, db.source) AS source_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs
JOIN documents da ON da.doc_id = id_a
JOIN documents db ON db.doc_id = id_b
GROUP BY 1, 2
ORDER BY source_lo, source_hi
"""


@query("q109_source_dup_matrix", _Q109_ORACLE)
def q109_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, sort=False).select(
        "id_a", "id_b"
    )  # immediately aggregated: output sort is dead cost
    src = docs.select("doc_id", "source")
    # corpus-sized map streams; bounded pair set broadcasts (twice)
    half = src.join(
        F.broadcast(pairs), src["doc_id"] == pairs["id_a"]
    ).select(F.col("source").alias("sa"), "id_b")
    full = src.join(
        F.broadcast(half), src["doc_id"] == half["id_b"]
    ).select("sa", F.col("source").alias("sb"))
    return (
        full.groupBy(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
        )
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("source_lo", "source_hi")
    )


# ---------------------------------------------------------------------------
# Q110 histogram-tile deciles — q91's 100 TB path AS A QUERY, oracle-gated:
# the per-type equi-depth summary computed by tile_assign_via_hist
# (operators/incremental.py §4) instead of NTILE. No per-group sort
# anywhere: one (type, bin) partial-agg histogram, the nine exact NTILE
# boundary ranks located on the bounded cumulative histogram, cutpoints
# BROADCAST, tile = 1 + #cutpoints strictly below the row's bin — a
# map-side projection. The oracle re-implements the identical cutpoint
# algebra in SQL, so the gate is hash-exact (unlike the q91 differential,
# which allows the documented within-bin tolerance vs TRUE NTILE — this
# query pins the cutpoint semantics themselves cross-engine).
#
# Float discipline: bin = floor(value * 4) — one IEEE multiply + floor on
# the same stored double in both engines; everything after is integer.
# ---------------------------------------------------------------------------

_Q110_ORACLE = """
WITH h AS (
  SELECT event_type, CAST(floor(value * 4) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
  FROM h
),
tgt AS (
  SELECT event_type, k, CAST(k * (n // 10) + LEAST(k, n % 10) AS BIGINT) AS t
  FROM tot CROSS JOIN (SELECT unnest(range(1, 10)) AS k)
),
cuts AS (
  SELECT g.event_type, g.k, c.bin AS cut_bin
  FROM tgt g JOIN cum c ON g.event_type = c.event_type
  WHERE c.cum - c.cnt < g.t AND c.cum >= g.t
),
assigned AS (
  SELECT e.event_id, e.event_type, e.value,
         CAST(1 + COUNT(c.k) AS BIGINT) AS tile
  FROM events e
  LEFT JOIN cuts c
    ON c.event_type = e.event_type
   AND c.cut_bin < CAST(floor(e.value * 4) AS BIGINT)
  GROUP BY e.event_id, e.event_type, e.value
)
SELECT event_type, tile,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM assigned GROUP BY 1, 2
ORDER BY event_type, tile
"""


@query("q110_hist_tile_deciles", _Q110_ORACLE)
def q110_hist_tile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tail shared with streaming ntile_view via serving.tile_decile_readout
    from mapreduce_paper_implementation_spark.operators.incremental import (
        tile_assign_via_hist,
    )
    from mapreduce_paper_implementation_spark.operators.serving import (
        tile_decile_readout,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    )
    assigned = tile_assign_via_hist(
        events, ["event_type"], "value", n_tiles=10, inv_width=4
    )
    return tile_decile_readout(assigned)


# ---------------------------------------------------------------------------
# Q111 BM25 ranked retrieval — top-10 documents for a corpus-derived query
# (the 5 mid-frequency terms ranked 10-14 by document frequency), scored
# with Okapi BM25 (k1=1.2, b=0.75): the classic ranked-retrieval pass a
# training-data pipeline runs to find documents relevant to a probe set,
# completing the IR family (q48 term vectors, q49 TF-IDF, q16/q28/q29
# embedding retrieval) with the lexical ranking standard.
#
# Scale shape: the (doc, term) tf table is ONE shuffle and is persisted
# (it feeds tf itself, dl, df); corpus stats (N, sum dl) are a single-row
# broadcast; the query-term set is O(5) and BROADCAST into a semi-join, so
# scoring touches only postings of query terms (never the corpus); the
# per-doc sum is a partial agg; top-10 = TakeOrdered over the rounded
# score. The query-term pick ranks the BOUNDED term-df aggregate (q13
# discipline: row_number over |vocab| rows, never the corpus).
#
# Float discipline: <= 5 ln-terms summed per doc then ROUND(,4) (SURVEY
# §8.23); every constant CAST to DOUBLE in the oracle (DuckDB parses bare
# decimals as DECIMAL); identical operation order in both engines; ranking
# orders by the ROUNDED score with doc_id tiebreak (total order).
# ---------------------------------------------------------------------------

_Q111_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM dl
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
qterms AS (
  SELECT term, df FROM (
    SELECT term, df, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS r FROM dfreq
  ) WHERE r BETWEEN 10 AND 14
),
scored AS (
  SELECT tf.doc_id,
         ln(CAST(1.0 AS DOUBLE)
            + (CAST(n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
              / (CAST(q.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
         / (CAST(tf.tf AS DOUBLE)
            + CAST(1.2 AS DOUBLE)
              * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE)
                   * (CAST(dl.dl AS DOUBLE)
                      / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         AS contrib
  FROM tf JOIN qterms q USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id, CAST(ROUND(SUM(contrib), 4) AS DOUBLE) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 10
"""


@query("q111_bm25_topk", _Q111_ORACLE)
def q111_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the entire tail after postings construction is bm25_readout
    # (operators/serving.py) — the SAME function the streaming
    # postings_maintainer's bm25_view serves from maintained state, so
    # batch == served structurally. (float note: Python 1.2+1.0 == 2.2
    # exactly, so the k1+1 constant folds identically to the oracle's
    # CAST(2.2 AS DOUBLE).)
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist
    from mapreduce_paper_implementation_spark.operators.serving import (
        bm25_readout,
        postings_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bm25_readout(scoped_persist(postings_frame(docs)))


# ---------------------------------------------------------------------------
# Q112 rolling 7-day p95 — the monitoring primitive: per day, the exact
# 95th-percentile event value over the trailing 7 days. Composes the
# round's quantile discipline (q103/q110: bounded histogram + exact
# selection rule — never a per-window sort) with q96's contribution
# expansion (each (day, value) histogram row contributes to <= 7 target
# days — bounded fan-out, no self-join of days, no re-scan per window).
#
# Exactness: values have 2dp precision, so integer cents are lossless and
# the per-day histogram is bounded by the value domain (6.6k bins at
# sf0.01), independent of event count. The rank rule is integer-exact:
# t = ceil(0.95 * n) = (19n + 19) div 20; p95 = min cent with cum >= t;
# the only float is the final cents/100 division, identical both engines.
#
# Scale shape: one (day, cent) partial-agg shuffle over the events, x7
# bounded expansion on the HISTOGRAM (not the events), cumsum window over
# each day's bounded histogram, broadcast day totals. At 100 TB of events
# the expansion input is |days| x |bins|, not |events|.
# ---------------------------------------------------------------------------

_Q112_ORACLE = f"""
WITH h AS (
  SELECT CAST(epoch_us(ts) // {_DAY_US_} AS BIGINT) AS day_num,
         CAST(ROUND(value * 100) AS BIGINT) AS cent,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
mx AS (SELECT MAX(day_num) AS max_day FROM h),
hh AS (
  SELECT day_num + o.off AS target_day, cent, CAST(SUM(c) AS BIGINT) AS c
  FROM h CROSS JOIN (SELECT unnest(range(0, 7)) AS off) o CROSS JOIN mx
  WHERE day_num + o.off <= mx.max_day
  GROUP BY 1, 2
),
cnt AS (SELECT target_day, CAST(SUM(c) AS BIGINT) AS n FROM hh GROUP BY 1),
cum AS (
  SELECT target_day, cent,
         SUM(c) OVER (PARTITION BY target_day ORDER BY cent) AS cum
  FROM hh
)
SELECT cum.target_day AS day_num,
       CAST(cnt.n AS BIGINT) AS n_events_7d,
       CAST(CAST(MIN(cent) AS DOUBLE) / 100.0 AS DOUBLE) AS p95
FROM cum JOIN cnt ON cum.target_day = cnt.target_day
WHERE cum >= (19 * cnt.n + 19) // 20
GROUP BY 1, 2
ORDER BY day_num
"""


@query("q112_rolling_p95", _Q112_ORACLE)
def q112_rolling_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the entire tail after histogram construction is rolling_p95_readout
    # (operators/serving.py) — the SAME function the streaming
    # day_value_hist_maintainer's rolling_p95_view serves from maintained
    # state, so batch == served structurally.
    from mapreduce_paper_implementation_spark.operators.serving import (
        day_cent_hist,
        rolling_p95_readout,
    )

    ev = load_table(spark, sf_dir, "events")
    return rolling_p95_readout(day_cent_hist(ev))


# ---------------------------------------------------------------------------
# Q113 weighted sample — per-source top-k by Efraimidis-Spirakis key
# (key = u^(1/w), u a DETERMINISTIC hash-derived uniform, w = n_chars+1):
# the quality/length-weighted sampling pass every training-data pipeline
# runs to build mixture shards — reproducible across re-ingests because u
# is a pure function of doc_id (no RNG), SURVEY §8.28's overflow-safe
# Knuth recipe.
#
# Scale shape (the q103/q110 discipline — NEVER rank the corpus): the key
# is a map-only projection rounded to 6dp, so the per-source key HISTOGRAM
# is bounded (<= 1e6+1 bins/source); the top-k cutoff is a running-count
# selection on that histogram from the TOP (max key bin with cum >= k),
# cutoffs BROADCAST back; rows strictly above the cut pass map-only, and
# only the single boundary BIN (a handful of 6dp-collision rows) is
# ranked by doc_id to fill the remaining slots. A per-source row_number
# over the corpus — the naive form, and the oracle's — would single-task
# the largest source at 100 TB.
#
# Float discipline: u is exact integer arithmetic until ONE division;
# exp(ln(u)/w) agrees cross-engine to ~1 ulp and the 6dp ROUND makes a
# boundary flip need a key within ~1e-16 of a 5e-7 grid edge (measure-zero
# for hash-derived inputs); ties at 6dp break by doc_id in both engines.
# ---------------------------------------------------------------------------

_Q113_K = 200

_Q113_ORACLE = f"""
WITH keyed AS (
  SELECT source, doc_id,
         ROUND(exp(ln(CAST((((doc_id % 2147483648) * 2654435761)
                            % 1000000007 + 1000000007)
                           % 1000000007 + 1 AS DOUBLE)
                       / CAST(1000000008.0 AS DOUBLE))
                   / CAST(n_chars + 1 AS DOUBLE)), 6) AS samp_key
  FROM documents
),
r AS (
  SELECT source, doc_id, samp_key,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY samp_key DESC, doc_id) AS rk
  FROM keyed
)
SELECT source, doc_id, samp_key FROM r WHERE rk <= {_Q113_K}
ORDER BY source, doc_id
"""


def weighted_sample_shape(docs: DataFrame, k: int = _Q113_K) -> DataFrame:
    """q113's body: histogram-cutoff top-k by deterministic E-S key —
    shared with tests; see the block comment for the scale argument."""
    # the (+M) % M fold makes u non-negative for NEGATIVE doc_id too
    # (SQL_IS_A discipline, SURVEY §8.28) — identity for doc_id >= 0;
    # without it ln(u+1) is NULL in Spark / an error in DuckDB
    u = (
        ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
        % F.lit(1000000007)
        + F.lit(1000000007)
    ) % F.lit(1000000007)
    key = F.round(
        F.exp(
            F.log((u + 1).cast("double") / F.lit(1000000008.0))
            / (F.col("n_chars") + 1).cast("double")
        ),
        6,
    )
    # keyed feeds the histogram AND the cutoff join — persist or the docs
    # scan + key arithmetic replays per consumer (the q97 lesson)
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    keyed = scoped_persist(docs.select("source", "doc_id", key.alias("samp_key")))
    hist = keyed.groupBy("source", "samp_key").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wd = (
        Window.partitionBy("source")
        .orderBy(F.col("samp_key").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "source", "samp_key", "cnt", F.sum("cnt").over(wd).alias("cum")
    )
    cuts = (
        cum.where(F.col("cum") >= k)
        .groupBy("source")
        .agg(
            F.max(
                F.struct(
                    F.col("samp_key").alias("cut"),
                    (F.col("cum") - F.col("cnt")).alias("above"),
                )
            ).alias("b")
        )
        .select("source", F.col("b.cut").alias("cut"), F.col("b.above").alias("above"))
    )
    j = keyed.join(F.broadcast(cuts), "source", "left")
    above_rows = j.where(F.col("cut").isNull() | (F.col("samp_key") > F.col("cut")))
    wb = Window.partitionBy("source").orderBy("doc_id")
    boundary = (
        j.where(F.col("samp_key") == F.col("cut"))
        .withColumn("rnk", F.row_number().over(wb))
        .where(F.col("rnk") <= F.lit(k) - F.col("above"))
        .drop("rnk")
    )
    return (
        above_rows.unionByName(boundary)
        .select("source", "doc_id", "samp_key")
        .orderBy("source", "doc_id")
    )


@query("q113_weighted_sample", _Q113_ORACLE)
def q113_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_shape(docs)


# ---------------------------------------------------------------------------
# Q114 vocabulary-size audit — per-source distinct-token count, exact AND
# via an Apache DataSketches HLL sketch (lgK=12), with the sketch estimate
# value-checked against the exact count by a 3-sigma-style bracket (the
# q34 pattern: DuckDB cannot evaluate the engine's sketch, so the oracle
# pins the bracket BOOLEAN — a hash mismatch on est_ok means the estimate
# left its error envelope). Vocabulary growth per source is a standard
# ingest-monitoring signal (a source whose vocab stops growing is
# duplicating; one that explodes is spam/encoding noise).
#
# Scale shape: at 100 TB the EXACT count (count_distinct expands every
# (source, token) pair through a shuffle) is the oracle-gating truth path
# at test SFs; the production path is the SKETCH — one partial-aggregable
# pass, O(sources x 2^lgK) bytes of state — maintained incrementally by
# streaming/rollup.py:hll_vocab_maintainer (register-max lattice: merge
# is associative, commutative, idempotent, so sketch(A)∪sketch(B) ==
# sketch(A∪B) BIT-EXACTLY and served == batch estimates structurally via
# the shared hll_estimate_readout). lgK=12 -> relative std error ~1.6%,
# bracket at 5%.
# ---------------------------------------------------------------------------

_Q114_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest({sql_tokens('text')}) AS tok FROM documents
)
SELECT source,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_vocab,
       TRUE AS est_ok
FROM toks GROUP BY source ORDER BY source
"""


@query("q114_vocab_size", _Q114_ORACLE)
def q114_vocab_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.functions.text import tokens
    from mapreduce_paper_implementation_spark.operators.serving import (
        hll_estimate_readout,
        vocab_sketch_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source")
        .agg(F.count_distinct("tok").cast("long").alias("n_vocab"))
    )
    # eqNullSafe: the oracle's GROUP BY keeps a NULL-source group, so the
    # bracket join must too (a plain inner equi-join would drop it)
    est = hll_estimate_readout(vocab_sketch_frame(docs)).withColumnRenamed(
        "source", "_src"
    )
    return (
        exact.join(est, F.col("source").eqNullSafe(F.col("_src")))
        .drop("_src")
        .select(
            "source",
            "n_vocab",
            (
                F.abs(F.col("n_distinct_est") - F.col("n_vocab"))
                <= 0.05 * F.col("n_vocab")
            ).alias("est_ok"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q116 semantic decontamination — q55's embedding twin (VERDICT r09 ask #2):
# a training vector is contaminated when its cosine against ANY vector of
# the eval slice (vec_id % 29 == 0, the q55 convention) reaches 0.35.
# Lexical n-gram overlap (q55) misses paraphrased/translated eval leakage;
# SemDeDup-era pipelines run this gate alongside it.
#
# Shares the ENTIRE trained k-means index with q29/q72/q83 — same
# kmeans_fit build, same assign_cells boundaries (nassign=2), so the
# oracle replays the identical _ivf_build_ctes Lloyd unroll and the four
# semantic queries cannot drift on cell boundaries or rounding.
#
# Scale shape (operators/dedup.py:semantic_decontaminate): the q55
# posture lifted to embedding space — eval vectors are benchmark-sized,
# so the per-cell eval side BROADCASTS and the corpus streams map-side
# against it (JVM cosine fold, no GEMM stage, no Python boundary, the
# corpus never shuffles); only HIT pairs reach a shuffle.
# ---------------------------------------------------------------------------


def _q116_oracle(threshold: float = 0.35, nassign: int = 2) -> str:
    from mapreduce_paper_implementation_spark.plans.queries import _ivf_build_ctes

    ctes = _ivf_build_ctes(16, 2)
    ctes.append(
        f"""candk AS (
  SELECT vv.vec_id, vv.vec, vv.nrm, a.cell
  FROM vv JOIN assigned a ON a.vec_id = vv.vec_id AND a.cell_rank <= {nassign}
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
, ev AS (SELECT * FROM candk WHERE vec_id % 29 = 0)
, tr AS (SELECT * FROM candk WHERE vec_id % 29 <> 0)
, hits AS (
  SELECT t.vec_id, e.vec_id AS eval_id,
         MAX(CAST(ROUND(list_dot_product(t.vec, e.vec) / (t.nrm * e.nrm), 6)
                  AS DECIMAL(9,6))) AS c
  FROM tr t JOIN ev e ON t.cell = e.cell
  GROUP BY 1, 2
)
SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
       CAST(MAX(c) AS DOUBLE) AS max_eval_cos
FROM hits WHERE c >= {threshold}
GROUP BY vec_id ORDER BY vec_id
"""
    )


@query("q116_semantic_decontaminate", _q116_oracle())
def q116_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.dedup import (
        semantic_decontaminate,
    )

    from mapreduce_paper_implementation_spark.operators.ann_release import (
        published_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # coarse centroids from the published release index when available
    # (VERDICT r12 #1) — the cell geometry is shared with q118/q127, so
    # one offline build serves all three semantic queries
    idx = published_ann_index(spark) or {}
    return semantic_decontaminate(
        emb,
        eval_mod=29,
        n_cells=16,
        threshold=0.35,
        nassign=2,
        centroids=idx.get("centroids"),
    )


# ---------------------------------------------------------------------------
# Q118 IVF-PQ quantized ANN (VERDICT r09 stretch #7) — the memory-bound
# 100-TB retrieval path: q29's trained coarse probe with the candidates
# represented ONLY by m=8 product-quantization codes (per-subspace k-means
# codebooks over normalized vectors) and scored by ADC — the query's
# (sub_j, code) -> partial-dot lookup table, summed. Candidate float
# vectors are never touched at query time (Jégou et al. 2011).
#
# The oracle is the deepest unrolled-training-loop replay in the manifest:
# the shared _ivf_build_ctes coarse build (identical to q29/q72/q83/q116)
# PLUS four per-subspace Lloyd unrolls over normalized subvector slices,
# the code assignment (ROUND(L2^2,6), tie to lower code), the LUT
# (ROUND(dot,6) as DECIMAL(12,6)) and the exact decimal ADC sum — so
# codebooks, codes, and ranks are all hash-pinned engine-to-engine. The
# ADC score sums DECIMALS, not doubles: associative and order-free, so
# join/aggregation order cannot flip a rank on either engine.
#
# Two-stage retrieve+refine (the production IVF-PQ shape): ADC ranks the
# probed cells from codes alone, the top-`refine` (64) per probe survive,
# and only those touch float vectors for an exact-cosine re-rank — so the
# output ranks are EXACT cosines of the shortlist (q16/q29 semantics).
# Refinement is load-bearing at scale (measured, BENCH_SCALE): ADC-only
# top-3 recall on planted partners decays 0.86 (x1) -> 0.0 (x100) because
# the MAX ADC error across a growing noise-candidate pool grows even
# though the per-candidate error is constant.
# ---------------------------------------------------------------------------

_PQ_M, _PQ_KS, _PQ_DIM = 8, 16, 64


def _pq_subspace_ctes(j: int, sd: int, ks: int, iters: int = 2) -> tuple[list[str], str, str]:
    """CTEs replaying kmeans_fit on subspace j of the normalized vectors
    (same unroll shape as _ivf_build_ctes, L2 metric throughout) + the
    encode assignment. Returns (ctes, codebook_cte, encode_cte)."""

    def d2(a: str, b: str) -> str:
        return (
            f"ROUND(list_dot_product({a},{a}) - 2*list_dot_product({a},{b})"
            f" + list_dot_product({b},{b}), 6)"
        )

    lo, hi = j * sd + 1, (j + 1) * sd
    ctes = [
        f"""sv{j} AS MATERIALIZED (
  SELECT vec_id, list_slice(nvec, {lo}, {hi}) AS vec FROM nv
)""",
        f"""c{j}_0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cell, vec AS c_vec
  FROM (SELECT vec_id, vec FROM sv{j} ORDER BY vec_id LIMIT {ks})
)""",
    ]
    prev = f"c{j}_0"
    for i in range(1, iters + 1):
        ctes += [
            f"""a{j}_{i} AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {d2("v.vec", "c.c_vec")} ASC, c.cell ASC) AS r
    FROM sv{j} v CROSS JOIN {prev} c
  ) WHERE r = 1
)""",
            f"""m{j}_{i} AS (
  SELECT cell, list(m ORDER BY pos) AS c_vec
  FROM (
    SELECT cell, pos, AVG(x) AS m
    FROM (
      SELECT a.cell, UNNEST(v.vec) AS x, UNNEST(range(len(v.vec))) AS pos
      FROM a{j}_{i} a JOIN sv{j} v ON v.vec_id = a.vec_id
    )
    GROUP BY cell, pos
  )
  GROUP BY cell
)""",
            f"""c{j}_{i} AS MATERIALIZED (
  SELECT p.cell, COALESCE(m.c_vec, p.c_vec) AS c_vec
  FROM {prev} p LEFT JOIN m{j}_{i} m ON m.cell = p.cell
)""",
        ]
        prev = f"c{j}_{i}"
    ctes.append(
        f"""enc{j} AS MATERIALIZED (
  SELECT vec_id, cell AS code FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {d2("v.vec", "c.c_vec")} ASC, c.cell ASC) AS r
    FROM sv{j} v CROSS JOIN {prev} c
  ) WHERE r = 1
)"""
    )
    return ctes, prev, f"enc{j}"


def _q118_oracle(
    m: int = _PQ_M,
    ks: int = _PQ_KS,
    dim: int = _PQ_DIM,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 3,
    refine: int = 64,
) -> str:
    from mapreduce_paper_implementation_spark.plans.queries import _ivf_build_ctes

    sd = dim // m
    ctes = _ivf_build_ctes(n_cells, 2)  # coarse build on RAW vectors (q29-shared)
    ctes.append(
        """nv AS MATERIALIZED (
  SELECT vec_id,
         list_transform(vec, x -> x / sqrt(list_dot_product(vec, vec))) AS nvec
  FROM v
)"""
    )
    book_names, enc_names = [], []
    for j in range(m):
        sub_ctes, book, enc = _pq_subspace_ctes(j, sd, ks)
        ctes += sub_ctes
        book_names.append(book)
        enc_names.append(enc)
    lut_parts, enc_parts = [], []
    for j in range(m):
        lo, hi = j * sd + 1, (j + 1) * sd
        ctes.append(
            f"""lut{j} AS (
  SELECT p.vec_id AS probe_id, {j} AS sub_j, c.cell AS code,
         CAST(ROUND(list_dot_product(list_slice(p.nvec, {lo}, {hi}), c.c_vec), 6)
              AS DECIMAL(12,6)) AS w
  FROM (SELECT vec_id, nvec FROM nv WHERE vec_id < 10) p
  CROSS JOIN {book_names[j]} c
)"""
        )
        lut_parts.append(f"SELECT * FROM lut{j}")
        enc_parts.append(f"SELECT vec_id, {j} AS sub_j, code FROM {enc_names[j]}")
    ctes += [
        "lut_all AS (\n  " + "\n  UNION ALL ".join(lut_parts) + "\n)",
        "enc_all AS (\n  " + "\n  UNION ALL ".join(enc_parts) + "\n)",
        f"""pc AS (
  SELECT vec_id AS probe_id, cell FROM assigned
  WHERE vec_id < 10 AND cell_rank <= {nprobe}
)""",
        """pairs AS MATERIALIZED (
  SELECT DISTINCT pc.probe_id, c.vec_id AS neighbor_id
  FROM cand c JOIN pc ON c.cell = pc.cell AND c.vec_id <> pc.probe_id
)""",
        """adc AS (
  SELECT pr.probe_id, pr.neighbor_id, SUM(l.w) AS s
  FROM pairs pr
  JOIN enc_all e ON e.vec_id = pr.neighbor_id
  JOIN lut_all l ON l.probe_id = pr.probe_id AND l.sub_j = e.sub_j AND l.code = e.code
  GROUP BY 1, 2
)""",
    ]
    ctes += [
        f"""short AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT probe_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY s DESC, neighbor_id) AS arnk
    FROM adc
  ) WHERE arnk <= {refine}
)""",
        """ex AS (
  SELECT sh.probe_id, sh.neighbor_id,
         CAST(ROUND(list_dot_product(pv.vec, cv.vec) / (pv.nrm * cv.nrm), 6)
              AS DECIMAL(9,6)) AS cos_dec
  FROM short sh
  JOIN vv pv ON pv.vec_id = sh.probe_id
  JOIN vv cv ON cv.vec_id = sh.neighbor_id
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT probe_id, neighbor_id, CAST(cos_dec AS DOUBLE) AS cos_sim,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT probe_id, neighbor_id, cos_dec,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_dec DESC, neighbor_id) AS rnk
  FROM ex
)
WHERE rnk <= {k}
ORDER BY probe_id, rnk
"""
    )


@query("q118_ann_ivf_pq", _q118_oracle())
def q118_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.ann_release import (
        published_ann_index,
    )
    from mapreduce_paper_implementation_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # PRODUCTION DEFAULT (VERDICT r12 #1, the CC-cut pattern): when a
    # release index is published ($SPARK_GRAFT_ANN_INDEX), query time
    # touches centroids/codebooks/cells/codes — never a k-means fit —
    # and the corpus floats only for the probes x refine re-rank.
    # Fallback: the self-contained inline build (bit-identical results;
    # tests/test_round13_additions.py pins the equality, the unchanged
    # oracle hash-gates both modes).
    idx = published_ann_index(spark) or {}
    return ivf_pq_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=3,
        n_cells=16,
        nprobe=4,
        m=_PQ_M,
        ks=_PQ_KS,
        dim=_PQ_DIM,
        centroids=idx.get("centroids"),
        codebooks=idx.get("codebooks"),
        cells=idx.get("cells"),
        codes=idx.get("codes"),
    )


# ---------------------------------------------------------------------------
# Q135 indexed ANN as its own manifest row (round 14, VERDICT r13 #4).
# q118 deliberately stays the self-contained correctness gate: when no
# index is published it trains inline, so its bench row prices the OFFLINE
# build, not the production query. q135 pins the production shape under
# the same DuckDB hash gate: the IVF-PQ artifacts are ALWAYS read from a
# published release index — $SPARK_GRAFT_ANN_INDEX when set, else a
# deterministic per-corpus scratch index under the system temp dir,
# published ONCE and reused across runs (the offline-job stand-in; keyed
# by the embeddings file identity so a regenerated corpus can never be
# served a stale geometry). Training is bit-deterministic
# (operators/ann_release.py contract), so q135's rows are identical to
# q118's and the shared oracle hash-gates both; what q135 adds is the
# driver-visible price of the query-time path (BENCH_ANN_INDEX's 2.2 s vs
# 8.5 s inline at sf0.1) and a plan pinned to contain NO training
# (tests/test_round14_additions.py).
# ---------------------------------------------------------------------------


def _q135_index(spark: SparkSession, sf_dir: str) -> dict:
    """The published index for q135: env-published if set, else the
    per-corpus scratch publication (build once, reuse forever)."""
    import hashlib
    import os
    import tempfile

    from mapreduce_paper_implementation_spark.operators.ann_release import (
        load_ann_index,
        publish_ann_index,
        published_ann_index,
    )
    from mapreduce_paper_implementation_spark.statedir import VersionedStateDir

    idx = published_ann_index(spark)
    if idx is not None:
        return idx
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), "spark_graft_ann_scratch", slug)
    if VersionedStateDir(root).pointer() is None:
        publish_ann_index(load_table(spark, sf_dir, "embeddings"), root)
    return load_ann_index(spark, root)


@query("q135_ann_indexed", _q118_oracle())
def q135_ann_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _q135_index(spark, sf_dir)
    return ivf_pq_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=3,
        n_cells=16,
        nprobe=4,
        m=_PQ_M,
        ks=_PQ_KS,
        dim=_PQ_DIM,
        centroids=idx["centroids"],
        codebooks=idx["codebooks"],
        cells=idx["cells"],
        codes=idx["codes"],
    )


# ---------------------------------------------------------------------------
# Q120 mergeable rank-sketch quantiles over UNBOUNDED-precision values
# (VERDICT r10 ask #2). The exact-quantile family (q80/q110/q112/q113)
# rides the round-then-histogram trick — correct ONLY because those value
# domains are bounded (cents, round-6 scores). Continuous doubles have no
# bin domain, and the 100-TB path there is a mergeable rank sketch:
# per-partition bounded summaries, associative merge, O(sketch) rank
# queries (operators/sketch.py:_QSketch — deterministic multi-level
# compactor, Munro-Paterson/MRL/KLL family).
#
# Gate (the q34/q114 bracket pattern): Spark emits, per (event_type, phi),
# the EXACT order statistic (sketch-independent, reproducible by DuckDB
# bit-for-bit — k-th smallest is a selection, no arithmetic) plus the
# boolean est_ok = |rank(est)/n - phi| <= 0.02, where rank(est) is the
# exact rank of the sketch's estimate (a map-side count, no second sort).
# The oracle pins TRUE. Measured headroom: worst rank error 0.34% at 5M
# lognormal values with k=512 (6x inside the bracket); the tighter
# numeric gates live in tests/test_operators.py + the hypothesis merge
# replay in tests/test_properties.py.
#
# Scale note: the window row_number producing the exact side is the
# BRACKET HARNESS, not the production path (exactly like q34's exact
# count_distinct) — production runs the sketch alone; its from-state
# readout is benched flat in BENCH_SCALE and maintained incrementally by
# streaming/rollup.py:quantile_sketch_maintainer.
# ---------------------------------------------------------------------------

_Q120_PHIS = (0.5, 0.95, 0.99)
_Q120_EPS = 0.02

_Q120_ORACLE = f"""
WITH base AS (
  SELECT event_type, {SQL_CONTINUOUS_V} AS v FROM events
),
g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1),
ks AS (
  SELECT event_type, n, CAST(phi AS DOUBLE) AS phi,
         CAST(ceil(CAST(phi AS DOUBLE) * n) AS BIGINT) AS kk
  FROM g CROSS JOIN (VALUES (0.5), (0.95), (0.99)) p(phi)
),
r AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn
  FROM base
)
SELECT ks.event_type, ks.phi, ks.n, r.v AS exact_q, TRUE AS est_ok
FROM ks JOIN r ON r.event_type = ks.event_type AND r.rn = ks.kk
ORDER BY ks.event_type, ks.phi
"""


@query("q120_sketch_quantiles", _Q120_ORACLE)
def q120_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist
    from mapreduce_paper_implementation_spark.operators.serving import (
        continuous_value_frame,
    )
    from mapreduce_paper_implementation_spark.operators.sketch import (
        quantile_sketch_state,
        quantiles_from_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    # base feeds three consumers (counts+exact window, sketch build, the
    # rank-of-estimate count) — persist or the scan+project replays each
    base = scoped_persist(continuous_value_frame(ev))
    g = base.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    ks = g.select(
        "event_type",
        "n",
        F.explode(F.array(*[F.lit(p) for p in _Q120_PHIS])).alias("phi"),
    ).withColumn("kk", F.ceil(F.col("phi") * F.col("n")).cast("long"))
    r = base.withColumn(
        "rn", F.row_number().over(Window.partitionBy("event_type").orderBy("v"))
    )
    exact = r.join(
        F.broadcast(ks.withColumnRenamed("event_type", "_et")),
        (F.col("event_type") == F.col("_et")) & (F.col("rn") == F.col("kk")),
    ).select("event_type", "phi", "n", F.col("v").alias("exact_q"))

    ests = quantiles_from_sketch(
        quantile_sketch_state(base, "event_type", "v"), "event_type", _Q120_PHIS
    )
    rank_cnt = (
        base.join(
            F.broadcast(
                ests.select(
                    F.col("event_type").alias("_et2"), "phi", "est"
                )
            ),
            F.col("event_type") == F.col("_et2"),
        )
        .groupBy("_et2", "phi")
        .agg(F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0)).alias("rk"))
    )
    return (
        exact.join(
            rank_cnt,
            (exact["event_type"] == rank_cnt["_et2"]) & (exact["phi"] == rank_cnt["phi"]),
        )
        .select(
            "event_type",
            exact["phi"].alias("phi"),
            "n",
            "exact_q",
            (
                F.abs(F.col("rk").cast("double") / F.col("n").cast("double") - exact["phi"])
                <= F.lit(_Q120_EPS)
            ).alias("est_ok"),
        )
        .orderBy("event_type", "phi")
    )


