"""The declared query manifest (SURVEY.md §2D, Q1-Q17).

Each query is a function (spark, sf_dir) -> DataFrame paired with an ANSI-SQL
oracle string DuckDB runs on the same parquet tables. Determinism contract
(SURVEY.md §2D): outputs fully sorted by key columns; money sums computed as
DECIMAL(18,4) internally; averages ROUND(..., 4); tokenizer = `[^A-Za-z]+`
case-sensitive drop-empties; similarity ranks round cosine to 6 decimals,
tiebreak ascending id.

Output dtype contract (round-2 fix): every FINAL projected inexact-valued
column is DOUBLE on both sides — Spark appends `.cast("double")` after the
exact decimal arithmetic, the oracle wraps the identical decimal expression
in `CAST(... AS DOUBLE)`. Rationale: the grading driver canonicalizes both
results through pandas, where DuckDB decimals arrive as float64 but Spark
rows keep `Decimal('765205.0000')` objects — trailing-zero scale then breaks
the value hash even when every value is identical. Converting the SAME exact
decimal to double on both engines is bit-identical (IEEE correctly-rounded
conversion, unscaled values << 2^53), so the contract is float64-vs-float64.

Scale notes are inline per query: the manifest is tested at sf0.01/0.1 but
every plan is written for a 1000-executor cluster reading 100 TB — broadcast
hints on fixed-size dimensions, partial aggregation everywhere (Spark's
HashAggregate partial/final pair is the combiner the reference lacks,
/root/reference/mr/worker.go:86-89), no collect() in any operator.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_paper_implementation_spark.functions.text import token_count, tokens
from mapreduce_paper_implementation_spark.shipping import ensure_shipped
from mapreduce_paper_implementation_spark.sources.credit_fixture import credit_paths
from mapreduce_paper_implementation_spark.sources.tables import load_table

DEC = "decimal(18,4)"

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        # ensure_shipped: the grading driver hands us a vanilla session whose
        # executors can't import this package; ship it before any UDF runs.
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_shipped(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token) pairs — the engine's word-level view of `documents`.

    Spark plan: parquet scan (pruned to doc_id,text) -> split/filter/explode,
    all inside whole-stage codegen. Reference analog: the Map phase of wc
    (/root/reference/mr-main/mrapps/wc.go:21-34)."""
    docs = load_table(spark, sf_dir, "documents")
    # Row-level explode(split) + WHERE keeps the whole pipeline inside
    # whole-stage codegen (GenerateExec); an array-filter HOF here would be
    # CodegenFallback and break the codegen span.
    return (
        docs.select("doc_id", F.explode(F.split("text", "[^A-Za-z]+")).alias("token"))
        .where(F.col("token") != "")
    )


# ---------------------------------------------------------------------------
# Q1 word count — mrapps/wc.go:21-42
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS token
  FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY token
"""


@query("q01_wordcount", _Q1_ORACLE)
def q01_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency over the corpus. The shuffle carries partially
    aggregated (token, count) pairs, not raw ("word","1") pairs — the
    combiner the reference never implemented."""
    return (
        _doc_tokens(spark, sf_dir)
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy("token")
    )


# ---------------------------------------------------------------------------
# Q2 inverted index — mrapps/indexer.go:21-40
# ---------------------------------------------------------------------------

_Q2_ORACLE = """
WITH toks AS (
  SELECT DISTINCT token, CAST(doc_id AS VARCHAR) AS doc
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS token
    FROM documents
  )
  WHERE token <> ''
)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS df_count,
       string_agg(doc, ',' ORDER BY doc) AS doc_list
FROM toks
GROUP BY token
ORDER BY token
"""


@query("q02_inverted_index", _Q2_ORACLE)
def q02_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per token: document frequency + comma-joined lexicographically sorted
    doc list. distinct() is the map-side de-dup of indexer.go:22-27; Spark
    runs it as a partial-aggregate before the shuffle."""
    pairs = (
        _doc_tokens(spark, sf_dir)
        .select("token", F.col("doc_id").cast("string").alias("doc"))
        .distinct()
    )
    return (
        pairs.groupBy("token")
        .agg(
            F.count("*").alias("df_count"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc"))).alias("doc_list"),
        )
        .orderBy("token")
    )


# ---------------------------------------------------------------------------
# Q3 credit — mrapps/credit.go:21-58; mr/README.md:139-155
# ---------------------------------------------------------------------------

# The oracle reads the deterministic parquet fixture (well-formed rows only);
# the Spark side reads the CSV *with* malformed lines and must drop them,
# reproducing credit.go's permissive parse. NOTE: the oracle SQL is a static
# string with no sf_dir parameter, so it pins the sf0.01 fixture — the SF the
# driver's correctness gate runs at. Running the oracle comparison at any
# other SF reports a (spurious) mismatch for this one query; the Spark side
# itself is SF-correct (it derives the CSV path from sf_dir).
_Q3_ORACLE = """
SELECT agency, CAST(COUNT(*) AS BIGINT) AS cnt
FROM read_parquet('/root/repo/fixtures/credit/sf0.01/credit_scores.parquet')
WHERE year = 2023 AND credit_score > 400
GROUP BY agency
ORDER BY agency
"""

# All-string read + explicit validation mirrors credit.go's guards exactly
# (len(fields) check -> non-null fields; strconv.Atoi -> int cast non-null)
# and, unlike CSV mode=DROPMALFORMED, is independent of Catalyst's CSV column
# pruning (DROPMALFORMED only drops a row when a *selected* column fails to
# parse, so its semantics shift with the projection).
_CREDIT_RAW_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("agency", T.StringType()),
        T.StructField("year", T.StringType()),
        T.StructField("credit_score", T.StringType()),
    ]
)


def read_credit_csv(spark: SparkSession, csv_path: str, observation=None) -> DataFrame:
    """Permissive credit_scores CSV reader with the reference's drop-malformed
    semantics (credit.go:30-41): short rows and non-integer year/score are
    dropped, not null-filled. Returns typed (user_id, agency, year,
    credit_score).

    Pass a pyspark Observation as `observation` to collect the raw row count
    during whatever action consumes the result — dropped-row accounting with
    ZERO extra passes over the data (at 100 TB a second counting scan is a
    second 100 TB read). observation.get["raw_rows"] - result_count =
    malformed rows dropped."""
    raw = spark.read.csv(csv_path, header=True, schema=_CREDIT_RAW_SCHEMA)
    if observation is not None:
        raw = raw.observe(observation, F.count(F.lit(1)).alias("raw_rows"))
    typed = raw.select(
        F.col("user_id"),
        F.col("agency"),
        F.col("year").try_cast("int").alias("year"),
        F.col("credit_score").try_cast("int").alias("credit_score"),
    )
    return typed.where(
        F.col("user_id").isNotNull()
        & F.col("agency").isNotNull()
        & F.col("year").isNotNull()
        & F.col("credit_score").isNotNull()
    )


@query("q03_credit", _Q3_ORACLE)
def q03_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) per agency WHERE year=2023 AND credit_score>400 over the
    permissively parsed CSV (malformed rows dropped)."""
    _, csv_path = credit_paths(sf_dir)
    return (
        read_credit_csv(spark, csv_path)
        .where((F.col("year") == 2023) & (F.col("credit_score") > 400))
        .groupBy("agency")
        .agg(F.count("*").alias("cnt"))
        .orderBy("agency")
    )


# ---------------------------------------------------------------------------
# Q4 per-source doc stats — mrapps/crash.go:40-43 metadata generalized
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY source ORDER BY source
"""


@query("q04_source_stats", _Q4_ORACLE)
def q04_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("cnt"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q5 count per group key — mrapps/early_exit.go:19-23
# ---------------------------------------------------------------------------

_Q5_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("q05_event_counts", _Q5_ORACLE)
def q05_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q6 filter + aggregate (TPC-H Q6 shape) — predicate capability of
# credit.go:43 generalized
# ---------------------------------------------------------------------------

# Window [1996-01-01, 1997-01-01): the fixture's l_shipdate range is
# 1995-01-02 .. 2001-11-04, so this selects a real year of rows (the r1
# window of 1994 matched ZERO rows at every SF — vacuously green).
# tests/test_queries.py asserts the match count is non-zero.
_Q6_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_rev
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@query("q06_filtered_agg", _Q6_ORACLE)
def q06_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All predicates push down to the parquet scan (PushedFilters in
    .explain); the aggregate is a two-phase partial/final with no groups —
    one row crosses the exchange per partition."""
    li = load_table(spark, sf_dir, "lineitem")
    ship_t = li.schema["l_shipdate"].dataType
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast(ship_t))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast(ship_t))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC))
            .cast(DEC)
            .cast("double")
            .alias("sum_disc_rev"),
        )
    )


# ---------------------------------------------------------------------------
# Q7 multi-aggregate grouping (TPC-H Q1 shape) — A4/A6 generalized
# ---------------------------------------------------------------------------

_Q7_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q07_pricing_summary", _Q7_ORACLE)
def q07_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast(DEC).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast(DEC).cast("double").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC)))
            .cast(DEC)
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q8 top-k tokens — B1 + global sort capability (mrsequential.go:61)
# ---------------------------------------------------------------------------

_Q8_ORACLE = """
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS token FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY cnt DESC, token
LIMIT 10
"""


@query("q08_top_tokens", _Q8_ORACLE)
def q08_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy().limit(k) compiles to TakeOrderedAndProject — a per-partition
    top-k + driver merge, no global sort materialization."""
    return (
        _doc_tokens(spark, sf_dir)
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q9 distinct count — indexer.go:22-27 distinct pattern
# ---------------------------------------------------------------------------

_Q9_ORACLE = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("q09_distinct_users", _Q9_ORACLE)
def q09_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q10 equi-join — reduce-side join, model-expressible (paper §2.3)
# ---------------------------------------------------------------------------

_Q10_ORACLE = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def orders_by_segment_shape(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """q10's join+agg shape over caller-supplied frames — shared by q10
    (broadcast customer) and its bucketed-catalog twin
    (plans/bucketed_catalog.py: both sides bucketed on custkey, zero join
    exchange) so the two cannot drift."""
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"))
        .orderBy("c_mktsegment")
    )


@query("q10_orders_by_segment", _Q10_ORACLE)
def q10_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer is orders/10 rows (TPC-H ratio) — broadcast it so the fact
    table never shuffles for the join; only the tiny post-agg exchange runs.
    At 100 TB customer no longer broadcasts (1.5B rows at sf10k): the scale
    layout is the custkey-bucketed catalog (plans/bucketed_catalog.py),
    which runs this same shape with ZERO join exchanges."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return orders_by_segment_shape(orders, F.broadcast(customer))


# ---------------------------------------------------------------------------
# Q11 multi-way join (TPC-H Q5 shape, no supplier) — SURVEY §2D
# ---------------------------------------------------------------------------

_Q11_ORACLE = """
SELECT n_name,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY n_name
"""


def regional_revenue_shape(
    c: DataFrame, o: DataFrame, li: DataFrame, n: DataFrame, r: DataFrame
) -> DataFrame:
    """q11's star-join shape over caller-supplied frames — shared by q11
    (plain parquet scans) and its bucketed-catalog twin
    (plans/bucketed_catalog.py: lineitem/orders bucketed on orderkey kill
    the fact-fact exchange; customer bucketed on custkey kills its side of
    the second join) so the two cannot drift. region/nation stay broadcast
    at ANY scale (fixed 5/25 rows)."""
    asian_nations = n.join(
        F.broadcast(r.where(F.col("r_name") == "ASIA")),
        n["n_regionkey"] == r["r_regionkey"],
    ).select("n_nationkey", "n_name")
    cust = c.join(
        F.broadcast(asian_nations), c["c_nationkey"] == F.col("n_nationkey")
    ).select("c_custkey", "n_name")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust, o["o_custkey"] == cust["c_custkey"])
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC)))
            .cast(DEC)
            .cast("double")
            .alias("revenue")
        )
        .orderBy("n_name")
    )


@query("q11_regional_revenue", _Q11_ORACLE)
def q11_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: region/nation are fixed-size (5/25 rows at ANY scale
    factor) -> broadcast; the region filter prunes customers before the
    fact joins; lineitem⋈orders is the only big shuffle (AQE may pick
    broadcast at small sf). At 100 TB, bucketing lineitem+orders by
    orderkey removes that shuffle too — implemented and plan-pinned in
    plans/bucketed_catalog.py."""
    return regional_revenue_shape(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


# ---------------------------------------------------------------------------
# Q12 set op — union-of-inputs capability generalized (mrsequential.go:41-53)
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM (
  SELECT DISTINCT o_custkey AS custkey FROM orders
  EXCEPT
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
"""


@query("q12_except_building", _Q12_ORACLE)
def q12_except_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    with_orders = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    building = customer.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    return with_orders.subtract(building).agg(F.count("*").alias("cnt"))


# ---------------------------------------------------------------------------
# Q13 window rank — beyond reference (SURVEY §2C committed)
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
SELECT event_type, event_id, CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS value_dec, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
  FROM events
)
WHERE rnk <= 3
ORDER BY event_type, rnk
"""


@query("q13_top_events_per_type", _Q13_ORACLE)
def q13_top_events_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank within partition: value desc, event_id tiebreak (unique ->
    row_number == dense_rank). One shuffle on event_type; the window itself
    is a sort within partitions."""
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "event_id",
            F.col("value").cast(DEC).cast("double").alias("value_dec"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .where(F.col("rnk") <= 3)
        .orderBy("event_type", "rnk")
    )


# ---------------------------------------------------------------------------
# Q14 exact dedup — north star (dedup)
# ---------------------------------------------------------------------------

_Q14_ORACLE = """
SELECT md5(text) AS text_hash, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(MIN(doc_id) AS BIGINT) AS keeper
FROM documents
GROUP BY md5(text)
HAVING COUNT(*) > 1
ORDER BY text_hash
"""


@query("q14_exact_dup_groups", _Q14_ORACLE)
def q14_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash; `keeper` = the canonical
    survivor (min doc_id). Hash-groupBy shuffles 16-byte digests, not
    document bodies — the 100 TB-safe formulation."""
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.md5(F.col("text").cast("binary")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("keeper"))
        .where(F.col("cnt") > 1)
        .orderBy("text_hash")
    )


# ---------------------------------------------------------------------------
# Q15 text stats — north star (text analysis)
# ---------------------------------------------------------------------------

_Q15_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), t -> t <> ''))) AS BIGINT) AS sum_tokens,
       CAST(CAST(ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


@query("q15_lang_stats", _Q15_ORACLE)
def q15_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(token_count("text").cast("long")).alias("sum_tokens"),
            F.round(F.sum("n_chars").cast("double") / F.count("*"), 4)
            .cast(DEC)
            .cast("double")
            .alias("avg_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q16 similarity top-k — north star (similarity search)
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         CAST(ROUND(list_dot_product(p.vec, c.vec) / (p.nrm * c.nrm), 6) AS DECIMAL(9,6)) AS cos_sim
  FROM v p JOIN v c ON p.vec_id < 10 AND c.vec_id <> p.vec_id
),
ranked AS (
  SELECT probe_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
  FROM pairs
)
SELECT probe_id, neighbor_id, CAST(cos_sim AS DOUBLE) AS cos_sim, rnk
FROM ranked WHERE rnk <= 3
ORDER BY probe_id, rnk
"""


@query("q16_knn_cosine", _Q16_ORACLE)
def q16_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-3 for probes vec_id<10
    (operators/similarity.py:brute_force_topk): broadcast the probe set,
    one pass over candidates (BroadcastNestedLoopJoin), per-probe top-k via
    window. Dot products are JVM higher-order functions — no Python in the
    scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.where(F.col("vec_id") < 10))


# ---------------------------------------------------------------------------
# Q17 user activity span — grouping on timestamps
# ---------------------------------------------------------------------------

_Q17_ORACLE = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(epoch(date_trunc('second', MAX(ts))) - epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS span_s
FROM events
GROUP BY user_id
HAVING COUNT(*) >= 5
ORDER BY user_id
"""


@query("q17_user_span", _Q17_ORACLE)
def q17_user_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("cnt"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .cast("long")
            .alias("span_s"),
        )
        .where(F.col("cnt") >= 5)
        .orderBy("user_id")
    )


# ===========================================================================
# North-star operators (SURVEY.md §2C committed-beyond-reference;
# BASELINE.json north_star): dedup, similarity search, text analysis,
# sessionization, multimodal plumbing, grouping sets.
# ===========================================================================

from mapreduce_paper_implementation_spark.operators.dedup import (  # noqa: E402
    DEFAULT_MAX_SHINGLE_DF,
    embedding_neardup_pairs_blocked,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from mapreduce_paper_implementation_spark.operators.multimodal import (  # noqa: E402
    decode_media,
    extract_features,
    media_stats_by_source,
    sample_frames,
    with_media_column,
)
from mapreduce_paper_implementation_spark.operators.sessionize import session_stats  # noqa: E402
from mapreduce_paper_implementation_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from mapreduce_paper_implementation_spark.operators.text_analysis import (  # noqa: E402
    bpe_token_count,
    fingerprint,
    predict_lang,
    quality_score,
    sql_stop_ratio,
    sql_tokens,
)

# ---------------------------------------------------------------------------
# Q18 MinHash+LSH near-dup — north star (dedup, scale path)
# ---------------------------------------------------------------------------

# Oracle = EXACT all-pairs Jaccard >= 0.8. The LSH path must recover every
# such pair: at (b=16, r=4) the miss probability for the J>=0.9 pairs the
# fixtures plant is < 1e-12, so exact equality is the expected outcome.
_Q18_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, list_distinct(
    list_transform(
      range(1, greatest(len({sql_tokens('text')}) - 1, 1)),
      i -> array_to_string(list_slice({sql_tokens('text')}, i, i + 2), ' ')
    )) AS shingles
  FROM documents
  WHERE len({sql_tokens('text')}) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(CAST(ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6)
            AS DECIMAL(9,6)) AS DOUBLE) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles)) > 0
  AND CAST(ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6)
      AS DECIMAL(9,6)) >= 0.8
ORDER BY id_a, id_b
"""


@query("q18_minhash_neardup", _Q18_ORACLE)
def q18_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.8
    )


# ---------------------------------------------------------------------------
# Q19 SimHash near-dup — north star (dedup). Oracle-checked since round 2:
# the token hash is md5-derived (operators/dedup.py:md5_h64), which DuckDB
# computes identically via CAST('0x' || substr(md5(t), ...) AS BIGINT), so
# the ENTIRE pipeline — 64 signed bit-sums, 4x16-bit banding, candidate
# bucket join, bit_count(xor) hamming verify — is SQL-expressible.
# ---------------------------------------------------------------------------


def _q19_oracle(bits: int = 64, band_bits: int = 16, max_distance: int = 3) -> str:
    n_chunks = bits // band_bits
    chunk_cols = ",\n       ".join(
        f"CAST('0x' || substr(h, {1 + 4 * i}, 4) AS BIGINT) AS c{i}" for i in range(n_chunks)
    )
    sum_cols = ",\n         ".join(
        f"SUM(CASE WHEN (c{j // 16} >> {j % 16}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    fp_cols = ",\n         ".join(
        " + ".join(
            f"(CASE WHEN b{16 * i + b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
        )
        + f" AS f{i}"
        for i in range(n_chunks)
    )
    coalesced = ", ".join(f"COALESCE(f{i}, 0) AS f{i}" for i in range(n_chunks))
    bands_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, f{i} AS key FROM fps" for i in range(n_chunks)
    )
    hamming = " + ".join(f"bit_count(xor(a.f{i}, b.f{i}))" for i in range(n_chunks))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS t
  FROM documents
),
hx AS (SELECT doc_id, md5(t) AS h FROM toks WHERE t <> ''),
ch AS (
  SELECT doc_id,
       {chunk_cols}
  FROM hx
),
sums AS (
  SELECT doc_id,
         {sum_cols}
  FROM ch GROUP BY doc_id
),
fp0 AS (
  SELECT doc_id,
         {fp_cols}
  FROM sums
),
fps AS (
  SELECT d.doc_id, {coalesced}
  FROM documents d LEFT JOIN fp0 USING (doc_id)
),
bands AS (
  {bands_union}
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
)
SELECT id_a, id_b,
       CAST({hamming} AS INT) AS hamming
FROM cand
JOIN fps a ON a.doc_id = id_a
JOIN fps b ON b.doc_id = id_b
WHERE {hamming} <= {max_distance}
ORDER BY id_a, id_b
"""


@query("q19_simhash_neardup", _q19_oracle())
def q19_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Q20 exact n-gram Jaccard similarity join — north star (dedup, ground truth)
# ---------------------------------------------------------------------------

_Q20_ORACLE = f"""
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
  -- hot-shingle document-frequency cut, mirroring ngram_jaccard_pairs
  -- max_df (operators/dedup.py:DEFAULT_MAX_SHINGLE_DF)
  SELECT * FROM inv0
  WHERE shingle NOT IN (
    SELECT shingle FROM inv0 GROUP BY shingle HAVING COUNT(*) > {DEFAULT_MAX_SHINGLE_DF}
  )
),
co AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS inter
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(CAST(ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS DECIMAL(9,6)) AS DOUBLE) AS jaccard
FROM co
JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON sa.doc_id = id_a
JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON sb.doc_id = id_b
WHERE CAST(ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS DECIMAL(9,6)) >= 0.1
ORDER BY id_a, id_b
"""


@query("q20_ngram_jaccard", _Q20_ORACLE)
def q20_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.1)


# ---------------------------------------------------------------------------
# Q21 embedding-cosine near-dup — north star (dedup over embeddings)
# ---------------------------------------------------------------------------

_Q21_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(CAST(ROUND(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS DECIMAL(9,6)) AS DOUBLE) AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE CAST(ROUND(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS DECIMAL(9,6)) >= 0.45
ORDER BY id_a, id_b
"""


@query("q21_embedding_neardup", _Q21_ORACLE)
def q21_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Blocked-GEMM path (B(B+1)/2 numpy submatrix products via applyInPandas);
    # operators/dedup.py keeps the pure-JVM all-pairs variant as ground truth.
    return embedding_neardup_pairs_blocked(
        load_table(spark, sf_dir, "embeddings"), threshold=0.45
    )


# ---------------------------------------------------------------------------
# Q22 rollup — grouping sets capability (§2C "not in manifest v1", now added)
# ---------------------------------------------------------------------------

_Q22_ORACLE = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


@query("q22_rollup_pricing", _Q22_ORACLE)
def q22_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast(DEC)).cast(DEC).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "cnt",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


# ---------------------------------------------------------------------------
# Q23 language ID — north star (text analysis)
# ---------------------------------------------------------------------------

_Q23_ORACLE = f"""
SELECT doc_id,
       CASE WHEN {sql_stop_ratio('text')} >= 0.1 THEN 'en' ELSE 'unknown' END AS pred_lang
FROM documents
ORDER BY doc_id
"""


@query("q23_langid", _Q23_ORACLE)
def q23_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", predict_lang("text").alias("pred_lang"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q24 quality score — north star (text analysis)
# ---------------------------------------------------------------------------

_Q24_ORACLE = f"""
SELECT doc_id,
       CAST(CAST(ROUND(
         0.4 * LEAST(len({sql_tokens('text')}) / 50.0, 1.0)
         + 0.3 * (CASE WHEN n_chars > 0 THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / n_chars ELSE 0.0 END)
         + 0.3 * LEAST({sql_stop_ratio('text')} * 5, 1.0)
       , 6) AS DECIMAL(9,6)) AS DOUBLE) AS quality
FROM documents
ORDER BY doc_id
"""


@query("q24_quality_score", _Q24_ORACLE)
def q24_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.round(quality_score("text", "n_chars"), 6)
            .cast("decimal(9,6)")
            .cast("double")
            .alias("quality"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q25 token stats (whitespace + BPE-ish regex) — north star (text analysis)
# ---------------------------------------------------------------------------

_Q25_ORACLE = f"""
SELECT doc_id,
       CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       n_chars
FROM documents
ORDER BY doc_id
"""


@query("q25_token_stats", _Q25_ORACLE)
def q25_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.functions.text import token_count as tc

    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            tc("text").cast("long").alias("n_tokens"),
            bpe_token_count("text").cast("long").alias("n_bpe_tokens"),
            "n_chars",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q26 document fingerprint (rolling hash) — north star (text analysis)
# ---------------------------------------------------------------------------

_Q26_ORACLE = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform({sql_tokens('text')}, t -> CAST(ascii(t) * 256 + length(t) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 2147483647
       ) AS fp
FROM documents
ORDER BY doc_id
"""


@query("q26_fingerprint", _Q26_ORACLE)
def q26_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", fingerprint("text").alias("fp"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q27 sessionization (batch) — beyond reference; streaming analog in
# streaming/sessions.py
# ---------------------------------------------------------------------------

_Q27_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(is_new) AS BIGINT) AS n_sessions
FROM marked GROUP BY user_id ORDER BY user_id
"""


@query("q27_sessionize", _Q27_ORACLE)
def q27_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_stats(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Q28/Q29 approximate nearest neighbors — north star (similarity, scale
# paths). Oracle-checked since round 2: the LSH hyperplanes are seeded
# literals (embedded in generated SQL via list_dot_product) and the IVF
# centroids are the deterministic lowest-id vectors, so BOTH bucketed
# candidate pipelines are SQL-expressible. Recall vs the exact Q16 is
# additionally asserted in pytest.
# ---------------------------------------------------------------------------

_EMB_DIM = 64  # fixture embedding dimension (TESTDATA.md); passed explicitly
# so lsh_topk needs no driver-side .first() to sniff it


def _sql_vec(xs) -> str:
    return "[" + ", ".join(repr(float(x)) for x in xs) + "]"


def _q28_oracle(n_planes: int = 8, multiprobe: int = 4, k: int = 3, seed: int = 42) -> str:
    from mapreduce_paper_implementation_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_EMB_DIM, n_planes, seed)
    bucket = "\n         + ".join(
        f"(CASE WHEN list_dot_product(vec, {_sql_vec(p)}) > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
b AS (
  SELECT vec_id, vec, nrm,
         CAST({bucket} AS BIGINT) AS bucket
  FROM v
),
p AS (
  SELECT vec_id AS probe_id, vec AS p_vec, nrm AS p_nrm, bucket AS p_bucket
  FROM b WHERE vec_id < 10
),
pairs AS (
  SELECT p.probe_id, c.vec_id AS neighbor_id,
         CAST(ROUND(list_dot_product(p.p_vec, c.vec) / (p.p_nrm * c.nrm), 6) AS DECIMAL(9,6)) AS cos_sim
  FROM b c JOIN p
    ON c.vec_id <> p.probe_id
   AND bit_count(xor(c.bucket, p.p_bucket)) <= {multiprobe}
),
ranked AS (
  SELECT probe_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
  FROM pairs
)
SELECT probe_id, neighbor_id, CAST(cos_sim AS DOUBLE) AS cos_sim, rnk
FROM ranked WHERE rnk <= {k}
ORDER BY probe_id, rnk
"""


def _ivf_build_ctes(n_cells: int = 16, iters: int = 2) -> list[str]:
    """Shared SQL CTEs replaying the k-means index build + cell assignment:
    kmeans_fit's Lloyd iterations (operators/kmeans.py) unrolled in plain
    SQL — init = vectors of the n_cells lowest ids, assignment ranks
    ROUND(squared-L2, 6) with ties to the lower cell, per-cell element-wise
    means with carry-forward for emptied cells — ending in `cand`
    (vec_id, vec, nrm, cell): every vector with its trained cell. Every
    ranking quantizes to 6 decimals before comparing so DuckDB/Spark
    double-ulp differences cannot flip an order. Used by the trained-IVF
    probe oracle (q29) and the semantic-dedup oracle (q72)."""

    def d2(a: str, b: str) -> str:
        return (
            f"ROUND(list_dot_product({a},{a}) - 2*list_dot_product({a},{b})"
            f" + list_dot_product({b},{b}), 6)"
        )

    ctes = [
        "v AS (\n  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings\n)",
        f"""c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cell, vec AS c_vec
  FROM (SELECT vec_id, vec FROM v ORDER BY vec_id LIMIT {n_cells})
)""",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        ctes += [
            f"""a{i} AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {d2("v.vec", "c.c_vec")} ASC, c.cell ASC) AS r
    FROM v CROSS JOIN {prev} c
  ) WHERE r = 1
)""",
            f"""m{i} AS (
  SELECT cell, list(m ORDER BY pos) AS c_vec
  FROM (
    SELECT cell, pos, AVG(x) AS m
    FROM (
      SELECT a.cell, UNNEST(v.vec) AS x, UNNEST(range(len(v.vec))) AS pos
      FROM a{i} a JOIN v ON v.vec_id = a.vec_id
    )
    GROUP BY cell, pos
  )
  GROUP BY cell
)""",
            f"""c{i} AS (
  SELECT p.cell, COALESCE(m.c_vec, p.c_vec) AS c_vec
  FROM {prev} p LEFT JOIN m{i} m ON m.cell = p.cell
)""",
        ]
        prev = f"c{i}"
    ctes += [
        f"""cents AS (
  SELECT cell, c_vec, sqrt(list_dot_product(c_vec, c_vec)) AS c_nrm FROM {prev}
)""",
        """vv AS (
  SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v
)""",
        """assigned AS (
  SELECT vv.vec_id, cents.cell,
         ROW_NUMBER() OVER (
           PARTITION BY vv.vec_id
           ORDER BY ROUND(list_dot_product(vv.vec, cents.c_vec) / (vv.nrm * cents.c_nrm), 6) DESC, cents.cell
         ) AS cell_rank
  FROM vv CROSS JOIN cents
)""",
        """cand AS (
  SELECT vv.vec_id, vv.vec, vv.nrm, a.cell
  FROM vv JOIN assigned a ON a.vec_id = vv.vec_id AND a.cell_rank = 1
)""",
    ]
    return ctes


def _q29_oracle(n_cells: int = 16, nprobe: int = 4, k: int = 3, iters: int = 2) -> str:
    """Trained-IVF probe oracle: the shared index-build CTEs
    (_ivf_build_ctes) followed by the same nprobe-cell probe as ivf_topk."""
    ctes = _ivf_build_ctes(n_cells, iters)
    ctes += [
        f"""pv AS (
  SELECT a.vec_id AS probe_id, a.cell AS p_cell, vv.vec AS p_vec, vv.nrm AS p_nrm
  FROM assigned a JOIN vv ON vv.vec_id = a.vec_id
  WHERE a.vec_id < 10 AND a.cell_rank <= {nprobe}
)""",
        """pairs AS (
  SELECT DISTINCT pv.probe_id, c.vec_id AS neighbor_id,
         CAST(ROUND(list_dot_product(pv.p_vec, c.vec) / (pv.p_nrm * c.nrm), 6) AS DECIMAL(9,6)) AS cos_sim
  FROM cand c JOIN pv ON c.cell = pv.p_cell AND c.vec_id <> pv.probe_id
)""",
        """ranked AS (
  SELECT probe_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
  FROM pairs
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT probe_id, neighbor_id, CAST(cos_sim AS DOUBLE) AS cos_sim, rnk
FROM ranked WHERE rnk <= {k}
ORDER BY probe_id, rnk
"""
    )


@query("q28_ann_lsh", _q28_oracle())
def q28_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.where(F.col("vec_id") < 10), dim=_EMB_DIM)


@query("q29_ann_ivf", _q29_oracle())
def q29_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with TRAINED coarse centroids: kmeans_fit (two Lloyd iterations,
    deterministic lowest-id seeding) is the offline index-build step, then
    ivf_topk probes the trained cells. The oracle replays the training
    loop unrolled in SQL, so the full build+probe path is hash-checked."""
    from mapreduce_paper_implementation_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    # tol=0.0 disables early convergence stop: the oracle unconditionally
    # unrolls exactly max_iter Lloyd iterations, so the Spark side must run
    # the same count even on a fixture that converges in one round.
    cents = kmeans_fit(emb, k=16, max_iter=2, tol=0.0)
    return ivf_topk(emb, emb.where(F.col("vec_id") < 10), centroids=cents)


# ---------------------------------------------------------------------------
# Q72 semantic dedup — SemDeDup (Abbas et al. 2023): k-means-cluster the
# embedding space, compare pairs only WITHIN a cell. The oracle reuses the
# q29 Lloyd-unroll CTEs (the same trained index build, hash-checked) and
# closes with the within-cell pair join — so cell boundaries, rounding and
# thresholding are all exactly mirrored.
# ---------------------------------------------------------------------------


def _q72_oracle(
    n_cells: int = 16, iters: int = 2, threshold: float = 0.45, nassign: int = 2
) -> str:
    ctes = _ivf_build_ctes(n_cells, iters)
    cos = "ROUND(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6)"
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
SELECT id_a, id_b, CAST(MIN(cell) AS INT) AS cell,
       CAST(MAX(cos_dec) AS DOUBLE) AS cos_sim
FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell AS cell,
         CAST({cos} AS DECIMAL(9,6)) AS cos_dec
  FROM candk a JOIN candk b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
GROUP BY id_a, id_b
HAVING MAX(cos_dec) >= {threshold}
ORDER BY id_a, id_b
"""
    )


@query("q72_semantic_dedup", _q72_oracle())
def q72_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs at cos >= 0.45 within k-means cells — the
    within-cell restriction is the SemDeDup scale contract: cross-cell
    pairs (the overwhelming majority) are never materialized."""
    from mapreduce_paper_implementation_spark.operators.dedup import (
        semantic_dedup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(emb, n_cells=16, threshold=0.45)


# ---------------------------------------------------------------------------
# Q30 multimodal metadata pipeline — north star (multimodal columns).
# The fake decoder is deterministic on payload bytes, so the pipeline IS
# SQL-expressible: byte_len == n_chars (ASCII corpus), width == n_chars % 640.
# ---------------------------------------------------------------------------

_Q30_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(length(text)) AS BIGINT) AS sum_bytes,
       CAST(CAST(ROUND(AVG(length(text) % 640), 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_width
FROM documents
GROUP BY source
ORDER BY source
"""


@query("q30_media_stats", _Q30_ORACLE)
def q30_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_stats_by_source(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Q31 frame sampling — multimodal video-style fan-out. Deterministic fake
# decode: n_frames = byte_len % 30 + 1; stride-4 sampling keeps
# (n_frames-1)/4 + 1 frames per item.
# ---------------------------------------------------------------------------

_Q31_ORACLE = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled
FROM (
  SELECT source,
         unnest(range(0, length(text) % 30 + 1, 4)) AS frame_idx
  FROM documents
)
GROUP BY source
ORDER BY source
"""


@query("q31_frame_sample", _Q31_ORACLE)
def q31_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    decoded = decode_media(with_media_column(load_table(spark, sf_dir, "documents")))
    return (
        sample_frames(decoded, stride=4)
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q32 media feature extraction. The manifest projection EXPLODES the float
# vector to (doc_id, source, dim_idx, feature) scalar rows — a raw
# array<float> column crashes the driver's pandas canonicalizer (r1:
# "unhashable type: 'list'"). Determinism: the stand-in extractor is an
# L1-normalized byte histogram; both engines compute the exact integer
# count / total as an IEEE double, round it to float32 (numpy astype vs
# DuckDB CAST AS FLOAT — both correctly rounded, bit-identical), then widen
# back to double for the output contract.
# ---------------------------------------------------------------------------

_Q32_ORACLE = """
WITH codes AS (
  SELECT doc_id, source, length(text) AS total,
         list_transform(string_split(text, ''), c -> ascii(c) % 8) AS code
  FROM documents
)
SELECT doc_id, source, CAST(i AS INT) AS dim_idx,
       CASE WHEN total = 0 THEN 0.0
            ELSE CAST(CAST(CAST(len(list_filter(code, x -> x = i)) AS DOUBLE) / total AS FLOAT) AS DOUBLE)
       END AS feature
FROM codes, range(0, 8) t(i)
ORDER BY doc_id, dim_idx
"""


@query("q32_media_features", _Q32_ORACLE)
def q32_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = extract_features(with_media_column(load_table(spark, sf_dir, "documents")))
    return feats.select(
        "doc_id",
        "source",
        F.posexplode("features").alias("dim_idx", "feature"),
    ).select(
        "doc_id",
        "source",
        F.col("dim_idx").cast("int").alias("dim_idx"),
        F.col("feature").cast("double").alias("feature"),
    ).orderBy("doc_id", "dim_idx")


# ---------------------------------------------------------------------------
# Q33 CUBE — full grouping-sets surface (ROLLUP covered by Q22)
# ---------------------------------------------------------------------------

_Q33_ORACLE = """
SELECT COALESCE(event_type, 'ALL') AS etype,
       COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS eday,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
FROM events
GROUP BY CUBE(event_type, CAST(ts AS DATE))
ORDER BY etype, eday
"""


@query("q33_cube_events", _Q33_ORACLE)
def q33_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(event_type, event_day): all four grouping sets in one pass —
    Spark expands the cube map-side and shares a single shuffle; at scale
    this replaces four separate jobs over the same 100 TB scan."""
    ev = load_table(spark, sf_dir, "events").withColumn("eday", F.to_date("ts"))
    return (
        ev.cube("event_type", "eday")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast(DEC)).cast(DEC).cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("eday").cast("string"), F.lit("ALL")).alias("eday"),
            "cnt",
            "sum_value",
        )
        .orderBy("etype", "eday")
    )


# ---------------------------------------------------------------------------
# Q34 approximate distinct — HyperLogLog++, bracket-oracled (r5 ask #5).
# Spark's HLL++ sketch and any DuckDB approximation are different estimators,
# so an exact VALUE match is impossible by design — that's the point of a
# sketch. What IS exactly checkable is the estimator's accuracy contract:
# |approx/exact - 1| <= 3*rsd (HLL++'s error is ~N(0, rsd); 3 sigma never
# trips on a healthy sketch). The query emits that boolean per group and the
# oracle emits literal TRUE over the exact-count CTE, so the driver's value
# hash now gates the sketch instead of recording `no_oracle` forever. The
# tighter <5% numeric gate stays in pytest (tests/test_operators.py:217).
#
# Scale note: the exact count_distinct alongside the sketch is the BRACKET
# HARNESS, not the production path — at 100 TB you run the approx aggregate
# alone (one ~kB mergeable sketch per group per partition crossing the
# shuffle); the bracket variant exists so correctness is machine-checked at
# driver SFs where the exact side is cheap.
# ---------------------------------------------------------------------------

_Q34_RSD = 0.01

_Q34_ORACLE = """
WITH exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
  FROM events
  GROUP BY event_type
)
SELECT event_type, TRUE AS within_bracket
FROM exact
ORDER BY event_type
"""


@query("q34_approx_distinct_users", _Q34_ORACLE)
def q34_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++, rsd=0.01): sketches merge associatively
    so the shuffle carries one ~kB sketch per group per partition instead of
    the distinct-value set — the only viable COUNT(DISTINCT) at 100 TB.
    Output is the 3-sigma bracket check vs the exact count (see block
    comment): the boolean hash-matches the oracle's TRUE, making the sketch
    value-checked through the driver path."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=_Q34_RSD).alias("approx_users"),
            F.count_distinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            (
                F.abs(
                    F.col("approx_users").cast("double") / F.col("exact_users") - 1.0
                )
                <= 3 * _Q34_RSD
            ).alias("within_bracket"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q35 salted word count — skew-mitigation surface, oracle = Q1's truth
# ---------------------------------------------------------------------------

_Q35_ORACLE = """
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS token
  FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY token
"""


# ---------------------------------------------------------------------------
# Q36 PIVOT — wide conditional aggregation (one shuffle, n columns)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_Q36_ORACLE = """
SELECT CAST(ts AS DATE) AS eday,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
FROM events
GROUP BY 1
ORDER BY 1
"""


@query("q36_pivot_daily", _Q36_ORACLE)
def q36_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type matrix via pivot. The value list is declared, not
    discovered — at 100 TB an undeclared pivot first runs a distinct scan
    over the full table just to learn the columns."""
    ev = load_table(spark, sf_dir, "events").withColumn("eday", F.to_date("ts"))
    return (
        ev.groupBy("eday")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
        .orderBy("eday")
    )


@query("q35_salted_wordcount", _Q35_ORACLE)
def q35_salted_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count through the explicit two-stage salted aggregation: a
    Zipf-heavy token (every corpus has one) spreads over 16 reducers in
    stage 1. Oracle-gated against the same truth as Q1, so the skew path
    can never drift from the plain path."""
    from mapreduce_paper_implementation_spark.operators.skew import salted_group_agg

    toks = _doc_tokens(spark, sf_dir)
    return (
        salted_group_agg(toks, ["token"], {"cnt": (F.count("*"), "sum")}, n_salts=16)
        .orderBy("token")
    )


# ---------------------------------------------------------------------------
# Q37 exact median / percentile — sort-based aggregates
# ---------------------------------------------------------------------------

_Q37_ORACLE = """
SELECT event_type,
       CAST(CAST(ROUND(median(value), 4) AS DECIMAL(18,4)) AS DOUBLE) AS med_value,
       CAST(CAST(ROUND(quantile_cont(value, 0.9), 4) AS DECIMAL(18,4)) AS DOUBLE) AS p90_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("q37_median_value", _Q37_ORACLE)
def q37_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + interpolated p90 per group. Exact percentiles need the
    full value multiset per group (sort-based aggregate); the sketch-based
    scale path is approx_percentile, same shape as Q34's HLL trade."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.median("value"), 4).cast(DEC).cast("double").alias("med_value"),
            F.round(F.percentile("value", F.lit(0.9)), 4).cast(DEC).cast("double").alias("p90_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q38 semi-structured JSON extraction
# ---------------------------------------------------------------------------

_Q38_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(COUNT(*) FILTER (WHERE CAST(props->>'k' AS BIGINT) > 50) AS BIGINT) AS n_high
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("q38_json_props", _Q38_ORACLE)
def q38_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the string `props` column. get_json_object
    evaluates JVM-side per row; at scale, parse once into a struct column
    (from_json) at ingest rather than re-extracting per query."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count_if(F.col("k") > 50).alias("n_high"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q39 grouped-map applyInPandas — per-group z-score top-k. The same result is
# window-expressible (the oracle is), which is exactly why it's in the
# manifest: the arbitrary-pandas-per-group surface is correctness-gated
# against declarative truth.
# ---------------------------------------------------------------------------

_Q39_ORACLE = """
WITH stats AS (
  SELECT event_id, event_type, value,
         (value - AVG(value) OVER (PARTITION BY event_type))
           / stddev_samp(value) OVER (PARTITION BY event_type) AS z
  FROM events
)
SELECT event_id, event_type,
       CAST(CAST(ROUND(z, 4) AS DECIMAL(18,4)) AS DOUBLE) AS z_score
FROM (
  SELECT event_id, event_type, z,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ABS(z) DESC, event_id) AS rn
  FROM stats
)
WHERE rn <= 3
ORDER BY event_type, event_id
"""


@query("q39_zscore_outliers", _Q39_ORACLE)
def q39_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 |z-score| outlier events per type via applyInPandas: each group
    arrives as one Arrow batch, pandas/numpy does the stats. Grouped-map is
    the 'arbitrary per-group program' surface (the reference's Reduce UDF,
    mr/worker.go:33, generalized); state per task is one group, so executor
    memory bounds group size, not table size."""
    import pandas as pd  # noqa: F401

    def topk(pdf):
        import numpy as np

        z = (pdf["value"] - pdf["value"].mean()) / pdf["value"].std(ddof=1)
        pdf = pdf.assign(z=z, az=np.abs(z))
        pdf = pdf.sort_values(["az", "event_id"], ascending=[False, True]).head(3)
        return pdf[["event_id", "event_type"]].assign(z_score=pdf["z"])

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return (
        ev.groupBy("event_type")
        .applyInPandas(topk, "event_id long, event_type string, z_score double")
        # rounding stays engine-side (F.round matches the oracle's ROUND;
        # pandas .round is banker's rounding)
        .select(
            "event_id",
            "event_type",
            F.round("z_score", 4).cast(DEC).cast("double").alias("z_score"),
        )
        .orderBy("event_type", "event_id")
    )


# ---------------------------------------------------------------------------
# Q43 end-to-end corpus cleaning pipeline — exact dedup (keep min doc_id per
# md5) -> language filter -> quality threshold -> token stats, one lazy
# DataFrame chain (operators/pipeline.py). Oracle reuses Q14/Q23/Q24's SQL
# fragments, so the composition is gated by the same truths as its stages.
# ---------------------------------------------------------------------------


def _q43_oracle() -> str:
    from mapreduce_paper_implementation_spark.operators.text_analysis import (
        sql_stop_ratio,
        sql_tokens,
    )

    return f"""
WITH survivors AS (
  SELECT * FROM documents
  WHERE doc_id IN (
    SELECT MIN(doc_id) FROM documents GROUP BY md5(text)
  )
),
scored AS (
  SELECT doc_id, source,
         CASE WHEN {sql_stop_ratio('text')} >= 0.1 THEN 'en' ELSE 'unknown' END AS lang,
         CAST(ROUND(
           0.4 * LEAST(len({sql_tokens('text')}) / 50.0, 1.0)
           + 0.3 * (CASE WHEN n_chars > 0 THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / n_chars ELSE 0.0 END)
           + 0.3 * LEAST({sql_stop_ratio('text')} * 5, 1.0)
         , 6) AS DECIMAL(9,6)) AS quality,
         CAST(len({sql_tokens('text')}) AS INT) AS n_tokens
  FROM survivors
)
SELECT doc_id, source, lang, CAST(quality AS DOUBLE) AS quality, n_tokens
FROM scored
WHERE lang = 'en' AND quality >= 0.5
ORDER BY doc_id
"""


@query("q43_clean_corpus", _q43_oracle())
def q43_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.pipeline import clean_corpus

    return clean_corpus(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Q44 semi/anti joins — existence predicates without row multiplication
# ---------------------------------------------------------------------------

_Q44_ORACLE = """
SELECT 'with_orders' AS cohort, CAST(COUNT(*) AS BIGINT) AS n
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT 'without_orders', CAST(COUNT(*) AS BIGINT)
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY cohort
"""


@query("q44_semi_anti_cohorts", _Q44_ORACLE)
def q44_semi_anti_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with/without orders via left_semi / left_anti: existence
    joins never duplicate left rows (no post-join distinct) and the right
    side reduces to its join key — at scale that's a broadcast of distinct
    custkeys, not an orders-sized shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    witho = cust.join(orders, "c_custkey", "semi").agg(F.count("*").alias("n")).select(
        F.lit("with_orders").alias("cohort"), "n"
    )
    without = cust.join(orders, "c_custkey", "anti").agg(F.count("*").alias("n")).select(
        F.lit("without_orders").alias("cohort"), "n"
    )
    return witho.unionByName(without).orderBy("cohort")


# ---------------------------------------------------------------------------
# Q45 set operations — intersect / union distinct
# ---------------------------------------------------------------------------

_Q45_ORACLE = """
SELECT 'both' AS src, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'purchase'
)
UNION ALL
SELECT 'either', CAST(COUNT(*) AS BIGINT) FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  UNION
  SELECT user_id FROM events WHERE event_type = 'purchase'
)
ORDER BY src
"""


@query("q45_set_ops", _Q45_ORACLE)
def q45_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    buys = ev.where(F.col("event_type") == "purchase").select("user_id")
    both = clicks.intersect(buys).agg(F.count("*").alias("n")).select(
        F.lit("both").alias("src"), "n"
    )
    either = clicks.union(buys).distinct().agg(F.count("*").alias("n")).select(
        F.lit("either").alias("src"), "n"
    )
    return both.unionByName(either).orderBy("src")


# ---------------------------------------------------------------------------
# Q42 SQL front end — the regional-revenue star join written as SQL text over
# registered views. Same Catalyst plan as Q11 (broadcast dims + sort-merge
# fact join), same oracle: proves the spark.sql surface, not a new operator.
# ---------------------------------------------------------------------------


@query("q42_sql_regional_revenue", _Q11_ORACLE)
def q42_sql_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE)
                 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY n_name
        """
    )


# ---------------------------------------------------------------------------
# Q40 as-of join — most recent prior click value per purchase
# (oracled against DuckDB's native ASOF JOIN)
# ---------------------------------------------------------------------------

_Q40_ORACLE = """
SELECT l.event_id, l.user_id, r.value AS value_asof
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


@query("q40_asof_click_value", _Q40_ORACLE)
def q40_asof_click_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join(purchases, clicks, on="user_id", value_cols=["value"])
    return joined.select("event_id", "user_id", "value_asof").orderBy("event_id")


# ---------------------------------------------------------------------------
# Q41 dedup clusters — iterative connected components over the exact
# n-gram-Jaccard pair graph (oracled via DuckDB recursive CTE closure)
# ---------------------------------------------------------------------------



# ---------------------------------------------------------------------------
# Q46-Q49: the remaining canonical MapReduce workloads from the paper the
# reference ships (mapreduce-paper.pdf §2.3) but never implemented as apps —
# distributed grep, distributed sort, term-vector per host, tf-idf (the
# "count of URL access frequency" / "inverted index" family is Q1/Q2).
# ---------------------------------------------------------------------------

_Q46_ORACLE = """
SELECT doc_id, CAST(len(regexp_extract_all(text, 'data [a-z]+')) AS BIGINT) AS n_matches
FROM documents
WHERE len(regexp_extract_all(text, 'data [a-z]+')) > 0
ORDER BY doc_id
"""


@query("q46_grep", _Q46_ORACLE)
def q46_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep (paper §2.3: "map emits a line if it matches a
    pattern"). Generalized to per-document match counts; the regex runs
    JVM-side inside the scan's codegen stage and the WHERE prunes
    non-matching docs before anything else happens — grep never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.regexp_count("text", F.lit("data [a-z]+"))
    return (
        docs.select("doc_id", n.cast("long").alias("n_matches"))
        .where(F.col("n_matches") > 0)
        .orderBy("doc_id")
    )


_Q47_ORACLE = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS BIGINT) AS rnk,
       event_id,
       CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS value_dec
FROM events
ORDER BY rnk
"""


@query("q47_global_sort", _Q47_ORACLE)
def q47_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sort with a GLOBAL rank (paper §2.3 sort / TeraSort). The
    naive `row_number() OVER (ORDER BY ...)` is a one-task plan; this is the
    two-pass range-partition + local-rank + offset-join formulation
    (operators/sort.py) where every data-sized stage is parallel."""
    from mapreduce_paper_implementation_spark.operators.sort import global_rank

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    ranked = global_rank(ev, [F.col("value").desc(), F.col("event_id").asc()], rank_col="rnk")
    return ranked.select(
        "rnk", "event_id", F.col("value").cast(DEC).cast("double").alias("value_dec")
    ).orderBy("rnk")


_Q48_ORACLE = """
SELECT source, token, cnt, rnk FROM (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, token) AS BIGINT) AS rnk
  FROM (
    SELECT source, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS token
    FROM documents
  )
  WHERE token <> ''
  GROUP BY source, token
)
WHERE rnk <= 5
ORDER BY source, rnk
"""


@query("q48_term_vector", _Q48_ORACLE)
def q48_term_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term vector per host (paper §2.3): top-5 most frequent tokens per
    source. The (source, token) aggregate is partial/final, then the window
    reshuffles only the aggregated term counts — never raw tokens."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", "[^A-Za-z]+")).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("source", "token").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.select("source", "token", "cnt", F.row_number().over(w).cast("long").alias("rnk"))
        .where(F.col("rnk") <= 5)
        .orderBy("source", "rnk")
    )


# Determinism note: the score uses the rational idf N/df (not ln) so every
# arithmetic step — integer product, one IEEE-correctly-rounded double
# division, round-6 — is bit-identical between the JVM and DuckDB; ln()
# differs by ulps across libm implementations and would flake the hash gate.
_Q49_ORACLE = """
WITH tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS token
    FROM documents
  )
  WHERE token <> ''
  GROUP BY doc_id, token
),
dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS dfreq FROM tf GROUP BY token),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT doc_id, token, score, rnk FROM (
  SELECT tf.doc_id, tf.token,
         CAST(CAST(ROUND(CAST(tf.tf AS DOUBLE) * n.n_docs / dfreq.dfreq, 6) AS DECIMAL(18,6)) AS DOUBLE) AS score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY CAST(tf.tf AS DOUBLE) * n.n_docs / dfreq.dfreq DESC, tf.token
         ) AS BIGINT) AS rnk
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
)
WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


@query("q49_tfidf", _Q49_ORACLE)
def q49_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document (rational idf = N/df). Composition of
    the Q1 (term frequency) and Q2 (document frequency) dataflows: tf and df
    both come off ONE (doc_id, token) aggregate; N arrives as a broadcast
    single-row cross join so the plan stays fully lazy (no driver count)."""
    tf = (
        _doc_tokens(spark, sf_dir)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("dfreq"))
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .withColumn("raw", F.col("tf").cast("double") * F.col("n_docs") / F.col("dfreq"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("raw"), F.asc("token"))
    return (
        scored.select(
            "doc_id",
            "token",
            F.round("raw", 6).cast("decimal(18,6)").cast("double").alias("score"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .where(F.col("rnk") <= 3)
        .orderBy("doc_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Q51 cogrouped applyInPandas — same as-of semantics as Q40 on a 10% user
# sample, computed by the two-table per-key pandas surface
# (operators/cogroup.py) and gated by the matching DuckDB ASOF oracle, so
# the cogroup path can never drift from the JVM window path. Sampled because
# per-key cogroup pays a fixed Arrow/pandas cost per group — the full-corpus
# production path is Q40's window formulation; this entry exists to
# correctness-gate the surface, not to race it.
# ---------------------------------------------------------------------------

_Q51_ORACLE = """
SELECT l.event_id, l.user_id, r.value AS value_asof
FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id % 10 = 1) l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click' AND user_id % 10 = 1) r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


@query("q51_asof_cogrouped", _Q51_ORACLE)
def q51_asof_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.cogroup import (
        asof_join_cogrouped,
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 10 == 1)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join_cogrouped(purchases, clicks, on="user_id", value_cols=["value"])
    return joined.select("event_id", "user_id", "value_asof").orderBy("event_id")


# ---------------------------------------------------------------------------
# Q50 full outer join — the outer-join family (semi/anti = Q44, inner = Q10,
# as-of/left = Q40). (user, day) cells where only one side exists keep NULLs
# that coalesce to 0, so both outer sides are genuinely exercised.
# ---------------------------------------------------------------------------

_Q50_ORACLE = """
WITH clicks AS (
  SELECT user_id, CAST(ts AS DATE) AS eday, CAST(COUNT(*) AS BIGINT) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
buys AS (
  SELECT user_id, CAST(ts AS DATE) AS eday, CAST(COUNT(*) AS BIGINT) AS n_buys
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT COALESCE(c.user_id, b.user_id) AS user_id,
       COALESCE(c.eday, b.eday) AS eday,
       COALESCE(c.n_clicks, 0) AS n_clicks,
       COALESCE(b.n_buys, 0) AS n_buys
FROM clicks c FULL OUTER JOIN buys b
  ON c.user_id = b.user_id AND c.eday = b.eday
ORDER BY user_id, eday
"""


@query("q50_click_buy_matrix", _Q50_ORACLE)
def q50_click_buy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (user, day): click count FULL OUTER JOIN purchase count. Both
    inputs aggregate before the join, so the outer join moves one row per
    (user, day, type) — never raw events; a full outer join can't broadcast
    (either side may produce unmatched rows), so this is the sort-merge path
    by construction."""
    ev = load_table(spark, sf_dir, "events").withColumn("eday", F.to_date("ts"))
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "eday")
        .agg(F.count("*").alias("n_clicks"))
    )
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "eday")
        .agg(F.count("*").alias("n_buys"))
    )
    return (
        clicks.join(buys, ["user_id", "eday"], "full_outer")
        .select(
            "user_id",
            "eday",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_buys", F.lit(0)).alias("n_buys"),
        )
        .orderBy("user_id", "eday")
    )


# ---------------------------------------------------------------------------
# Q52/Q53 subquery surface — correlated scalar subquery (TPC-H Q17 shape)
# and EXISTS (TPC-H Q22 family), both through the spark.sql front end so
# Catalyst's subquery decorrelation (rewrite to aggregate + join) is what
# actually executes; the same SQL text runs on DuckDB as the oracle.
# ---------------------------------------------------------------------------

# Determinism: l_quantity is integer-valued, so AVG is a ratio of exact
# doubles and 0.2*AVG is identical across engines; the money sum uses the
# decimal-cast rule before the one double division.
_Q52_SQL = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_small,
       CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) / 7.0, 4) AS DECIMAL(18,4)) AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_quantity < (
  SELECT 0.2 * AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
)
GROUP BY p_brand
ORDER BY p_brand
"""


@query("q52_small_quantity_parts", _Q52_SQL)
def q52_small_quantity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: lineitems below 20% of their part's mean
    quantity. Catalyst decorrelates to a per-partkey aggregate joined back to
    the probe side — at 100 TB that's one extra partial-agg pass over
    lineitem, not a per-row subquery execution."""
    from mapreduce_paper_implementation_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q52_SQL)


_Q53_SQL = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("q53_exists_big_spenders", _Q53_SQL)
def q53_exists_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS subquery: customers with at least one >100k order, counted per
    segment. Catalyst plans the EXISTS as a left-semi join, so customer rows
    are never duplicated and the orders side reduces to its join key."""
    from mapreduce_paper_implementation_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q53_SQL)


# ---------------------------------------------------------------------------
# Q54 window frame — sliding aggregate (ROWS BETWEEN), the frame surface the
# other window queries (rank/lag) don't touch. Scoped to users with >= 20
# events to keep output compact; frame order is the (ts, event_id) total
# order so the 3-row sum is evaluated in the same sequence by both engines.
# ---------------------------------------------------------------------------

_Q54_ORACLE = """
SELECT user_id, event_id,
       CAST(CAST(ROUND(AVG(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
       ), 4) AS DECIMAL(18,4)) AS DOUBLE) AS mov_avg
FROM events
WHERE user_id IN (SELECT user_id FROM events GROUP BY user_id HAVING COUNT(*) >= 20)
ORDER BY user_id, event_id
"""


@query("q54_moving_avg", _Q54_ORACLE)
def q54_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user moving average of the last 3 event values (window frame).
    The eligibility filter is a semi-join against a per-user aggregate, then
    one shuffle on user_id serves both the window and the final sort."""
    ev = load_table(spark, sf_dir, "events")
    busy = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 20)
        .select("user_id")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        ev.join(busy, "user_id", "semi")
        .select(
            "user_id",
            "event_id",
            F.round(F.avg("value").over(w), 4).cast(DEC).cast("double").alias("mov_avg"),
        )
        .orderBy("user_id", "event_id")
    )


# Oracle: the Q20 pair graph closed into components by a recursive CTE
# (min reachable label per vertex), then the same cluster summary. Members
# concatenate as STRINGS in both engines (Spark sort_array on cast-to-string,
# DuckDB ORDER BY CAST AS VARCHAR), so the lexicographic member order agrees.
# The CTE prefix (shingles -> pair graph -> recursive closure, ending at
# `rec(id, component)`) is SHARED with q124's leakage-safe split oracle so
# the cluster structure both queries gate against cannot drift.
Q41_GRAPH_CTES = f"""sh AS (
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
  -- hot-shingle document-frequency cut, mirroring ngram_jaccard_pairs
  -- max_df (operators/dedup.py:DEFAULT_MAX_SHINGLE_DF)
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
)"""

_Q41_ORACLE = f"""
WITH {Q41_GRAPH_CTES}
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY CAST(id AS VARCHAR)) AS members
FROM rec GROUP BY component ORDER BY component
"""


@query("q41_dedup_clusters", _Q41_ORACLE)
def q41_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> clusters via iterative min-label propagation
    (operators/graph.py), hash-checked against a DuckDB recursive-CTE
    transitive closure of the same Q20 pair graph; pytest additionally
    cross-checks components against union-find on a fixed graph."""
    from mapreduce_paper_implementation_spark.operators.graph import dedup_clusters

    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.1, sort=False
    )  # dedup_clusters -> CC groups pairs per endpoint: output sort is dead cost
    return dedup_clusters(pairs)


# Q55+ — training-data pipeline queries (decontamination, splits, mixture,
# survivor materialization). Imported last so the registry decorator can be
# imported from this module without a circular-import trap.
from mapreduce_paper_implementation_spark.plans import pipeline_queries  # noqa: E402,F401
from mapreduce_paper_implementation_spark.plans import curation_queries  # noqa: E402,F401
from mapreduce_paper_implementation_spark.plans import tokenizer_queries  # noqa: E402,F401
from mapreduce_paper_implementation_spark.plans import release_queries  # noqa: E402,F401
