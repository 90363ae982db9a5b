"""Release-cut tranche queries (split from plans/curation_queries.py,
round 13 — VERDICT r12 ask #5): the leakage-safe split and release
pipeline. q124 (cluster-granular train/valid/test split with leak audit),
q125 (balanced shard export via TeraSort-shaped rank striping), q126
(residual cross-split 8-gram contamination audit, hashed-gram shuffle),
q127 (the composed release cut: split -> lexical+semantic boundary
decontamination -> quality cut -> balanced shards in ONE lazy pipeline),
q132 (TOKEN-balanced shard export via the distributed prefix-sum scan —
round 13).

Production label/index inputs: _cc_cut_dir ($SPARK_GRAFT_CC_CUT label map)
and operators/ann_release.py ($SPARK_GRAFT_ANN_INDEX trained ANN
artifacts) — both equality-gated against their inline rebuilds.

Same contract as plans/queries.py (SURVEY.md \u00a72D determinism rules); all
oracle strings are byte-identical to their pre-split form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.operators.text_analysis import sql_tokens
from mapreduce_paper_implementation_spark.plans.curation_queries import _Q103_SCORE_SQL
from mapreduce_paper_implementation_spark.plans.queries import query
from mapreduce_paper_implementation_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Q124 leakage-safe train/valid/test split — the cluster-granular upgrade
# of q56's doc-granular hash split. A near-dup PAIR straddling the
# train/eval boundary is memorization leakage (the same failure family
# q55/q116 decontaminate against, arising INSIDE one corpus): q56's rule
# hashes each doc independently, so ~2 x split-share of near-dup pairs
# straddle. The fix is standard (split at the deduplication-cluster
# granularity): assign every doc the SPLIT OF ITS CLUSTER — cluster id =
# min doc_id of its q41 connected component, singletons their own id —
# so members travel together and cluster_leak_pairs is structurally zero.
# The output reports both rules side by side: doc_leak_pairs (what q56
# would have leaked, nonzero by construction whenever near-dup pairs
# exist) vs cluster_leak_pairs (pinned 0 per split by BOTH engines).
#
# Scale shape: composes three proven paths — the q20/q41 banded pair graph
# + iterative min-label CC (inverted-index joins, never all-pairs), the
# q56 map-only md5 split arithmetic (one expression tree, shared via
# split_of/sql_split per §8.27), and the q109 leak-join discipline (the
# DERIVED pair set broadcasts; the corpus-sized labeled map streams —
# never the reverse). Per-split stats are one bounded partial/final agg.
#
# Oracle: the SAME recursive-CTE closure q41 gates against
# (plans/queries.py:Q41_GRAPH_CTES, shared text), then the same split
# CASE and leak counts — exact integers and strings end-to-end.
# ---------------------------------------------------------------------------


def _q124_oracle() -> str:
    from mapreduce_paper_implementation_spark.operators.serving import sql_split
    from mapreduce_paper_implementation_spark.plans.queries import Q41_GRAPH_CTES

    return f"""
WITH {Q41_GRAPH_CTES},
assign AS MATERIALIZED (
  SELECT d.doc_id, len({sql_tokens('text')}) AS tc,
         COALESCE(r.component, d.doc_id) AS cluster_id,
         r.id IS NOT NULL AS is_dup
  FROM documents d LEFT JOIN rec r ON r.id = d.doc_id
),
labeled AS MATERIALIZED (
  SELECT doc_id, tc, cluster_id, is_dup,
         {sql_split('cluster_id')} AS split_c,
         {sql_split('doc_id')} AS split_d
  FROM assign
),
stats AS (
  SELECT split_c AS split,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(tc) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
  FROM labeled GROUP BY 1
),
pl AS MATERIALIZED (
  SELECT la.split_c AS ca, lb.split_c AS cb, la.split_d AS da, lb.split_d AS db
  FROM pairs p JOIN labeled la ON la.doc_id = p.id_a
               JOIN labeled lb ON lb.doc_id = p.id_b
),
leak_c AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT ca AS split FROM pl WHERE ca <> cb
    UNION ALL SELECT cb AS split FROM pl WHERE ca <> cb
  ) GROUP BY 1
),
leak_d AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT da AS split FROM pl WHERE da <> db
    UNION ALL SELECT db AS split FROM pl WHERE da <> db
  ) GROUP BY 1
)
SELECT s.split, s.n_docs, s.n_tokens, s.n_clusters, s.n_dup_docs,
       COALESCE(c.n, 0) AS cluster_leak_pairs,
       COALESCE(d.n, 0) AS doc_leak_pairs
FROM stats s LEFT JOIN leak_c c ON c.split = s.split
             LEFT JOIN leak_d d ON d.split = s.split
ORDER BY s.split
"""


def _cc_cut_dir() -> str | None:
    """Resolve the SPARK_GRAFT_CC_CUT release-cut directory, or None when
    unset. A SET-BUT-MISSING path RAISES (round-13 ADVICE fix): before, a
    typo'd/stale path silently flipped the label source back to the inline
    rebuild — production would re-cluster (slow) or, worse, diverge from
    the published labels without any signal. Misconfiguration should be
    loud; "no cut published" is spelled by UNSETTING the var."""
    import os as _os

    cut = _os.environ.get("SPARK_GRAFT_CC_CUT")
    if not cut:
        return None
    if not _os.path.isdir(cut):
        raise FileNotFoundError(
            f"SPARK_GRAFT_CC_CUT is set to {cut!r} but no such directory "
            "exists — refusing to fall back to the inline CC rebuild "
            "silently; unset the var to opt into the inline label build"
        )
    return cut


def _split_labels(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The (id, component) near-dup cluster label map the q124/q126 split
    rides on. PRODUCTION DEFAULT (VERDICT r11 #1): read the MATERIALIZED
    release cut — the label table streaming/cc_index.py maintains
    incrementally and a release publishes — when one is exported via the
    SPARK_GRAFT_CC_CUT env var (a parquet dir of (id, component) rows for
    THIS corpus; the publisher owns that match; set-but-missing raises,
    see _cc_cut_dir). Fallback: rebuild inline (banded pair graph +
    iterative min-label CC). The two inputs yield bit-identical
    assignments whenever the label tables agree (measured gap: 0.39 s cut
    vs 5.9 s inline at sf0.1, BASELINE_HISTORY.md);
    tests/test_round12_additions.py gates the env-var path end-to-end."""
    from mapreduce_paper_implementation_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from mapreduce_paper_implementation_spark.operators.graph import (
        connected_components,
    )

    cut = _cc_cut_dir()
    if cut:
        return spark.read.parquet(cut)
    # sort=False: connected_components symmetrizes + distincts the pair set
    # immediately — the global (id_a, id_b) sort is dead cost here.
    return connected_components(ngram_jaccard_pairs(docs, threshold=0.1, sort=False))


@query("q124_leakage_safe_split", _q124_oracle())
def q124_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist
    from mapreduce_paper_implementation_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from mapreduce_paper_implementation_spark.operators.serving import (
        cluster_split_assign,
    )

    docs = load_table(spark, sf_dir, "documents")
    # pairs feeds BOTH the component closure and the leak joins; labeled
    # feeds the stats agg and both leak joins (the q97 recompute class).
    # NOTE the leak joins need the PAIR GRAPH regardless of where the
    # labels come from, so q124 always builds pairs; only the label map
    # itself defaults to the release cut (_split_labels).
    pairs = scoped_persist(
        ngram_jaccard_pairs(docs, threshold=0.1, sort=False)
    )  # consumed by joins/aggregates only; the persist would materialize the sort
    # gate on the SAME resolver _split_labels uses (round-13 ADVICE fix:
    # the old env-var-only check disagreed with _split_labels' isdir test
    # in the set-but-missing case — now that case raises in both)
    if _cc_cut_dir():
        cc = _split_labels(spark, docs)
    else:
        from mapreduce_paper_implementation_spark.operators.graph import (
            connected_components,
        )

        # reuse the PERSISTED pairs frame for the closure (not
        # _split_labels, which would rebuild the pair graph from scratch)
        cc = connected_components(pairs)
    # the assignment tail is operators/serving.py:cluster_split_assign —
    # shared with the streaming cluster_split_view over maintained CC labels
    labeled = scoped_persist(cluster_split_assign(docs, cc))
    stats = labeled.groupBy(F.col("split_c").alias("split")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tc").cast("long").alias("n_tokens"),
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_dup_docs"),
    )
    # leak joins: broadcast the DERIVED pair set, stream the corpus-sized
    # labeled map (the q109 discipline — never broadcast the corpus side)
    pl = (
        F.broadcast(pairs)
        .join(
            labeled.select(
                F.col("doc_id").alias("id_a"),
                F.col("split_c").alias("ca"),
                F.col("split_d").alias("da"),
            ),
            "id_a",
        )
        .join(
            labeled.select(
                F.col("doc_id").alias("id_b"),
                F.col("split_c").alias("cb"),
                F.col("split_d").alias("db"),
            ),
            "id_b",
        )
    )

    def _leak(a: str, b: str) -> DataFrame:
        return (
            pl.where(F.col(a) != F.col(b))
            .select(F.explode(F.array(a, b)).alias("split"))
            .groupBy("split")
            .agg(F.count("*").cast("long").alias("n"))
        )

    leak_c = _leak("ca", "cb").withColumnRenamed("n", "cluster_leak_pairs")
    leak_d = _leak("da", "db").withColumnRenamed("n", "doc_leak_pairs")
    return (
        stats.join(leak_c, "split", "left")
        .join(leak_d, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_tokens",
            "n_clusters",
            "n_dup_docs",
            F.coalesce("cluster_leak_pairs", F.lit(0).cast("long")).alias(
                "cluster_leak_pairs"
            ),
            F.coalesce("doc_leak_pairs", F.lit(0).cast("long")).alias(
                "doc_leak_pairs"
            ),
        )
        .orderBy("split")
    )



# ---------------------------------------------------------------------------
# Q125 balanced training-shard export — the WRITE side of the pipeline: after
# curation/split/mixture, training data ships as N shards that must be (a)
# deterministically shuffled (reproducible data order — no RNG) and (b)
# SIZE-BALANCED (stragglers in the training loader are set by the largest
# shard). Two standard rules compared side by side in one output:
#
#   hash sharding  — shard = md5-bucket(doc_id) % N: map-only, but shard
#                    sizes are binomial (observed spread reported here);
#   rank striping  — shard = (global rank under the md5 permutation) % N:
#                    EXACTLY balanced (max-min <= 1 docs, pinned), at the
#                    cost of the TeraSort-shaped two-pass rank.
#
# The md5 key doubles as the deterministic permutation (the "shuffle" a
# training run needs), so rank striping hands the loader both properties.
#
# Scale shape: the rank side is operators/sort.py:global_rank — one range
# exchange, per-partition local ranks, an n_partitions-row broadcast offset
# join; NEVER a single-task row_number over the corpus (the q47/§8.7
# discipline). The (doc_id, tc, k) projection is persisted once and feeds
# both sharding rules; per-shard stats are bounded partial/final aggs.
#
# Oracle: DuckDB's naive ROW_NUMBER window is the truth (fine at oracle
# scale — the SPARK side is the one that must never do that), same md5
# string order (both engines emit lowercase hex, binary collation), same
# exact-integer modulo arithmetic.
# ---------------------------------------------------------------------------

_Q125_SHARDS = 16


def _q125_oracle(n_shards: int = _Q125_SHARDS) -> str:
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, len({sql_tokens('text')}) AS tc,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
r AS (
  SELECT tc, ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rnk FROM d
),
stripe AS (
  SELECT CAST((rnk - 1) % {n_shards} AS BIGINT) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs_rank,
         CAST(SUM(tc) AS BIGINT) AS n_tokens_rank
  FROM r GROUP BY 1
),
hashed AS (
  SELECT CAST(CAST(('0x' || substr(k, 1, 8)) AS BIGINT) % {n_shards} AS BIGINT)
           AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs_hash,
         CAST(SUM(tc) AS BIGINT) AS n_tokens_hash
  FROM d GROUP BY 1
)
SELECT s.shard, s.n_docs_rank, s.n_tokens_rank,
       COALESCE(h.n_docs_hash, 0) AS n_docs_hash,
       COALESCE(h.n_tokens_hash, 0) AS n_tokens_hash
FROM stripe s LEFT JOIN hashed h ON h.shard = s.shard
ORDER BY s.shard
"""


@query("q125_shard_export", _q125_oracle())
def q125_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.functions.text import token_count
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist
    from mapreduce_paper_implementation_spark.operators.sort import global_rank

    n = _Q125_SHARDS
    docs = load_table(spark, sf_dir, "documents")
    d = scoped_persist(
        docs.select(
            "doc_id",
            token_count("text").alias("tc"),
            F.md5(F.col("doc_id").cast("string")).alias("k"),
        )
    )
    ranked = global_rank(d, [F.col("k"), F.col("doc_id")], rank_col="rnk")
    stripe = (
        ranked.groupBy(((F.col("rnk") - 1) % n).cast("long").alias("shard"))
        .agg(
            F.count("*").cast("long").alias("n_docs_rank"),
            F.sum("tc").cast("long").alias("n_tokens_rank"),
        )
    )
    hash_shard = (
        F.conv(F.substring("k", 1, 8), 16, 10).cast("bigint") % n
    ).cast("long")
    hashed = d.groupBy(hash_shard.alias("shard")).agg(
        F.count("*").cast("long").alias("n_docs_hash"),
        F.sum("tc").cast("long").alias("n_tokens_hash"),
    )
    # LEFT join stripe->hashed (ADVICE r11): rank striping guarantees every
    # shard id 0..n-1 is populated, but hash sharding's binomial spread can
    # leave a shard empty at small corpora — an inner join would then drop
    # the stripe row and both engines would silently under-report
    return (
        stripe.join(hashed, "shard", "left")
        .select(
            "shard",
            "n_docs_rank",
            "n_tokens_rank",
            F.coalesce("n_docs_hash", F.lit(0).cast("long")).alias("n_docs_hash"),
            F.coalesce("n_tokens_hash", F.lit(0).cast("long")).alias(
                "n_tokens_hash"
            ),
        )
        .orderBy("shard")
    )



# ---------------------------------------------------------------------------
# Q126 residual cross-split contamination audit — the MEASUREMENT that
# closes the q124 story. q124's cluster-granular split makes NEAR-DUP-PAIR
# leakage structurally zero, but near-dup has a threshold: sub-threshold
# overlaps (a quoted paragraph, shared boilerplate) still cross the
# train/eval boundary. This query measures that residue the way production
# decontamination defines it (q55's posture, lifted to the split boundary):
# an eval-split doc is residually contaminated iff it shares >= 1 distinct
# 8-word shingle with ANY train-split doc. Both split rules are audited
# side by side — (rule='cluster') the q124 assignment and (rule='doc') the
# q56 assignment — so the cluster rule's effect on residual contamination
# is a measured number, not an argument. What this query finds is exactly
# what a pipeline then scrubs with the q55 gate applied at the boundary.
#
# Scale shape: the split assignment reuses cluster_split_assign over
# _split_labels (DEFAULT: the materialized cc_index release cut when
# published via SPARK_GRAFT_CC_CUT — ~0.4 s vs 5.9 s inline at sf0.1;
# inline CC rebuild as fallback); the
# 8-gram audit is an inverted-index SHUFFLE join on the xxhash64 GRAM
# HASH (the q20 class — both sides are corpus-scale, so neither
# broadcasts; partial aggregation collapses per-doc hits map-side; the
# ~50-byte gram text never crosses an exchange — the q75/q86 discipline,
# plan-pinned in tests/test_round12_additions.py). The (doc, gram-hash,
# splits) frame is persisted once and feeds all four rule branches.
#
# Oracle: q41's shared closure CTEs + the shared split CASE + the same
# 8-gram construction and set-semantics joins ON GRAM TEXT — integers and
# strings only, which makes the gate double as the xxhash64 collision
# audit (engine counts hashed grams, oracle counts the strings).
# ---------------------------------------------------------------------------

_Q126_N = 8


def _q126_oracle(n: int = _Q126_N) -> str:
    from mapreduce_paper_implementation_spark.operators.serving import sql_split
    from mapreduce_paper_implementation_spark.plans.queries import Q41_GRAPH_CTES

    toks = sql_tokens("text")
    return f"""
WITH {Q41_GRAPH_CTES},
assign AS MATERIALIZED (
  SELECT d.doc_id, COALESCE(r.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN rec r ON r.id = d.doc_id
),
labeled AS MATERIALIZED (
  SELECT doc_id, {sql_split('cluster_id')} AS split_c,
         {sql_split('doc_id')} AS split_d
  FROM assign
),
sh8 AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(
    list_transform(
      range(1, greatest(len({toks}) - {n - 2}, 1)),
      i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')
    ))) AS shingle
  FROM documents
  WHERE len({toks}) >= {n}
),
shl AS MATERIALIZED (
  SELECT s.doc_id, s.shingle, l.split_c, l.split_d
  FROM sh8 s JOIN labeled l ON l.doc_id = s.doc_id
),
branches AS (
  SELECT 'cluster' AS rule, e.split_c AS split, e.doc_id,
         COUNT(*) AS hits
  FROM shl e
  JOIN (SELECT DISTINCT shingle FROM shl WHERE split_c = 'train') t
    ON t.shingle = e.shingle
  WHERE e.split_c <> 'train'
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT 'doc', e.split_d, e.doc_id, COUNT(*)
  FROM shl e
  JOIN (SELECT DISTINCT shingle FROM shl WHERE split_d = 'train') t
    ON t.shingle = e.shingle
  WHERE e.split_d <> 'train'
  GROUP BY 1, 2, 3
),
members AS (
  SELECT 'cluster' AS rule, split_c AS split,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM labeled WHERE split_c <> 'train' GROUP BY 1, 2
  UNION ALL
  SELECT 'doc', split_d, CAST(COUNT(*) AS BIGINT)
  FROM labeled WHERE split_d <> 'train' GROUP BY 1, 2
)
SELECT m.rule, m.split, m.n_docs,
       CAST(COALESCE(b.contaminated_docs, 0) AS BIGINT) AS contaminated_docs,
       CAST(COALESCE(b.shared_8gram_hits, 0) AS BIGINT) AS shared_8gram_hits
FROM members m
LEFT JOIN (
  SELECT rule, split, COUNT(*) AS contaminated_docs, SUM(hits) AS shared_8gram_hits
  FROM branches GROUP BY 1, 2
) b ON b.rule = m.rule AND b.split = m.split
ORDER BY m.rule, m.split
"""


@query("q126_residual_contamination", _q126_oracle())
def q126_residual_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.functions.text import word_shingles
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist
    from mapreduce_paper_implementation_spark.operators.serving import (
        cluster_split_assign,
    )

    docs = load_table(spark, sf_dir, "documents")
    # labeled feeds the shingle join AND both rules' member counts; without
    # the persist each consumer replays the whole label build. The label
    # map itself defaults to the MATERIALIZED release cut when published
    # (_split_labels; inline CC rebuild as fallback).
    labeled = scoped_persist(
        cluster_split_assign(docs, _split_labels(spark, docs)).select(
            "doc_id", "split_c", "split_d"
        )
    )
    # HASHED gram key (VERDICT r11 #1, the q75/q86 discipline): the
    # inverted-index join is corpus-scale on BOTH sides, so the shuffle
    # must move the fixed-width xxhash64 of the 8-gram, never the ~50-byte
    # gram TEXT — the string is projected away before any exchange. The
    # DuckDB oracle keeps joining on gram TEXT, so the value-hash gate
    # doubles as the hash-collision audit (a colliding pair of distinct
    # grams would inflate a count and break the gate).
    # JOIN BEFORE EXPLODE (round-14, guide §3.3): attaching the split labels
    # to the gram rows used to shuffle the exploded corpus-gram frame by
    # doc_id; joining the doc-scale label map onto the DOCS first moves only
    # doc rows, and the gram explode then runs map-side on the join's
    # already-parallel output. One (doc, gram-hash, splits) frame feeds the
    # train-set build AND the eval probe of BOTH rules (the q97 recompute
    # class).
    shl = scoped_persist(
        docs.select("doc_id", "text")
        .join(labeled, "doc_id")
        .select(
            "doc_id",
            F.explode(word_shingles("text", _Q126_N)).alias("shingle"),
            "split_c",
            "split_d",
        )
        .select(
            "doc_id",
            F.xxhash64("shingle").alias("gh"),
            "split_c",
            "split_d",
        )
    )

    # Round-14 fusion (guide §2.4): the two rules used to run two
    # distinct()s + two corpus-gram joins over shl. Both rules' "gram is in
    # SOME train doc" sets now come from ONE groupBy(gh) flag aggregate,
    # and one join of the eval-side rows against it feeds a per-doc
    # conditional-count aggregate serving BOTH rules — 2 distincts +
    # 2 joins + 2 two-level aggs collapse into 1 agg + 1 join + 1 agg.
    # Counts are identical: hits(rule, doc) = #eval gram rows whose gh
    # appears in >= 1 train doc under that rule.
    gh_flags = shl.groupBy("gh").agg(
        F.max((F.col("split_c") == "train").cast("int")).alias("in_tc"),
        F.max((F.col("split_d") == "train").cast("int")).alias("in_td"),
    )
    ev_rows = shl.where(
        (F.col("split_c") != "train") | (F.col("split_d") != "train")
    )
    perdoc = scoped_persist(
        ev_rows.join(gh_flags, "gh")
        .groupBy("doc_id")
        .agg(
            F.max("split_c").alias("split_c"),  # constant per doc
            F.max("split_d").alias("split_d"),
            F.sum(
                F.when(
                    (F.col("split_c") != "train") & (F.col("in_tc") == 1), 1
                ).otherwise(0)
            ).alias("hits_c"),
            F.sum(
                F.when(
                    (F.col("split_d") != "train") & (F.col("in_td") == 1), 1
                ).otherwise(0)
            ).alias("hits_d"),
        )
    )

    def branch(rule: str, col: str, hits_col: str):
        agg = (
            perdoc.where(F.col(hits_col) > 0)
            .groupBy(F.col(col).alias("split"))
            .agg(
                F.count("*").cast("long").alias("contaminated_docs"),
                F.sum(hits_col).cast("long").alias("shared_8gram_hits"),
            )
        )
        members = (
            labeled.where(F.col(col) != "train")
            .groupBy(F.col(col).alias("split"))
            .agg(F.count("*").cast("long").alias("n_docs"))
            .select(F.lit(rule).alias("rule"), "split", "n_docs")
        )
        return members.join(agg, "split", "left").select(
            "rule",
            "split",
            "n_docs",
            F.coalesce("contaminated_docs", F.lit(0).cast("long")).alias(
                "contaminated_docs"
            ),
            F.coalesce("shared_8gram_hits", F.lit(0).cast("long")).alias(
                "shared_8gram_hits"
            ),
        )

    return (
        branch("cluster", "split_c", "hits_c")
        .unionByName(branch("doc", "split_d", "hits_d"))
        .orderBy("rule", "split")
    )



# ---------------------------------------------------------------------------
# Q127 composed release cut (VERDICT r11 #3) — ONE lazy pipeline running
# the production release path end-to-end off the cluster label map, so
# cross-operator drift (the residual untested surface after every stage
# went individually hash-green) is itself gated:
#
#   q124 split        — cluster-granular assignment over _split_labels
#                       (release-cut default, inline CC fallback);
#   q55-lifted gate   — LEXICAL decontamination at the train/eval
#                       boundary: train docs sharing >= 1 distinct 8-gram
#                       with ANY valid/test doc are scrubbed (the q126
#                       hashed-gram inverted-index join — both sides
#                       corpus-scale, xxhash64 keys, text never shuffles);
#   q116-lifted gate  — SEMANTIC decontamination at the same boundary:
#                       train docs with cosine >= 0.35 to a valid/test
#                       vector within shared trained k-means cells
#                       (q29/q72/q116's exact index build + decontam_probe
#                       tail, eval side broadcast);
#   q103 quality cut  — per-source bottom-quartile drop over the SURVIVING
#                       train docs (exact histogram threshold, no per-doc
#                       sort);
#   q125 shard export — per-split rank striping under the md5 permutation
#                       into _Q127_SHARDS balanced shards (global_rank +
#                       per-split offset arithmetic — one range exchange,
#                       NEVER a per-split single-task window).
#
# Valid/test pass through unscrubbed and uncut BY DESIGN: the eval sets
# must stay fixed; the gates remove the TRAIN-side members that would
# memorize them (q55's posture at the split boundary).
#
# Output grain: (split, shard) with exact docs/tokens, plus the per-split
# scrub/cut ledger (lexical, semantic, union, quality — zeros off-train).
#
# Oracle: the composition of the proven fragments — Q41_GRAPH_CTES (the
# recursive closure q124 gates against), _ivf_build_ctes + the q116 candk
# extension (the identical Lloyd unroll), the q126-style 8-gram audit ON
# GRAM TEXT (collision audit for the engine's xxhash64 keys), q103's
# histogram-threshold CTEs, and q125's naive ROW_NUMBER striping — exact
# integers and strings end-to-end.
#
# Scale shape: every stage is a proven 100-TB shape reused verbatim; the
# only new plumbing is the per-split offset arithmetic (a <=3-row
# broadcast) and the scrub ledger (single-row broadcast crossJoin, the
# kmeans-centroid class).
# ---------------------------------------------------------------------------

_Q127_SHARDS = 4
_Q127_SEM_THRESHOLD = 0.35
_Q127_NASSIGN = 2
_Q127_CELLS = 16


def _q127_oracle() -> str:
    from mapreduce_paper_implementation_spark.operators.serving import sql_split
    from mapreduce_paper_implementation_spark.plans.queries import (
        Q41_GRAPH_CTES,
        _ivf_build_ctes,
    )

    toks = sql_tokens("text")
    n = _Q126_N
    nsh = _Q127_SHARDS
    ctes = [Q41_GRAPH_CTES]
    ctes += _ivf_build_ctes(_Q127_CELLS, 2)
    ctes.append(
        f"""candk AS (
  SELECT vv.vec_id, vv.vec, vv.nrm, a.cell
  FROM vv JOIN assigned a ON a.vec_id = vv.vec_id AND a.cell_rank <= {_Q127_NASSIGN}
)"""
    )
    ctes.append(
        f"""lab AS MATERIALIZED (
  SELECT d.doc_id, len({toks}) AS tc,
         {sql_split('COALESCE(r.component, d.doc_id)')} AS split
  FROM documents d LEFT JOIN rec r ON r.id = d.doc_id
)"""
    )
    ctes.append(
        f"""g8 AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(
    list_transform(
      range(1, greatest(len({toks}) - {n - 2}, 1)),
      i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')
    ))) AS gram
  FROM documents
  WHERE len({toks}) >= {n}
)"""
    )
    ctes.append(
        """g8l AS MATERIALIZED (
  SELECT g.doc_id, g.gram, l.split FROM g8 g JOIN lab l USING (doc_id)
)"""
    )
    ctes.append(
        """lexbad AS MATERIALIZED (
  SELECT DISTINCT t.doc_id
  FROM g8l t
  JOIN (SELECT DISTINCT gram FROM g8l WHERE split <> 'train') e USING (gram)
  WHERE t.split = 'train'
)"""
    )
    ctes.append(
        """ck AS MATERIALIZED (
  SELECT c.vec_id, c.vec, c.nrm, c.cell, l.split
  FROM candk c JOIN lab l ON l.doc_id = c.vec_id
)"""
    )
    ctes.append(
        f"""sembad AS MATERIALIZED (
  SELECT DISTINCT t.vec_id AS doc_id
  FROM ck t JOIN ck e ON t.cell = e.cell
  WHERE t.split = 'train' AND e.split <> 'train'
    AND CAST(ROUND(list_dot_product(t.vec, e.vec) / (t.nrm * e.nrm), 6)
             AS DECIMAL(9,6)) >= {_Q127_SEM_THRESHOLD}
)"""
    )
    ctes.append(
        """scrub AS MATERIALIZED (
  SELECT doc_id FROM lexbad UNION SELECT doc_id FROM sembad
)"""
    )
    ctes.append(
        """tclean AS MATERIALIZED (
  SELECT l.doc_id, l.tc, l.split FROM lab l
  WHERE l.split = 'train' AND l.doc_id NOT IN (SELECT doc_id FROM scrub)
)"""
    )
    ctes.append(
        f"""scored2 AS MATERIALIZED (
  SELECT d.doc_id, d.source, {_Q103_SCORE_SQL} AS q
  FROM documents d JOIN tclean tcl ON tcl.doc_id = d.doc_id
)"""
    )
    ctes.append(
        "hist2 AS (SELECT source, q, COUNT(*) AS c FROM scored2 GROUP BY source, q)"
    )
    ctes.append(
        "cnt2 AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM hist2 GROUP BY source)"
    )
    ctes.append(
        """cum2 AS (
  SELECT source, q, SUM(c) OVER (PARTITION BY source ORDER BY q) AS cum
  FROM hist2
)"""
    )
    ctes.append(
        """thr2 AS (
  SELECT cum2.source, MIN(q) AS threshold
  FROM cum2 JOIN cnt2 ON cum2.source = cnt2.source
  WHERE cum >= n // 4 + 1
  GROUP BY cum2.source
)"""
    )
    ctes.append(
        """tkept AS MATERIALIZED (
  SELECT s2.doc_id
  FROM scored2 s2 JOIN thr2 t ON s2.source = t.source AND s2.q >= t.threshold
)"""
    )
    ctes.append(
        """final AS MATERIALIZED (
  SELECT l.doc_id, l.tc, l.split
  FROM lab l JOIN tkept k ON k.doc_id = l.doc_id
  UNION ALL
  SELECT doc_id, tc, split FROM lab WHERE split <> 'train'
)"""
    )
    ctes.append(
        f"""shards AS (
  SELECT split,
         CAST((ROW_NUMBER() OVER (
            PARTITION BY split
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % {nsh}
           AS BIGINT) AS shard,
         tc
  FROM final
)"""
    )
    ctes.append(
        """pershard AS (
  SELECT split, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(tc) AS BIGINT) AS n_tokens
  FROM shards GROUP BY split, shard
)"""
    )
    ctes.append(
        """scrubn AS (
  SELECT (SELECT COUNT(*) FROM lexbad) AS lex_n,
         (SELECT COUNT(*) FROM sembad) AS sem_n,
         (SELECT COUNT(*) FROM scrub) AS tot_n,
         (SELECT COUNT(*) FROM tclean) - (SELECT COUNT(*) FROM tkept) AS qual_n
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT p.split, p.shard, p.n_docs, p.n_tokens,
       CAST(CASE WHEN p.split = 'train' THEN s.lex_n ELSE 0 END AS BIGINT)
         AS n_scrubbed_lex,
       CAST(CASE WHEN p.split = 'train' THEN s.sem_n ELSE 0 END AS BIGINT)
         AS n_scrubbed_sem,
       CAST(CASE WHEN p.split = 'train' THEN s.tot_n ELSE 0 END AS BIGINT)
         AS n_scrubbed_total,
       CAST(CASE WHEN p.split = 'train' THEN s.qual_n ELSE 0 END AS BIGINT)
         AS n_quality_dropped
FROM pershard p CROSS JOIN scrubn s
ORDER BY p.split, p.shard
"""
    )


def release_cut_frames(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    emb: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The q127 pipeline down to its two product frames (round-13 refactor
    for the shard exporter — sources/release_export.py writes these as the
    artifact a training loader mounts):

      perdoc — one (doc_id, tc, split, shard) row per RELEASED doc (train
        docs that survived the boundary scrub + quality cut, all
        valid/test docs), shard = balanced rank stripe within the split;
      ledger — ONE row (lex_n, sem_n, tot_n, qual_n): the scrub/cut
        counts over the train side.

    q127 itself is exactly `perdoc.groupBy(split, shard).agg(...)` crossed
    with the ledger, so exported shard files, the counts manifest, and the
    hash-gated query all derive from ONE lineage and cannot disagree."""
    from mapreduce_paper_implementation_spark.functions.text import word_shingles
    from mapreduce_paper_implementation_spark.functions.vectors import norm
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist
    from mapreduce_paper_implementation_spark.operators.dedup import (
        assign_cells,
        decontam_probe,
    )
    from mapreduce_paper_implementation_spark.operators.kmeans import kmeans_fit
    from mapreduce_paper_implementation_spark.operators.serving import (
        cluster_split_assign,
        quartile_threshold,
    )
    from mapreduce_paper_implementation_spark.operators.sort import global_rank
    from mapreduce_paper_implementation_spark.operators.text_analysis import (
        quality_score,
    )

    # docs/emb overrides: tests pass seen-corpus SUBSETS so the one-shot
    # cut can be compared against the incremental release view after
    # every ingest batch (streaming/release_view.py's equality gate)
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    if emb is None:
        emb = load_table(spark, sf_dir, "embeddings")

    # STAGE-BOUNDARY LINEAGE CUTS: this query composes five already-deep
    # pipelines, and a single lazy tree over all of them makes CATALYST
    # the bottleneck — every downstream action (broadcast builds, the
    # range-sampling job inside global_rank, the final agg) re-analyzes
    # the whole nested plan, measured at ~17 s of pure planning overhead
    # in the rank phase alone at sf0.1. localCheckpoint at each stage
    # boundary truncates the plan the next stage sees (the q41/q74/bfs
    # per-round discipline applied at the composition grain); the frames
    # cut are all corpus-bounded label/id tables, never gram or vector
    # frames. scoped_persist still covers the multi-consumer frames
    # WITHIN a stage (g8l, assigned, scored, hist).

    # --- q124 split over the release-cut label map (inline fallback) ---
    # The coarse-centroid build (published index read or inline kmeans_fit
    # over the EMBEDDINGS) shares no input with the label build (ngram pair
    # graph + CC over the DOCS): run it on a driver thread while the label
    # stage materializes (guide §2.6 — actions are only sequential because
    # the driver calls them sequentially). kmeans_fit holds no
    # scoped_persist (localCheckpoint + bounded collects only), so the
    # caching registry's single-thread invariant is preserved; both
    # pipelines are deterministic, so overlap cannot change a result.
    from concurrent.futures import ThreadPoolExecutor

    from mapreduce_paper_implementation_spark.operators.ann_release import (
        published_ann_index,
    )

    def _build_centroids() -> DataFrame:
        _idx = published_ann_index(spark) or {}
        c = _idx.get("centroids")
        if c is None:
            c = kmeans_fit(emb, k=_Q127_CELLS, max_iter=2, tol=0.0)
        return c

    with ThreadPoolExecutor(max_workers=1) as _pool:
        _fut_cents = _pool.submit(_build_centroids)
        lab = (
            cluster_split_assign(docs, _split_labels(spark, docs))
            .select("doc_id", "tc", F.col("split_c").alias("split"))
            .localCheckpoint()
        )
        centroids = _fut_cents.result()

    # --- lexical boundary gate (q126's hashed-gram discipline) ---
    # join-before-explode (guide §3.3): attach the doc-scale split label to
    # the DOCS, then explode — the gram frame never shuffles by doc_id
    g8l = scoped_persist(
        docs.select("doc_id", "text")
        .join(lab.select("doc_id", "split"), "doc_id")
        .select(
            "doc_id",
            F.explode(word_shingles("text", _Q126_N)).alias("shingle"),
            "split",
        )
        .select("doc_id", F.xxhash64("shingle").alias("gh"), "split")
    )
    evg = g8l.where(F.col("split") != "train").select("gh").distinct()
    lex_frame = (
        g8l.where(F.col("split") == "train")
        .join(evg, "gh")
        .select("doc_id")
        .distinct()
    )

    # --- semantic boundary gate (q116's index + probe, boundary eval) ---
    # coarse centroids were built above, overlapped with the label stage
    # (published ANN release index when exported — VERDICT r12 #1, same
    # 16-cell geometry as q116/q118 — else inline kmeans_fit,
    # bit-identical)
    assigned = scoped_persist(
        assign_cells(emb, centroids, nassign=_Q127_NASSIGN)
        .withColumn("nrm", norm(F.col("vec")))
        .join(
            lab.select(F.col("doc_id").alias("id"), "split"), "id"
        )
    )
    ev = assigned.where(F.col("split") != "train").select(
        "cell",
        F.col("id").alias("eval_id"),
        F.col("vec").alias("e_vec"),
        F.col("nrm").alias("e_nrm"),
    )
    tr = assigned.where(F.col("split") == "train")
    sem_frame = decontam_probe(tr, ev, _Q127_SEM_THRESHOLD).select(
        F.col("vec_id").alias("doc_id")
    )
    # The two scrub-set materializations are independent given lab +
    # centroids (lexical reads the persisted gram frame, semantic the
    # persisted assignment frame) — overlap their checkpoints on driver
    # threads (guide §2.6). All scoped_persist registrations happened
    # above on the coordinating thread; the workers only materialize.
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_lex = _pool.submit(lex_frame.localCheckpoint)
        _f_sem = _pool.submit(sem_frame.localCheckpoint)
        lex_bad = _f_lex.result()
        sem_bad = _f_sem.result()

    score_frame = docs.select(
        "doc_id",
        "source",
        F.round(quality_score("text", "n_chars"), 6)
        .cast("decimal(9,6)")
        .cast("double")
        .alias("q"),
    )
    return _release_cut_tail(lab, lex_bad, sem_bad, score_frame)


def _release_cut_tail(
    lab: DataFrame,
    lex_bad: DataFrame,
    sem_bad: DataFrame,
    score_frame: DataFrame,
    n_shards: int = _Q127_SHARDS,
) -> tuple[DataFrame, DataFrame]:
    """The composition-invariant back half of the release cut — scrub
    union, train survivors, q103 quality cut, q125 rank striping, scrub
    ledger — SHARED by the one-shot q127 (inputs built from the corpus
    tables) and streaming/release_view.py (inputs built from maintained
    state): ONE expression tree, so the served view and the hash-gated
    query cannot drift in the tail (the cluster_split_assign discipline
    applied at the composition grain).

    Inputs: lab (doc_id, tc, split — materialized), lex_bad / sem_bad
    (doc_id — the boundary scrub sets), score_frame (doc_id, source, q —
    quality scores; joined to the surviving train docs inside, so callers
    pass the full lazy frame and only survivors are ever scored/kept)."""
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist
    from mapreduce_paper_implementation_spark.operators.serving import (
        quartile_threshold,
    )
    from mapreduce_paper_implementation_spark.operators.sort import global_rank

    scrub = lex_bad.unionByName(sem_bad).distinct().localCheckpoint()
    tclean = (
        lab.where(F.col("split") == "train")
        .join(scrub, "doc_id", "anti")
        .localCheckpoint()
    )

    # --- q103 quality cut over the surviving train docs ---
    scored = scoped_persist(score_frame.join(tclean.select("doc_id"), "doc_id"))
    hist = scoped_persist(scored.groupBy("source", "q").agg(F.count("*").alias("c")))
    thr = quartile_threshold(hist)
    tkept = (
        scored.join(F.broadcast(thr), "source")
        .where(F.col("q") >= F.col("threshold"))
        .select("doc_id")
        .localCheckpoint()
    )

    # --- q125 shard export: per-split rank striping, never a per-split
    # single-task window (global_rank over (split, k, doc_id) + per-split
    # start offsets — a <=3-row broadcast) ---
    final = (
        lab.join(tkept, "doc_id")
        .select("doc_id", "tc", "split")
        .unionByName(lab.where(F.col("split") != "train"))
        .withColumn("k", F.md5(F.col("doc_id").cast("string")))
        .localCheckpoint()
    )
    cnts = final.groupBy("split").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("split").rowsBetween(Window.unboundedPreceding, -1)
    offs = cnts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("split", "_off")
    ranked = global_rank(
        final, [F.col("split"), F.col("k"), F.col("doc_id")], rank_col="_grnk"
    )
    perdoc = (
        ranked.join(F.broadcast(offs), "split")
        .withColumn(
            "shard",
            ((F.col("_grnk") - F.col("_off") - 1) % n_shards).cast("long"),
        )
        .select("doc_id", "tc", "split", "shard")
    )

    # --- the scrub/cut ledger: four single-row aggregates crossJoined ---
    lex_n = lex_bad.agg(F.count("*").cast("long").alias("lex_n"))
    sem_n = sem_bad.agg(F.count("*").cast("long").alias("sem_n"))
    tot_n = scrub.agg(F.count("*").cast("long").alias("tot_n"))
    qual_n = (
        tclean.agg(F.count("*").alias("_nc"))
        .crossJoin(F.broadcast(tkept.agg(F.count("*").alias("_nk"))))
        .select((F.col("_nc") - F.col("_nk")).cast("long").alias("qual_n"))
    )
    ledger = (
        lex_n.crossJoin(F.broadcast(sem_n))
        .crossJoin(F.broadcast(tot_n))
        .crossJoin(F.broadcast(qual_n))
    )
    return perdoc, ledger


@query("q127_release_cut", _q127_oracle())
def q127_release_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    perdoc, ledger = release_cut_frames(spark, sf_dir)
    pershard = perdoc.groupBy("split", "shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tc").cast("long").alias("n_tokens"),
    )
    z = F.lit(0).cast("long")
    is_tr = F.col("split") == "train"
    return (
        pershard.crossJoin(F.broadcast(ledger))
        .select(
            "split",
            "shard",
            "n_docs",
            "n_tokens",
            F.when(is_tr, F.col("lex_n")).otherwise(z).alias("n_scrubbed_lex"),
            F.when(is_tr, F.col("sem_n")).otherwise(z).alias("n_scrubbed_sem"),
            F.when(is_tr, F.col("tot_n")).otherwise(z).alias("n_scrubbed_total"),
            F.when(is_tr, F.col("qual_n")).otherwise(z).alias("n_quality_dropped"),
        )
        .orderBy("split", "shard")
    )





# ---------------------------------------------------------------------------
# Q132 TOKEN-balanced shard export (round 13) — the token-budget counterpart
# of q125's doc-balanced rank striping. Training loaders step in TOKENS:
# doc-balanced shards with skewed doc lengths give uneven step counts per
# shard. This query cuts shard boundaries at equal CUMULATIVE-TOKEN targets
# under the same reproducible md5 permutation:
#
#     shard(doc) = min( floor(cum_tokens_before(doc) * N / total_tokens),
#                       N - 1 )
#
# — a pure function of the exclusive token prefix sum, computed by the new
# operators/sort.py:prefix_sum (parallel scan, the TeraSort shape: range
# exchange -> per-partition running sums -> n_partitions-row offset
# broadcast; NEVER a single-task `SUM() OVER (ORDER BY ...)`, the same
# 100-TB killer q125 avoids for ranks). Exact integer arithmetic end to
# end (bigint cum * N stays far inside int64 even at 1e14 corpus tokens),
# so the output is hash-exact cross-engine.
#
# Balance property (pinned in tests/test_round13_additions.py): every
# shard's token mass deviates from total/N by less than the largest single
# document at each boundary — spread(n_tokens) <= 2 * max(tc) — while doc
# COUNTS float free (the trade the q125 contrast makes visible: rank
# striping pins docs +-1 with token spread, prefix-sum cutting pins tokens
# with doc spread).
#
# Oracle: the naive single-window prefix sum (fine as sf0.01 truth) with
# identical integer shard arithmetic (DuckDB `//` == Spark `div` on
# BIGINT) and the shared md5 permutation (lowercase-hex collation agrees
# cross-engine, the q125 contract).
# ---------------------------------------------------------------------------

_Q132_SHARDS = 16


def _q132_oracle(n_shards: int = _Q132_SHARDS) -> str:
    from mapreduce_paper_implementation_spark.operators.text_analysis import (
        sql_tokens,
    )

    return f"""
WITH t AS (
  SELECT doc_id, CAST(len({sql_tokens('text')}) AS BIGINT) AS tc,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
c AS (
  SELECT doc_id, tc,
         COALESCE(SUM(tc) OVER (ORDER BY k, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cumb,
         SUM(tc) OVER () AS tot
  FROM t
)
SELECT CAST(LEAST((cumb * {n_shards}) // tot, {n_shards - 1}) AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tc) AS BIGINT) AS n_tokens
FROM c GROUP BY 1 ORDER BY shard
"""


@query("q132_token_balanced_shards", _q132_oracle())
def q132_token_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.functions.text import token_count
    from mapreduce_paper_implementation_spark.operators.sort import prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", token_count("text").cast("long").alias("tc")
    ).withColumn("k", F.md5(F.col("doc_id").cast("string")))
    c = prefix_sum(base, [F.col("k"), F.col("doc_id")], "tc", out_col="cumb")
    tot = base.agg(F.sum("tc").cast("long").alias("tot"))
    return (
        c.crossJoin(F.broadcast(tot))
        .withColumn(
            "shard",
            F.least(
                F.expr(f"(cumb * {_Q132_SHARDS}) div tot"),
                F.lit(_Q132_SHARDS - 1),
            ).cast("long"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tc").cast("long").alias("n_tokens"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Q133 token-budget mixture allocation under epoch caps (round 13) — the
# data-MIXING planner that sits in front of the q127 release cut: given a
# total training-token budget B and a per-source repetition cap (how many
# epochs of a source may be consumed before repetition hurts), allocate
# B across sources as evenly as the caps allow. This is exact WATER-
# FILLING: sources whose cap is below the rising water level saturate at
# their cap; the remaining budget splits evenly among the rest — the
# allocation rule behind published data-mixture recipes (e.g. the
# "don't repeat small high-quality sources past a few epochs" discipline
# of Muennighoff et al. 2023, "Scaling Data-Constrained Language Models").
#
# Exactness: with caps sorted ascending the saturated set is a PREFIX, so
# the whole plan is window arithmetic over the BOUNDED per-source frame
# (#sources rows — the corpus is touched once, for the per-source token
# count): k = max{i : cap_i * (n-i+1) <= B - cumcap_before_i}, the
# unsaturated m = n-k sources get q = R div m each with the r = R mod m
# remainder granted +1 token to the first r in (cap, source) order (the
# q101 largest-remainder determinism). Integer end-to-end -> hash-exact;
# the only double is the reported epochs ratio, ROUND(,6) both engines.
#
# Fixture dynamics are planted deterministically: sources sorting below
# 'src2' (12 of the 20 srcN names under string collation — identical in
# both engines) carry a 1-epoch cap, the rest 2 epochs, budget B = 5/4
# of corpus tokens (below the ~1.4x cap sum, above every 1-epoch cap's fair
# share) — so the 1-epoch sources saturate and the rest share the
# remainder, exercising both classes at every SF (an all-saturated corpus
# would zero m; the CASE guards division and reports the shortfall).
#
# Scale shape: ONE corpus shuffle (the per-source token agg, q04's
# shape); the planner itself is arithmetic over #sources rows (the
# bounded-frame window class — counts, never data).
# ---------------------------------------------------------------------------


def _q133_alloc_ctes() -> str:
    """The water-filling allocation CTEs (src -> caps -> ordered -> kk ->
    alloc) — SHARED by q133's readout and q134's budgeted-sample oracle,
    so the materialized sample cannot drift from the gated plan."""
    return f"""src AS MATERIALIZED (
  SELECT source, CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS toks
  FROM documents GROUP BY source
),
caps AS (
  SELECT source, toks,
         CAST(CASE WHEN source < 'src2' THEN toks ELSE toks * 2 END AS BIGINT) AS cap,
         CAST((SELECT SUM(toks) * 5 FROM src) // 4 AS BIGINT) AS b,
         CAST((SELECT COUNT(*) FROM src) AS BIGINT) AS n
  FROM src
),
ordered AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cap, source) AS i,
         COALESCE(SUM(cap) OVER (ORDER BY cap, source
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cumb
  FROM caps
),
kk AS (
  SELECT COALESCE(MAX(CASE WHEN cap * (n - i + 1) <= b - cumb THEN i END), 0) AS k,
         COALESCE(MAX(CASE WHEN cap * (n - i + 1) <= b - cumb THEN cumb + cap END), 0) AS cumk
  FROM ordered
),
alloc AS (
  SELECT o.source, o.toks, o.cap,
         CASE WHEN o.i <= kk.k THEN o.cap
              ELSE (o.b - kk.cumk) // (o.n - kk.k)
                   + CASE WHEN o.i - kk.k <= (o.b - kk.cumk) % (o.n - kk.k)
                          THEN 1 ELSE 0 END
         END AS allocated,
         o.i <= kk.k AS saturated
  FROM ordered o CROSS JOIN kk
)"""


def _q133_oracle() -> str:
    return f"""
WITH {_q133_alloc_ctes()}
SELECT source, toks AS n_tokens, cap, CAST(allocated AS BIGINT) AS allocated,
       saturated,
       ROUND(CAST(allocated AS DOUBLE) / CAST(toks AS DOUBLE), 6) AS epochs
FROM alloc ORDER BY source
"""


def _mixture_alloc_frame(docs: DataFrame) -> DataFrame:
    """(source, toks, cap, allocated, saturated) — the Spark half of the
    shared water-filling plan; q133 formats it, q134 materializes it."""
    from mapreduce_paper_implementation_spark.functions.text import token_count

    src = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("long").alias("toks")
    )
    return mixture_alloc_from_src(src)


def mixture_alloc_from_src(src: DataFrame) -> DataFrame:
    """The water-filling allocation over the BOUNDED (source, toks) frame
    — extracted (round 14) so streaming/mixture_view.py re-derives the
    SAME q133 plan from maintained per-source token counters: the corpus
    scan is the only thing that differs between the batch planner and the
    served one, exactly the serving.py shared-tail discipline."""
    tot = src.agg(
        F.sum("toks").cast("long").alias("_tot"),
        F.count("*").cast("long").alias("n"),
    )
    caps = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        F.when(F.col("source") < "src2", F.col("toks"))
        .otherwise(F.col("toks") * 2)
        .cast("long")
        .alias("cap"),
        F.expr("(_tot * 5) div 4").cast("long").alias("b"),
        "n",
    )
    # planner windows run over the BOUNDED per-source frame (#sources
    # rows) — the counts class, never the corpus
    w = Window.orderBy("cap", "source")
    ordered = caps.withColumn("i", F.row_number().over(w)).withColumn(
        "cumb",
        F.coalesce(
            F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    )
    sat = F.col("cap") * (F.col("n") - F.col("i") + 1) <= F.col("b") - F.col("cumb")
    kk = ordered.agg(
        F.coalesce(F.max(F.when(sat, F.col("i"))), F.lit(0)).alias("k"),
        F.coalesce(
            F.max(F.when(sat, F.col("cumb") + F.col("cap"))), F.lit(0)
        ).alias("cumk"),
    )
    alloc = ordered.crossJoin(F.broadcast(kk)).select(
        "source",
        "toks",
        "cap",
        F.when(F.col("i") <= F.col("k"), F.col("cap"))
        .otherwise(
            F.expr("(b - cumk) div (n - k)")
            + F.when(
                F.col("i") - F.col("k") <= F.expr("(b - cumk) % (n - k)"),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("allocated"),
        (F.col("i") <= F.col("k")).alias("saturated"),
    )
    return alloc


def mixture_plan_readout(alloc: DataFrame) -> DataFrame:
    """q133's final projection — shared by the registered query and the
    streaming mixture_view, so served allocations equal the batch plan
    bit-exactly whenever the (source, toks) inputs agree."""
    return alloc.select(
        "source",
        F.col("toks").alias("n_tokens"),
        "cap",
        "allocated",
        "saturated",
        F.round(F.col("allocated") / F.col("toks"), 6).alias("epochs"),
    ).orderBy("source")


@query("q133_mixture_allocation", _q133_oracle())
def q133_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture_plan_readout(
        _mixture_alloc_frame(load_table(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# Q134 budgeted mixture sample (round 13) — the MATERIALIZATION of q133's
# plan: consume each source up to its allocated token budget under the
# Muennighoff-style repetition schedule. A source with allocated >= toks
# is consumed in FULL EPOCHS (allocated div toks passes over every doc)
# plus a deterministic HEAD of the remainder (allocated mod toks tokens,
# taken in md5-permutation order); a source with allocated < toks takes
# only the head. Head rule (greedy-inclusive, identical both engines): a
# doc is in the head iff its per-source cumulative-token START offset is
# strictly below the remainder budget — the straddling doc is kept, so
# per-source overshoot is bounded by one document.
#
# Scale shape: the per-source cumulative offsets come from ONE GLOBAL
# prefix_sum over (source, k, doc_id) (operators/sort.py — range exchange
# + bounded offsets; a naive per-source window would put each source in
# ONE task, the 100-TB killer when a source dominates the corpus); the
# per-source start offsets are a bounded #sources-row aggregate broadcast
# back. Everything else is the q133 planner (bounded frame) + one
# map-side filter + per-source partial/final agg.
#
# Oracle: the SHARED q133 allocation CTEs + a naive per-source window
# cumsum (fine as sf0.01 truth) + identical integer epoch/remainder
# arithmetic. Exact integers; the only double is ROUND(,6) utilization.
# ---------------------------------------------------------------------------


def _q134_oracle() -> str:
    return f"""
WITH {_q133_alloc_ctes()},
base AS MATERIALIZED (
  SELECT doc_id, source, CAST(len({sql_tokens('text')}) AS BIGINT) AS tc,
         md5(CAST(doc_id AS VARCHAR)) AS kk2
  FROM documents
),
cum AS (
  SELECT doc_id, source, tc,
         COALESCE(SUM(tc) OVER (PARTITION BY source ORDER BY kk2, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS scum
  FROM base
),
persrc AS (
  SELECT c.source,
         CAST(COUNT(*) AS BIGINT) AS n_src_docs,
         CAST(SUM(c.tc) AS BIGINT) AS toks2,
         CAST(SUM(CASE WHEN c.scum < a.allocated % a.toks THEN 1 ELSE 0 END)
              AS BIGINT) AS head_docs,
         CAST(SUM(CASE WHEN c.scum < a.allocated % a.toks THEN c.tc ELSE 0 END)
              AS BIGINT) AS head_tokens,
         CAST(MAX(a.allocated // a.toks) AS BIGINT) AS full_epochs,
         CAST(MAX(a.allocated) AS BIGINT) AS allocated
  FROM cum c JOIN alloc a ON a.source = c.source
  GROUP BY c.source
)
SELECT source,
       CAST(full_epochs * n_src_docs + head_docs AS BIGINT) AS n_docs_kept,
       CAST(full_epochs * toks2 + head_tokens AS BIGINT) AS n_tokens_kept,
       allocated, full_epochs,
       ROUND(CAST(full_epochs * toks2 + head_tokens AS DOUBLE)
             / CAST(allocated AS DOUBLE), 6) AS utilization
FROM persrc ORDER BY source
"""


def _mixture_sample_parts(
    docs: DataFrame | None, meta: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """(scum, alloc) — the shared spine of the budgeted mixture sample.
    `scum`: (doc_id, source, tc, scum) with scum = the doc's per-source
    cumulative-token START offset under the md5 permutation, from ONE
    global prefix_sum over (source, k, doc_id) + a bounded per-source
    offset broadcast (never a per-source single-task window). `alloc`:
    (source, full_epochs, rem, allocated) from the q133 water-filling
    plan. Shared by q134's hash-gated aggregate, q136's epoch/shard
    stream readout, and sources/mixture_export.py — the release_cut_frames
    one-lineage discipline: the exported sample can never drift from the
    gated plan.

    Input is EITHER `docs` (doc_id, source, text — the corpus parse,
    tokenized here) OR `meta` (doc_id, source, tc — already-tokenized
    counts, e.g. streaming/release_view.py's maintained meta leaf), so
    the export composes onto maintained state without re-tokenizing."""
    from mapreduce_paper_implementation_spark.functions.text import token_count
    from mapreduce_paper_implementation_spark.operators.sort import prefix_sum

    if (docs is None) == (meta is None):
        raise ValueError("exactly one of docs/meta must be given")
    base = (
        meta.select("doc_id", "source", F.col("tc").cast("long").alias("tc"))
        if meta is not None
        else docs.select(
            "doc_id", "source", token_count("text").cast("long").alias("tc")
        )
    ).withColumn("k", F.md5(F.col("doc_id").cast("string")))
    alloc = mixture_alloc_from_src(
        base.groupBy("source").agg(F.sum("tc").cast("long").alias("toks"))
    ).select(
        "source",
        F.expr("allocated div toks").cast("long").alias("full_epochs"),
        F.expr("allocated % toks").cast("long").alias("rem"),
        "allocated",
    )
    # ONE global scan-prefix over (source, k, doc_id); per-source offsets
    # recovered by a bounded min-per-source broadcast — never a per-source
    # single-task window over the corpus
    cum = prefix_sum(base, [F.col("source"), F.col("k"), F.col("doc_id")], "tc")
    offs = cum.groupBy("source").agg(F.min("cum_before").alias("_soff"))
    scum = cum.join(F.broadcast(offs), "source").withColumn(
        "scum", F.col("cum_before") - F.col("_soff")
    )
    return scum, alloc


@query("q134_budgeted_sample", _q134_oracle())
def q134_budgeted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scum, alloc = _mixture_sample_parts(docs)
    persrc = (
        scum.join(F.broadcast(alloc), "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_src_docs"),
            F.sum("tc").cast("long").alias("toks"),
            F.sum(F.when(F.col("scum") < F.col("rem"), 1).otherwise(0))
            .cast("long")
            .alias("head_docs"),
            F.sum(F.when(F.col("scum") < F.col("rem"), F.col("tc")).otherwise(0))
            .cast("long")
            .alias("head_tokens"),
            F.max("full_epochs").alias("full_epochs"),
            F.max("allocated").alias("allocated"),
        )
    )
    kept_docs = (F.col("full_epochs") * F.col("n_src_docs") + F.col("head_docs")).cast("long")
    kept_toks = (F.col("full_epochs") * F.col("toks") + F.col("head_tokens")).cast("long")
    return persrc.select(
        "source",
        kept_docs.alias("n_docs_kept"),
        kept_toks.alias("n_tokens_kept"),
        "allocated",
        "full_epochs",
        F.round(kept_toks / F.col("allocated"), 6).alias("utilization"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Q136 mixture epoch/shard stream (round 14) — the WRITE SIDE of the
# q133/q134 budgeted mixture (VERDICT r13 #1): materialize the actual
# repeated-epoch doc stream the training loader mounts. Every doc gets
# ncopies = full_epochs + (1 if it is in the md5-order remainder head)
# copies; copy e of a doc belongs to mixture EPOCH e (epochs 0..
# full_epochs-1 are full passes over the source, epoch full_epochs is the
# partial head pass — the Muennighoff repetition schedule laid out as a
# loader-facing (epoch, shard) grid). Within each epoch, shards are
# TOKEN-balanced by the q132 cutting rule: shard = floor(cum_tokens *
# n_shards / epoch_tokens), so concurrent loader workers get equal token
# work per epoch.
#
# Scale shape: the copy expansion is a map-side explode over a bounded
# sequence (ncopies <= max epoch cap, a small constant — never a join);
# the within-epoch cumulative offsets come from ONE global prefix_sum
# over (epoch, k2, doc_id) (operators/sort.py — range exchange + bounded
# offsets) with per-epoch start/total recovered by a bounded #epochs-row
# broadcast, exactly the q134 per-source-offset trick one level up. A
# naive per-epoch window would put EVERY copy of the corpus in one task.
# The shard key k2 = md5(doc_id:epoch) re-permutes docs per epoch, so a
# shard's doc set differs across epochs (loader-order decorrelation) and
# (epoch, k2, doc_id) is a total order.
#
# Oracle: the SHARED q133 allocation CTEs + the q134 per-source cumsum +
# UNNEST(range(ncopies)) copy expansion + the same per-epoch cumsum and
# integer cutting arithmetic. Exact integers end-to-end.
#
# sources/mixture_export.py writes this exact frame (one lineage) as
# hive-partitioned (epoch, shard) parquet behind an atomic pointer, with
# a manifest equality-gated against q134's hash-gated per-source
# aggregates.
# ---------------------------------------------------------------------------

_Q136_SHARDS = 8


def mixture_stream_frame(
    docs: DataFrame | None,
    n_shards: int = _Q136_SHARDS,
    meta: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, source, tc, epoch, shard) — one row per materialized copy
    of each kept doc, sharded token-balanced within its epoch. The ONE
    lineage behind q136's gated readout and the mixture exporter. `meta`
    (doc_id, source, tc) substitutes for `docs` when token counts are
    already maintained (the release-view composition)."""
    from mapreduce_paper_implementation_spark.operators.sort import prefix_sum

    scum, alloc = _mixture_sample_parts(docs, meta=meta)
    percopy = (
        scum.join(F.broadcast(alloc), "source")
        .withColumn(
            "ncopies",
            (
                F.col("full_epochs")
                + F.when(F.col("scum") < F.col("rem"), 1).otherwise(0)
            ).cast("long"),
        )
        .where(F.col("ncopies") > 0)
        .select(
            "doc_id",
            "source",
            "tc",
            F.explode(F.sequence(F.lit(0), F.col("ncopies") - 1)).alias("epoch"),
        )
        .withColumn("epoch", F.col("epoch").cast("long"))
        .withColumn(
            "k2",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("epoch").cast("string"),
                )
            ),
        )
    )
    cum2 = prefix_sum(
        percopy, [F.col("epoch"), F.col("k2"), F.col("doc_id")], "tc", out_col="gcum"
    )
    # bounded: one row per epoch (epochs <= max cap multiple, a small
    # constant); min(gcum) over an epoch = total tokens of earlier epochs
    eoffs = cum2.groupBy("epoch").agg(
        F.min("gcum").alias("_eoff"), F.sum("tc").cast("long").alias("_etot")
    )
    return (
        cum2.join(F.broadcast(eoffs), "epoch")
        .withColumn(
            "shard",
            F.least(
                F.expr(f"((gcum - _eoff) * {n_shards}) div _etot"),
                F.lit(n_shards - 1),
            ).cast("long"),
        )
        .select("doc_id", "source", "tc", "epoch", "shard")
    )


def _q136_oracle() -> str:
    return f"""
WITH {_q133_alloc_ctes()},
base AS MATERIALIZED (
  SELECT doc_id, source, CAST(len({sql_tokens('text')}) AS BIGINT) AS tc,
         md5(CAST(doc_id AS VARCHAR)) AS kk2
  FROM documents
),
cum AS (
  SELECT doc_id, source, tc,
         COALESCE(SUM(tc) OVER (PARTITION BY source ORDER BY kk2, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS scum
  FROM base
),
parts AS (
  SELECT c.doc_id, c.tc,
         CAST(a.allocated // a.toks
              + CASE WHEN c.scum < a.allocated % a.toks THEN 1 ELSE 0 END
              AS BIGINT) AS ncopies
  FROM cum c JOIN alloc a ON a.source = c.source
),
copies AS (
  SELECT doc_id, tc, CAST(UNNEST(range(ncopies)) AS BIGINT) AS epoch
  FROM parts WHERE ncopies > 0
),
keyed AS (
  SELECT doc_id, tc, epoch,
         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS k2
  FROM copies
),
ecum AS (
  SELECT epoch, tc,
         COALESCE(SUM(tc) OVER (PARTITION BY epoch ORDER BY k2, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS escum,
         SUM(tc) OVER (PARTITION BY epoch) AS etot
  FROM keyed
)
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST(LEAST((escum * {_Q136_SHARDS}) // etot, {_Q136_SHARDS - 1}) AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tc) AS BIGINT) AS n_tokens
FROM ecum GROUP BY 1, 2 ORDER BY epoch, shard
"""


@query("q136_mixture_epoch_stream", _q136_oracle())
def q136_mixture_epoch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = mixture_stream_frame(load_table(spark, sf_dir, "documents"))
    return (
        stream.groupBy("epoch", "shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tc").cast("long").alias("n_tokens"),
        )
        .orderBy("epoch", "shard")
    )


# ---------------------------------------------------------------------------
# Q137 context-cap planner (round 14) — the loader-geometry decision the
# packing family (q59 greedy bins, q81 overlap chunks, q132/q136 balanced
# shards) feeds into: for each candidate context length, what does the
# corpus cost under the one-doc-per-sequence fine-tuning loader — how many
# docs truncate, how many tokens are lost to truncation, how much padding
# is wasted, and the resulting utilization? Exact per-cap arithmetic:
# tokens_kept = sum(min(tc, cap)), padding = sum(cap - min(tc, cap)),
# utilization = kept / (n_docs * cap). The argmin/argmax tradeoff curve is
# the whole output (5 bounded rows), so the choice is auditable rather
# than folklore.
#
# Scale shape: ONE corpus pass — map-side explode of the 5-literal cap
# array (x5 rows, each a constant-width projection) into a 5-group
# partial/final agg; no shuffle wider than 5 keys. The naive alternative
# (5 separate corpus scans) is what this query exists to avoid.
#
# Oracle: CROSS JOIN (VALUES ...) caps with identical LEAST/integer
# arithmetic; the only double is ROUND(,6) utilization.
# ---------------------------------------------------------------------------

_Q137_CAPS = (128, 256, 512, 1024, 2048)


def _q137_oracle() -> str:
    vals = ", ".join(f"({c})" for c in _Q137_CAPS)
    return f"""
WITH t AS (
  SELECT CAST(len({sql_tokens('text')}) AS BIGINT) AS tc FROM documents
),
caps(cap) AS (VALUES {vals})
SELECT CAST(cap AS BIGINT) AS cap,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN tc > cap THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
       CAST(SUM(LEAST(tc, cap)) AS BIGINT) AS tokens_kept,
       CAST(SUM(tc - LEAST(tc, cap)) AS BIGINT) AS tokens_lost,
       CAST(SUM(cap - LEAST(tc, cap)) AS BIGINT) AS padding_tokens,
       ROUND(CAST(SUM(LEAST(tc, cap)) AS DOUBLE)
             / CAST(COUNT(*) * cap AS DOUBLE), 6) AS utilization
FROM t CROSS JOIN caps
GROUP BY cap ORDER BY cap
"""


@query("q137_context_cap_planner", _q137_oracle())
def q137_context_cap_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_paper_implementation_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(token_count("text").cast("long").alias("tc"))
    kept = F.least(F.col("tc"), F.col("cap"))
    return (
        t.select(
            "tc",
            F.explode(
                F.array(*[F.lit(c).cast("long") for c in _Q137_CAPS])
            ).alias("cap"),
        )
        .groupBy("cap")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("tc") > F.col("cap"), 1).otherwise(0))
            .cast("long")
            .alias("n_truncated"),
            F.sum(kept).cast("long").alias("tokens_kept"),
            F.sum(F.col("tc") - kept).cast("long").alias("tokens_lost"),
            F.sum(F.col("cap") - kept).cast("long").alias("padding_tokens"),
            F.round(
                F.sum(kept) / (F.count("*") * F.first("cap")), 6
            ).alias("utilization"),
        )
        .orderBy("cap")
    )


# ---------------------------------------------------------------------------
# Q138 dedup-threshold tuning curve (round 14) — the audit that tells a
# curation engineer WHERE to set the near-dup cutoff: for each candidate
# Jaccard threshold 0.1..0.9, how many pairs fire and how many distinct
# docs get linked into some near-dup relation. The pair set is computed
# ONCE (q20's exact inverted-index join — shared operator, same shingle
# definition, hot-shingle df cut, and ROUND(,6) score) and bucketed by a
# 9-literal threshold explode; the naive alternative re-runs the
# similarity join per threshold.
#
# Cross-engine exactness: thresholds compare in integer MICRO units
# (round(jaccard*1e6) >= tu) — never double-vs-decimal literal semantics
# (DuckDB parses 0.7 as DECIMAL; Spark as double — the q95 fence class).
# Thresholds with zero firing pairs drop from BOTH engines identically
# (empty group on one side, inner join on the other).
#
# Scale shape: the pair set is the q20 skeleton (inverted index + df cut,
# never all-pairs); the curve is a x9 explode over the DERIVED pair set
# (|pairs| << corpus) + two bounded aggregates.
# ---------------------------------------------------------------------------

_Q138_THRESH_MICROS = tuple(range(100_000, 1_000_000, 100_000))


def _q138_oracle() -> str:
    from mapreduce_paper_implementation_spark.plans.queries import _Q20_ORACLE

    vals = ", ".join(f"({t})" for t in _Q138_THRESH_MICROS)
    return f"""
WITH pairs AS ({_Q20_ORACLE}),
th(tu) AS (VALUES {vals}),
hit AS (
  SELECT th.tu, p.id_a, p.id_b
  FROM pairs p CROSS JOIN th
  WHERE CAST(ROUND(p.jaccard * 1000000) AS BIGINT) >= th.tu
),
pa AS (SELECT tu, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM hit GROUP BY tu),
dd AS (
  SELECT tu, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs_linked
  FROM (SELECT tu, id_a AS id FROM hit UNION ALL SELECT tu, id_b FROM hit)
  GROUP BY tu
)
SELECT CAST(pa.tu AS DOUBLE) / 1000000 AS threshold,
       pa.n_pairs, dd.n_docs_linked
FROM pa JOIN dd USING (tu)
ORDER BY threshold
"""


@query("q138_dedup_threshold_curve", _q138_oracle())
def q138_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-14 shape (guide §1.2/§2.3): the curve derives from TWO BOUNDED
    # HISTOGRAMS over the pair set, never a x9 threshold explode.
    #   n_pairs(t)       = #pairs with ju >= t          — suffix sum of the
    #                      pairs-per-ju-bucket histogram (<= 10 rows);
    #   n_docs_linked(t) = #docs whose MAX pair ju >= t — a doc is linked at
    #                      t iff its best pair fires, so the per-doc max-ju
    #                      histogram's suffix sums ARE the distinct counts
    #                      (no x9 countDistinct shuffle).
    # Bucket b = ju div 100000 is exact: thresholds are the multiples
    # t_i = i*100000, and for integers ju >= i*100000 <=> ju div 100000 >= i.
    # The pair set is persisted so the q20 inverted-index join runs ONCE —
    # the previous formulation recomputed it for BOTH aggregates (measured
    # 21.2 s solo; see OPTIMIZATION_r14.md). Thresholds with zero firing
    # pairs drop via the n_pairs > 0 filter — identical to the oracle's
    # inner-join-on-empty-group semantics (n_pairs = 0 implies
    # n_docs_linked = 0 and vice versa).
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist
    from mapreduce_paper_implementation_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.1, sort=False
    )
    pj = scoped_persist(
        pairs.select(
            "id_a",
            "id_b",
            F.round(F.col("jaccard") * 1000000).cast("long").alias("ju"),
        )
    )
    phist = pj.groupBy((F.col("ju") / 100000).cast("long").alias("b")).agg(
        F.count("*").alias("c")
    )
    dhist = (
        pj.select(F.explode(F.array("id_a", "id_b")).alias("id"), "ju")
        .groupBy("id")
        .agg(F.max("ju").alias("mu"))
        .groupBy((F.col("mu") / 100000).cast("long").alias("b"))
        .agg(F.count("*").alias("c"))
    )
    th = spark.range(1, 10).select(
        (F.col("id") * 100000).cast("long").alias("tu"), F.col("id").alias("i")
    )
    pa = (
        th.join(F.broadcast(phist), phist["b"] >= th["i"])
        .groupBy("tu")
        .agg(F.sum("c").cast("long").alias("n_pairs"))
    )
    dd = (
        th.join(F.broadcast(dhist), dhist["b"] >= th["i"])
        .groupBy("tu")
        .agg(F.sum("c").cast("long").alias("n_docs_linked"))
    )
    return (
        pa.join(dd, "tu")
        .where(F.col("n_pairs") > 0)
        .select(
            (F.col("tu").cast("double") / 1000000).alias("threshold"),
            "n_pairs",
            "n_docs_linked",
        )
        .orderBy("threshold")
    )
