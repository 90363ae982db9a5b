"""Round-15 optimization pins.

Each test pins a round-15 rewrite against an inline copy of the
pre-round-15 formulation — same engine, same session, so the comparison is
row-exact, not just oracle-hash-exact (the round-14 discipline).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.01"


def test_ngram_cooccurrence_posting_lists_match_self_join(spark, sf_dir):
    """The posting-list co-occurrence (ONE shuffle of the inverted index:
    groupBy shingle -> sorted id list -> ordered-pair explode) must produce
    exactly the (id_a, id_b, inter, n_a, n_b) rows of the pre-round-15
    shingle SELF-JOIN it replaced (hot-df count agg + two join sides),
    including the hot-cut boundary."""
    from mapreduce_paper_implementation_spark.functions.text import word_shingles
    from mapreduce_paper_implementation_spark.operators.dedup import (
        _ngram_cooccurrence,
    )
    from mapreduce_paper_implementation_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    max_df = 5  # tight cap so the hot-cut boundary is actually exercised

    new = _ngram_cooccurrence(docs, "doc_id", "text", 3, max_df)

    # inline pre-round-15 formulation (operators/dedup.py @ b038c96^)
    sh = docs.select("doc_id", "text").select(
        F.col("doc_id").alias("id"), word_shingles("text", 3).alias("shingles")
    ).where(F.size("shingles") > 0)
    inv = sh.select("id", F.explode("shingles").alias("shingle"))
    sizes = inv.groupBy("id").agg(F.count("*").alias("n_sh"))
    hot = (
        inv.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > max_df)
        .select("shingle")
    )
    inv_cut = inv.join(F.broadcast(hot), "shingle", "anti")
    l, r = inv_cut.alias("l"), inv_cut.alias("r")
    co = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    old = co.join(sa, "id_a").join(sb, "id_b")

    cols = ["id_a", "id_b", "inter", "n_a", "n_b"]
    new_rows = sorted(tuple(r) for r in new.select(*cols).collect())
    old_rows = sorted(tuple(r) for r in old.select(*cols).collect())
    assert new_rows, "fixture produced no co-occurring pairs — test is vacuous"
    assert new_rows == old_rows

    # the df >= 2 predicate must not drop a qualifying pair: every pair of
    # the uncapped run must also appear when max_df is None
    unc_new = _ngram_cooccurrence(docs, "doc_id", "text", 3, None)
    assert unc_new.count() >= len(new_rows)


def test_ngram_cooccurrence_plan_single_index_shuffle(spark, sf_dir):
    """Plan gate: the co-occurrence subtree must contain NO SortMergeJoin /
    ShuffledHashJoin on the shingle column (the old self-join), and the
    inverted index must reach exactly one hashpartitioning(shingle)
    exchange (the posting-list groupBy)."""
    from mapreduce_paper_implementation_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from mapreduce_paper_implementation_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = ngram_jaccard_pairs(docs, threshold=0.1, sort=False)._jdf.queryExecution().executedPlan().toString()
    assert "shingle" in plan
    # no join keyed on the shingle attribute remains anywhere in the tree;
    # the matcher reads the join-key lists, so a `shingles#N` column that
    # merely rides through a join on other keys does not trip it
    keyed = re.compile(r"Join (?:\[[^\]]*\], )?\[[^\]]*\bshingle#\d+")
    assert keyed.search("SortMergeJoin [shingle#12], [shingle#40], Inner")
    assert not keyed.search(
        "BroadcastHashJoin [id_a#3L], [id#5L], Inner, BuildRight, false, shingles#9"
    )
    for line in plan.splitlines():
        if keyed.search(line):
            raise AssertionError(f"shingle self-join resurfaced: {line.strip()}")
    n_shingle_exchanges = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "shingle" in line
    )
    assert n_shingle_exchanges == 1, plan
