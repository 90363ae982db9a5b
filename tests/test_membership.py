"""Bloom-filter membership operator (operators/membership.py, q73).

Gates the three claims the operator makes:
  1. Exactness — `seen` equals a plain membership join (no false negatives
     by Bloom construction; false positives removed by the verify join).
  2. Pruning — on a mostly-novel delta, only bloom-positive keys reach the
     exact verify join (the 100 TB reason the operator exists).
  3. Bounded filter — the word map never exceeds num_bits/64 rows and the
     probe joins it broadcast.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mapreduce_paper_implementation_spark.operators.membership import (
    bloom_maybe_seen,
    build_bloom,
    seen_membership,
)


@pytest.fixture(scope="module")
def frames(spark):
    history = spark.range(0, 500).select(
        (F.col("id") * 2).alias("k"), F.lit("h").alias("tag")
    )
    # delta: 50 keys that exist in history (even, < 100), 450 novel keys
    # (odd — never in history), one row each plus some repeated rows.
    delta = spark.range(0, 500).select(
        F.when(F.col("id") < 50, F.col("id") * 2)
        .otherwise(F.col("id") * 2 + 1)
        .alias("k"),
        F.col("id").alias("row_id"),
    )
    return history, delta


def test_exactness_vs_plain_join(spark, frames):
    history, delta = frames
    got = (
        seen_membership(delta, history, ["k"], num_bits=1 << 12)
        .select("row_id", "seen")
        .collect()
    )
    want = {r["row_id"]: r["seen"] for r in
            delta.join(history.select("k").distinct().withColumn("s", F.lit(True)), "k", "left")
            .select("row_id", F.coalesce("s", F.lit(False)).alias("seen"))
            .collect()}
    assert len(got) == delta.count()
    for r in got:
        assert r["seen"] == want[r["row_id"]], r


def test_no_false_negatives_every_history_key_is_bloom_positive(spark, frames):
    history, _ = frames
    bloom = build_bloom(history, ["k"], num_bits=1 << 12)
    probed = bloom_maybe_seen(history.select("k").distinct(), bloom, ["k"], num_bits=1 << 12)
    assert probed.where(~F.col("bloom_maybe")).count() == 0


def test_pruning_novel_keys_skip_verify(spark, frames):
    """The verify join's left side is only bloom-positive keys: with 450/500
    novel delta keys and a reasonably-sized filter, far fewer than all keys
    may pass the bloom. (FP rate at n=500, m=2^14, k=5 is ~1e-4.)"""
    history, delta = frames
    bloom = build_bloom(history, ["k"], num_bits=1 << 14)
    maybe = bloom_maybe_seen(delta.select("k").distinct(), bloom, ["k"], num_bits=1 << 14)
    n_positive = maybe.where(F.col("bloom_maybe")).count()
    # 50 true dups + FP sliver; assert it pruned at least 80% of the novel keys
    assert 50 <= n_positive <= 50 + 90, n_positive


def test_word_map_bounded_and_broadcast(spark, frames):
    history, delta = frames
    bloom = build_bloom(history, ["k"], num_bits=1 << 12)
    assert bloom.count() <= (1 << 12) // 64
    plan = bloom_maybe_seen(
        delta.select("k").distinct(), bloom, ["k"], num_bits=1 << 12
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def _batches(spark):
    """Three overlapping batches: key k appears first in batch k // 100."""
    mk = lambda lo, hi, keys: spark.createDataFrame(  # noqa: E731
        [(i, k) for i, k in enumerate(keys, start=lo)], ["row_id", "k"]
    )
    b0 = mk(0, 100, [0, 1, 2, 3, 4])
    b1 = mk(100, 200, [3, 4, 5, 6])       # 3,4 seen; 5,6 new
    b2 = mk(200, 300, [0, 6, 7, 0])       # 0,6 seen (0 twice in-batch); 7 new
    return [b0, b1, b2]


EXPECTED_SEEN = {
    0: False, 1: False, 2: False, 3: False, 4: False,   # batch 0: all new
    100: True, 101: True, 102: False, 103: False,        # batch 1
    200: True, 201: True, 202: False, 203: True,         # batch 2
}


def test_maintainer_matches_batchwise_truth(spark, tmp_path):
    from mapreduce_paper_implementation_spark.streaming.bloom import SeenKeysMaintainer

    m = SeenKeysMaintainer(spark, str(tmp_path / "s"), ["k"], num_bits=1 << 10)
    got = {}
    for i, b in enumerate(_batches(spark)):
        for r in m.update(b, i).collect():
            got[r["row_id"]] = r["seen"]
    assert got == EXPECTED_SEEN
    # replay of a committed batch is a no-op returning the persisted answer
    replay = m.update(_batches(spark)[1], 1)
    assert {r["row_id"]: r["seen"] for r in replay.collect()} == {
        100: True, 101: True, 102: False, 103: False
    }
    assert m.filter().count() <= (1 << 10) // 64


def test_maintainer_compact_preserves_answers(spark, tmp_path):
    from mapreduce_paper_implementation_spark.streaming.bloom import SeenKeysMaintainer

    m = SeenKeysMaintainer(spark, str(tmp_path / "s"), ["k"], num_bits=1 << 10)
    batches = _batches(spark)
    for i, b in enumerate(batches[:2]):
        m.update(b, i)
    pre_filter = {(r["word"], r["bits"]) for r in m.filter().collect()}
    pre_keys = {r["k"] for r in m.keys().collect()}
    assert m.compact() == 1
    assert m.compact() == 1  # idempotent
    assert len(m.store.committed_dirs("filter")) == 1
    assert {(r["word"], r["bits"]) for r in m.filter().collect()} == pre_filter
    assert {r["k"] for r in m.keys().collect()} == pre_keys
    # post-compact batches still answer correctly
    got = {r["row_id"]: r["seen"] for r in m.update(batches[2], 2).collect()}
    assert got == {200: True, 201: True, 202: False, 203: True}


def test_multi_column_keys(spark):
    history = spark.createDataFrame(
        [(1, "a"), (2, "b")], ["u", "t"]
    )
    delta = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "b"), (3, "a")], ["u", "t"]
    )
    rows = {
        (r["u"], r["t"]): r["seen"]
        for r in seen_membership(delta, history, ["u", "t"], num_bits=1 << 10).collect()
    }
    assert rows == {(1, "a"): True, (1, "b"): False, (2, "b"): True, (3, "a"): False}


# --- pagerank (operators/graph.py) — differential vs a pure-Python replay of
# the same scaled-integer recurrence, which is exact by construction --------


def _py_pagerank(edges, iters=3, scale=10**6, d_num=85, d_den=100):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outdeg = {}
    for u, _ in set(edges):
        outdeg[u] = outdeg.get(u, 0) + 1
    r = {v: scale // n for v in nodes}
    base = (d_den - d_num) * scale // (d_den * n)
    for _ in range(iters):
        acc = {v: 0 for v in nodes}
        for u, v in set(edges):
            acc[v] += (d_num * r[u]) // (d_den * outdeg[u])
        r = {v: base + acc[v] for v in nodes}
    return r


def test_pagerank_matches_python_reference(spark):
    from mapreduce_paper_implementation_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 1), (3, 2), (3, 1), (4, 3), (2, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df, iters=3, scale=10**6).collect()
    }
    assert got == _py_pagerank(edges)


def test_pagerank_partition_invariant(spark):
    """The scaled-integer formulation is associative: any partitioning or
    summation order yields the identical integers (the property the
    float formulation lacks)."""
    from mapreduce_paper_implementation_spark.operators.graph import pagerank

    edges = [(i, (i * 7) % 23) for i in range(200)] + [(i, (i * 3) % 23) for i in range(200)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = {r["node"]: r["rank_scaled"] for r in pagerank(df, iters=4).collect()}
    b = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df.repartition(13, "dst"), iters=4).collect()
    }
    assert a == b


def test_null_keys_are_not_seen(spark):
    """NULL keys never equi-join — the membership answer is False, not NULL
    (matches what a plain LEFT JOIN oracle reports)."""
    history = spark.createDataFrame([(1,), (2,)], ["k"])
    delta = spark.createDataFrame([(1, 10), (None, 11)], ["k", "row_id"])
    rows = {r["row_id"]: r["seen"] for r in
            seen_membership(delta, history, ["k"], num_bits=1 << 10).collect()}
    assert rows == {10: True, 11: False}


def test_maintainer_no_duplicate_rows_for_multiply_stored_keys(spark, tmp_path):
    """A key ingested in several batches sits in several uncompacted key-
    store deltas; probing it must still yield exactly one row per batch row
    (regression: a plain left join against the raw store duplicated them)."""
    from mapreduce_paper_implementation_spark.streaming.bloom import SeenKeysMaintainer

    m = SeenKeysMaintainer(spark, str(tmp_path / "s"), ["k"], num_bits=1 << 10)
    mk = lambda lo, keys: spark.createDataFrame(  # noqa: E731
        [(i, k) for i, k in enumerate(keys, start=lo)], ["row_id", "k"]
    )
    m.update(mk(0, [7, 8]), 0)      # delta b0 stores key 7
    m.update(mk(10, [7, 9]), 1)     # delta b1 stores key 7 AGAIN (seen=True)
    out = m.update(mk(20, [7, 10]), 2).collect()   # probe key 7: in 2 deltas
    assert len(out) == 2, out
    assert {r["row_id"]: r["seen"] for r in out} == {20: True, 21: False}
