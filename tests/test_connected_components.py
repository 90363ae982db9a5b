"""Equivalence and job-count gates for the graph fixpoint loops in
operators/graph.py and the component maintainer built on them.

connected_components runs each propagation round as one shuffle over
(id, lbl, nbrs) vertex state and reads convergence from an Observation on
the round's own checkpoint job. These tests pin it row for row against the
join-based formulation it replaced (kept below as the reference), pin the
maintainer's per-batch delta against a join of the committed labels with
the previous ones, and pin pagerank_fixpoint's iterates and round count
against its join-and-isEmpty stop test.
"""

from __future__ import annotations

import random
import uuid

from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.operators.graph import (
    connected_components,
    pagerank_fixpoint,
)
from mapreduce_paper_implementation_spark.streaming.cc_index import (
    ComponentsMaintainer,
)

SCHEMA = "id_a long, id_b long"


def reference_connected_components(pairs, src_col="id_a", dst_col="id_b", max_iter=20):
    """The join-based formulation: symmetrized, distinct, checkpointed edge
    list; per round a join, a union and a groupBy; stop when sum(lbl)
    stops moving."""
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src_col).alias("a"), F.col(dst_col).alias("b")),
                    F.struct(F.col(dst_col).alias("a"), F.col(src_col).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .localCheckpoint()
    )
    labels = edges.groupBy("a").agg(
        F.least(F.col("a"), F.min("b")).alias("lbl")
    ).select(F.col("a").alias("id"), "lbl")
    prev_sum = None
    for _ in range(max_iter):
        neighbor_lbl = (
            edges.join(labels, edges["b"] == labels["id"])
            .select(F.col("a").alias("id"), "lbl")
        )
        labels = (
            labels.unionByName(neighbor_lbl)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("lbl")).first()[0]
        if cur_sum == prev_sum:
            return labels.select("id", F.col("lbl").alias("component"))
        prev_sum = cur_sum
    raise RuntimeError("reference did not converge")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _random_graph(seed: int, n: int, m: int) -> list[tuple[int, int]]:
    """m random edges over n vertices, plus every kind of redundancy the
    pair operators can emit: duplicate edges in both orientations,
    self-loops, and isolated pairs far from the rest."""
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges += [(b, a) for a, b in rng.sample(edges, m // 4)]  # reversed dups
    edges += rng.sample(edges, m // 4)  # same-orientation dups
    edges += [(v, v) for v in rng.sample(range(n), 5)]  # self-loops
    edges += [(1000 + 2 * i, 1001 + 2 * i) for i in range(3)]  # isolated pairs
    edges += [(2000, 2000)]  # a vertex whose only edge is a self-loop
    rng.shuffle(edges)
    return edges


def test_cc_matches_join_formulation_on_random_graphs(spark):
    for seed in (1, 2, 3):
        pairs = spark.createDataFrame(_random_graph(seed, 80, 70), SCHEMA)
        got = _rows(connected_components(pairs, max_iter=60))
        want = _rows(reference_connected_components(pairs, max_iter=60))
        assert got == want, f"seed {seed}"
        assert len({c for _, c in got}) > 5, "graph must have several components"


def test_cc_matches_join_formulation_on_long_chain(spark):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(39)], SCHEMA)
    got = _rows(connected_components(pairs, max_iter=60))
    assert got == _rows(reference_connected_components(pairs, max_iter=60))
    assert got == [(i, 0) for i in range(40)]


def test_cc_on_empty_frame_returns_no_rows(spark):
    pairs = spark.createDataFrame([], SCHEMA)
    assert _rows(connected_components(pairs)) == []
    assert _rows(reference_connected_components(pairs)) == []


def test_cc_job_count_on_chain_graph(spark):
    """One CC call on test_connected_components_chain's graph (diameter 4
    plus an isolated pair): round 1 builds the vertex state, rounds 2-4
    move labels, round 5 moves none. Each round is one localCheckpoint
    over one shuffle, which adaptive execution runs as two jobs (the
    shuffle map stage, then the checkpoint); the stop test adds none."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], SCHEMA
    ).localCheckpoint()  # the input rows are not part of the count
    sc = spark.sparkContext
    group = f"cc-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "connected_components job-count gate")
    try:
        labels = connected_components(pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == 10, f"connected_components ran {n_jobs} Spark jobs, want 10"
    assert _rows(labels) == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)]


def _join_against_prior_delta(committed, prior):
    """The maintainer's former delta: committed labels left-joined to the
    previous ones, kept where the vertex is new or its label moved."""
    return (
        committed.join(prior.withColumnRenamed("component", "old_component"), "id", "left")
        .where(
            F.col("old_component").isNull()
            | (F.col("old_component") != F.col("component"))
        )
        .select("id", "component")
    )


def test_maintainer_changed_equals_join_against_prior(spark, tmp_path):
    planted = [
        [(1, 2), (3, 4)],          # two fresh components
        [(5, 6), (2, 3)],          # a fresh component; a merge of {1,2}+{3,4}
        [(4, 100)],                # a new vertex joins an old component
        [(1, 3)],                  # an edge inside one component: empty delta
        [(7, 8), (8, 9), (9, 5)],  # a new chain that merges into {5,6}
        [(6, 0), (100, 100)],      # a new minimum relabels a whole component
    ]
    rng = random.Random(5)
    random_batches = [
        [(rng.randrange(60), rng.randrange(60)) for _ in range(15)] for _ in range(3)
    ]
    for name, batches in (("planted", planted), ("random", random_batches)):
        m = ComponentsMaintainer(spark, str(tmp_path / name), max_iter=60)
        for bid, b in enumerate(batches):
            prior = m.labels()
            prior = prior.localCheckpoint() if prior is not None else None
            m.update(spark.createDataFrame(b, SCHEMA), bid)
            if prior is None:
                continue
            want = _rows(_join_against_prior_delta(m.labels(), prior))
            assert _rows(m.changed(bid)) == want, f"{name} batch {bid}"
            if name == "planted" and bid == 3:
                assert want == []


def reference_pagerank_fixpoint(edges, scale=10**12, damping_pct=85, r0=None, max_iter=200):
    """pagerank_fixpoint with its former stop test: checkpoint the new
    ranks, then join them to the old ranks and ask isEmpty() of the rows
    that moved."""
    e = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node")).union(e.select("dst")).distinct().localCheckpoint()
    )
    n_row = F.broadcast(nodes.agg(F.count("*").alias("n")))
    outdeg = e.groupBy("src").agg(F.count("*").alias("od")).localCheckpoint()
    d_num, d_den = damping_pct, 100
    base = F.expr(f"({(d_den - d_num)} * {scale}) div ({d_den} * n)")
    uniform = F.expr(f"{scale} div n")
    if r0 is None:
        ranks = nodes.crossJoin(n_row).select("node", uniform.alias("r"))
    else:
        ranks = (
            nodes.join(r0.select("node", F.col("r").alias("r0")), "node", "left")
            .crossJoin(n_row)
            .select("node", F.coalesce("r0", uniform).alias("r"))
        )
    ranks = ranks.localCheckpoint()
    for i in range(1, max_iter + 1):
        contribs = (
            ranks.join(e, ranks["node"] == e["src"])
            .join(outdeg, "src")
            .select("dst", F.expr(f"({d_num} * r) div ({d_den} * od)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        new_ranks = (
            nodes.crossJoin(n_row)
            .join(contribs, nodes["node"] == contribs["dst"], "left")
            .select("node", (base + F.coalesce("s", F.lit(0))).alias("r"))
            .localCheckpoint()
        )
        moved = (
            new_ranks.withColumnRenamed("r", "nr")
            .join(ranks, "node")
            .where(F.col("nr") != F.col("r"))
        )
        ranks = new_ranks
        if moved.isEmpty():
            return ranks, i
    return ranks, None


def test_pagerank_fixpoint_matches_isempty_stop_test(spark):
    """Same n_iters and bit-identical ranks as the former stop test: a DAG
    that reaches its fixpoint in a few rounds, a cycle stopped at the
    round cap (n_iters None), and a warm start from that capped vector."""
    schema = "src long, dst long"
    dag = spark.createDataFrame([(1, 2), (3, 2), (2, 4), (4, 5), (3, 5)], schema)
    cycle = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], schema)

    def ranks(df):
        return sorted((r["node"], r["rank_scaled"]) for r in df.collect())

    def ref_ranks(df):
        return sorted((r["node"], r["r"]) for r in df.collect())

    got, got_iters = pagerank_fixpoint(dag)
    want, want_iters = reference_pagerank_fixpoint(dag)
    assert got_iters == want_iters is not None
    assert ranks(got) == ref_ranks(want)

    got, got_iters = pagerank_fixpoint(cycle, max_iter=4)
    want, want_iters = reference_pagerank_fixpoint(cycle, max_iter=4)
    assert got_iters is None and want_iters is None
    assert ranks(got) == ref_ranks(want)

    warm = got.select("node", F.col("rank_scaled").alias("r"))
    got, got_iters = pagerank_fixpoint(cycle, r0=warm, max_iter=4)
    want, want_iters = reference_pagerank_fixpoint(cycle, r0=want, max_iter=4)
    assert got_iters == want_iters
    assert ranks(got) == ref_ranks(want)
