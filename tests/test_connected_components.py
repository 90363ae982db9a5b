"""Equivalence, job-count and structure gates for the graph fixpoints in
operators/graph.py and the component maintainer built on them.

connected_components and PageRank run on one vertex-state round
(graph.py:_vertex_rounds): one shuffle over (id, value, nbrs) state per
round, with convergence read from an Observation on the round's own
checkpoint job. These tests pin connected_components row for row against
the join-based formulation it replaced, pin `pagerank` and
`pagerank_fixpoint` (rows and round counts) against the join-based PageRank
they replaced, pin the maintainer's per-batch delta against a join of the
committed labels with the previous ones, count the Spark jobs of each
fixpoint, and check that no public fixpoint grows a round loop of its own.
The reference formulations are kept below.
"""

from __future__ import annotations

import ast
import inspect
import random
import uuid

import pytest
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.operators import graph
from mapreduce_paper_implementation_spark.operators.graph import (
    connected_components,
    pagerank,
    pagerank_fixpoint,
)
from mapreduce_paper_implementation_spark.sources.tables import load_table
from mapreduce_paper_implementation_spark.streaming.cc_index import (
    ComponentsMaintainer,
)

SCHEMA = "id_a long, id_b long"
EDGE_SCHEMA = "src long, dst long"
DAG = [(1, 2), (3, 2), (2, 4), (4, 5), (3, 5)]
CYCLE = [(1, 2), (2, 3), (3, 1), (3, 4)]


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


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted over a job group."""
    sc = spark.sparkContext
    group = f"graph-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "graph job-count gate")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cc_job_count_on_chain_graph(spark):
    """One CC call on test_connected_components_chain's graph (diameter 4
    plus an isolated pair): round 1 builds the vertex state, rounds 2-4
    move labels, round 5 moves none. Each round is one localCheckpoint
    over one shuffle, which adaptive execution runs as two jobs (the
    shuffle map stage, then the checkpoint); the stop test adds none."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], SCHEMA
    ).localCheckpoint()  # the input rows are not part of the count
    labels, n_jobs = _count_jobs(spark, lambda: connected_components(pairs))
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
    dag = spark.createDataFrame(DAG, EDGE_SCHEMA)
    cycle = spark.createDataFrame(CYCLE, EDGE_SCHEMA)

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


def reference_pagerank(edges, src_col="src", dst_col="dst", iters=3, scale=10**12, damping_pct=85):
    """The join-based `pagerank`: distinct edges, node list, single-row N
    broadcast and out-degree frame; per iteration ranks join edges and
    out-degrees, sum per dst, and left-join back to the node list. (Its
    checkpoint every 8 iterations is left out: the pins stop at 4.)"""
    src, dst = F.col(src_col), F.col(dst_col)
    e = edges.select(src.alias("src"), dst.alias("dst")).distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint()
    )
    n_row = F.broadcast(nodes.agg(F.count("*").alias("n")))
    outdeg = e.groupBy("src").agg(F.count("*").alias("od"))
    d_num, d_den = damping_pct, 100
    base = F.expr(f"({(d_den - d_num)} * {scale}) div ({d_den} * n)")
    ranks = nodes.crossJoin(n_row).select(
        "node", "n", F.expr(f"{scale} div n").alias("r")
    )
    for _ in range(iters):
        contribs = (
            ranks.join(e, ranks["node"] == e["src"])
            .join(outdeg, "src")
            .select("dst", F.expr(f"({d_num} * r) div ({d_den} * od)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.crossJoin(n_row)
            .join(contribs, nodes["node"] == contribs["dst"], "left")
            .select("node", "n", (base + F.coalesce("s", F.lit(0))).alias("r"))
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_scaled"),
        (F.col("r").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def _digraph(spark, sf_dir, name):
    """The pinned edge sets: a DAG that reaches its fixpoint in a few
    rounds, a cycle with a tail, random digraphs with duplicate edges,
    reversed edges and self-loops, q74's edge set and an empty frame."""
    if name == "q74":
        ev = load_table(spark, sf_dir, "events")
        return ev.select(
            F.col("user_id").alias("src"),
            F.get_json_object("props", "$.k").cast("bigint").alias("dst"),
        ).where(F.col("dst").isNotNull()).localCheckpoint()
    rows = {
        "dag": DAG,
        "cycle": CYCLE,
        "random1": _random_graph(1, 40, 50),
        "random2": _random_graph(2, 40, 50),
        "empty": [],
    }[name]
    return spark.createDataFrame(rows, EDGE_SCHEMA).localCheckpoint()


def _ranks(df):
    return sorted((r["node"], r["rank_scaled"], r["rank"]) for r in df.collect())


def _ref_ranks(df, scale=10**12):
    return sorted((r["node"], r["r"], r["r"] / scale) for r in df.collect())


@pytest.mark.parametrize("name", ["dag", "cycle", "random1", "random2", "q74", "empty"])
def test_pagerank_matches_join_formulation(spark, sf_dir, name):
    """pagerank at iters 1-4 is bit-identical to the join-based kernel;
    pagerank_fixpoint equals the join-and-isEmpty reference in rows and
    n_iters cold (to the fixpoint, or capped with n_iters None) and warm
    from the capped vector."""
    edges = _digraph(spark, sf_dir, name)
    for iters in (1, 2, 3, 4):
        assert _ranks(pagerank(edges, iters=iters)) == _ranks(
            reference_pagerank(edges, iters=iters)
        ), f"{name} iters={iters}"
    # the DAG and the empty frame converge fast; the others are capped
    cap = 200 if name in ("dag", "empty") else 4
    got, got_iters = pagerank_fixpoint(edges, max_iter=cap)
    want, want_iters = reference_pagerank_fixpoint(edges, max_iter=cap)
    assert got_iters == want_iters
    assert (got_iters is None) == (cap == 4)
    assert _ranks(got) == _ref_ranks(want)
    warm = got.select("node", F.col("rank_scaled").alias("r"))
    got, got_iters = pagerank_fixpoint(edges, r0=warm, max_iter=3)
    want, want_iters = reference_pagerank_fixpoint(edges, r0=want, max_iter=3)
    assert got_iters == want_iters
    assert _ranks(got) == _ref_ranks(want)
    if name == "empty":
        assert got.collect() == [] and got_iters == 1


def test_pagerank_fixpoint_job_count_on_cycle(spark):
    """At the default max_iter the cycle reaches its fixpoint in round 70.
    The state build and every round are one shuffle plus one checkpoint
    (two jobs under adaptive execution); N and the stop test add none. The
    join-based kernel ran 709 jobs here."""
    edges = spark.createDataFrame(CYCLE, EDGE_SCHEMA).localCheckpoint()
    (ranks, n_iters), n_jobs = _count_jobs(spark, lambda: pagerank_fixpoint(edges))
    assert n_iters == 70
    assert n_jobs <= 2 * n_iters + 3, f"pagerank_fixpoint ran {n_jobs} Spark jobs"
    assert len(ranks.collect()) == 4


def test_pagerank_job_count_on_dag(spark):
    """pagerank(iters=3) and collecting its rows: the state build plus
    three rounds at two jobs each, plus the collect (the join-based kernel
    ran 19)."""
    edges = spark.createDataFrame(DAG, EDGE_SCHEMA).localCheckpoint()
    rows, n_jobs = _count_jobs(spark, lambda: pagerank(edges, iters=3).collect())
    assert n_jobs <= 9, f"pagerank ran {n_jobs} Spark jobs, want <= 9"
    want = reference_pagerank(edges, iters=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want))


def test_null_endpoint_is_not_an_edge(spark):
    """A row with a NULL endpoint adds no vertex and no neighbor to either
    connected components or PageRank."""
    nulls = [(4, None), (None, 1), (None, None), (7, None)]
    pairs = spark.createDataFrame(CYCLE + nulls, SCHEMA)
    assert _rows(connected_components(pairs)) == [(1, 1), (2, 1), (3, 1), (4, 1)]
    clean = spark.createDataFrame(CYCLE, EDGE_SCHEMA)
    dirty = spark.createDataFrame(CYCLE + nulls, EDGE_SCHEMA)
    want = _ranks(reference_pagerank(clean, iters=3))
    assert [r[0] for r in want] == [1, 2, 3, 4]
    assert _ranks(pagerank(dirty, iters=3)) == want
    got, got_iters = pagerank_fixpoint(dirty, max_iter=5)
    want, want_iters = reference_pagerank_fixpoint(clean, max_iter=5)
    assert got_iters == want_iters
    assert _ranks(got) == _ref_ranks(want)


def test_public_fixpoints_have_no_round_loop_of_their_own():
    """connected_components, pagerank and pagerank_fixpoint are rules over
    the shared vertex-state round: none of them loops itself, so a second
    round body cannot come back. The round loop lives in _vertex_rounds."""
    tree = ast.parse(inspect.getsource(graph))
    defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    loops = (ast.For, ast.AsyncFor, ast.While, ast.comprehension)
    for name in ("connected_components", "pagerank", "pagerank_fixpoint"):
        body = defs[name]
        assert not any(isinstance(n, loops) for n in ast.walk(body)), name
        calls = {
            n.func.id
            for n in ast.walk(body)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
        }
        assert calls & {"_vertex_rounds", "pagerank_fixpoint"}, name
    assert any(isinstance(n, ast.For) for n in ast.walk(defs["_vertex_rounds"]))
