"""Graph fixpoints over DataFrames: connected components (the step that
turns near-dup PAIRS into dedup CLUSTERS), exact-integer PageRank, triangle
counts and BFS hop distances.

Connected components and PageRank are two rules over ONE vertex-state
round (`_vertex_rounds`), the Pregel/GraphX pattern expressed in
DataFrames:
- a vertex of degree d is ONE state row (id, value, nbrs) holding its d
  neighbor ids (`_adjacency` builds those rows in one aggregate over the
  edges, so no edge list is materialized on its own);
- each round is one shuffle: the vertices that send explode `nbrs` into
  (neighbor, msg) messages, the messages union with the state rows, and one
  groupBy(id) combines them into the new value and keeps the state row's
  `nbrs` — shuffle size O(|V| + messages), no join, no driver-side data;
- `localCheckpoint` truncates the lineage each round, without it the plan
  doubles every iteration and the job dies on plan-compile time long before
  data size matters;
- convergence is the number of values that moved in the round, observed
  (Spark `Observation`) on the SAME checkpoint job that materializes the
  round — no separate Spark job per round for the stop test.

Connected components sends from the vertices whose label dropped and keeps
the min (rounds = graph diameter; near-dup clusters are small and dense, so
typically 2-4). PageRank sends every vertex's share of its rank and sums
them exactly. `bfs_hops` keeps a frontier shape of its own (see there).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) for every vertex appearing in `pairs`; component =
    min vertex id reachable. Deterministic for any edge order. Pairs are
    undirected; `_adjacency` states the NULL rule."""
    # Round 1 = the vertex-state build: value = min(self, direct neighbors);
    # `prev` is the label before the round, so value < prev marks a move,
    # and only a vertex whose label moved has news for its neighbors.
    lowered = F.col("value") < F.col("prev")
    state, moved = _checkpoint_counting(
        _adjacency(pairs, src_col, dst_col, undirected=True).select(
            "id",
            F.least("id", F.array_min("nbrs")).alias("value"),
            "nbrs",
            F.col("id").alias("prev"),
        ),
        lowered,
    )
    if moved:
        state, rounds = _vertex_rounds(
            state,
            send=lowered,
            message=F.col("value"),
            combine=F.least(F.min("msg"), F.max("value")),
            moved=lowered,
            max_iter=max_iter,
        )
        if rounds is None:
            # Returning silently here would emit SPLIT clusters (wrong
            # labels) on chain-shaped graphs with diameter > max_iter.
            raise RuntimeError(
                f"connected_components did not converge within max_iter={max_iter} "
                "rounds (labels still changing) — the pair graph has diameter > "
                f"{max_iter}; raise max_iter"
            )
    return state.select("id", F.col("value").alias("component"))


def _adjacency(edges: DataFrame, src_col: str, dst_col: str, undirected: bool) -> DataFrame:
    """(id, nbrs) for every endpoint of `edges`: nbrs is the set of the
    vertex's out-neighbors, or of all its neighbors when `undirected` (an
    endpoint with none gets an empty set).

    A row with a NULL endpoint is not an edge: it adds no vertex and no
    neighbor, for connected components and PageRank alike.

    Both ends of every edge come from ONE pass over `edges` (explode, not a
    self-union — a union's two branches each re-evaluate the upstream pair
    pipeline, for near-dup graphs the full shingle/similarity join), grouped
    per endpoint; collect_set drops duplicate edges."""
    src, dst = F.col(src_col), F.col(dst_col)
    return (
        edges.where(src.isNotNull() & dst.isNotNull())
        .select(
            F.explode(
                F.array(
                    F.struct(src.alias("id"), dst.alias("nbr")),
                    F.struct(dst.alias("id"), (src if undirected else F.lit(None)).alias("nbr")),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.id").alias("id"))
        .agg(F.collect_set("e.nbr").alias("nbrs"))
    )


def _vertex_rounds(
    state: DataFrame,
    send: Column,
    message: Column,
    combine: Column,
    moved: Column,
    max_iter: int,
) -> tuple[DataFrame, int | None]:
    """Run vertex-state rounds over the checkpointed `state` (id, value,
    nbrs[, prev]) until one moves nothing. In each round the rows where
    `send` holds emit `message` to every id in their `nbrs`; one groupBy(id)
    over those (id, msg) rows and the (id, value, nbrs) state rows yields
    (id, value = `combine`, nbrs, prev = the old value). `combine` is an
    aggregate over `msg` and the state row's `value`; `moved` counts the
    rows that changed, on the round's own checkpoint. `message` is
    evaluated once per (row, neighbor), so a row with no neighbors never
    evaluates it (PageRank divides by the neighbor count). Returns (state, i)
    after the first round i that moved no row, or (state, None) after
    `max_iter` rounds that all moved some."""
    for i in range(1, max_iter + 1):
        messages = state.where(send).select(F.explode("nbrs").alias("id"), message.alias("msg"))
        state, n_moved = _checkpoint_counting(
            state.select("id", "value", "nbrs")
            .unionByName(messages, allowMissingColumns=True)
            .groupBy("id")
            .agg(
                combine.alias("value"),
                F.any_value("nbrs", ignoreNulls=True).alias("nbrs"),
                F.max("value").alias("prev"),
            ),
            moved,
        )
        if n_moved == 0:
            return state, i
    return state, None


def _checkpoint_counting(frame: DataFrame, cond) -> tuple[DataFrame, int]:
    """localCheckpoint `frame` and return it with the number of its rows
    where `cond` holds, counted by an Observation on the checkpoint job
    itself (no second job over the frame)."""
    obs = Observation()
    frame = frame.observe(obs, F.count(F.when(cond, 1)).alias("n")).localCheckpoint()
    return frame, obs.get["n"]


def dedup_clusters(pairs: DataFrame, src_col: str = "id_a", dst_col: str = "id_b") -> DataFrame:
    """Cluster summary: (component representative, member count, members
    sorted) — the 'keep one per cluster' artifact of a dedup pipeline."""
    cc = connected_components(pairs, src_col, dst_col)
    return (
        cc.groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            F.concat_ws(",", F.sort_array(F.collect_list(F.col("id").cast("string")))).alias(
                "members"
            ),
        )
        .orderBy("component")
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    scale: int = 10**12,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank with EXACT scaled-integer arithmetic: (node, rank_scaled,
    rank) after `iters` synchronous iterations at damping d =
    damping_pct/100, rank mass scaled by `scale`.

    The MapReduce paper's canonical iterative workload (mapreduce-paper.pdf
    names web-graph ranking as the motivating large computation; §2.3's
    reverse web-link graph — our q66 — builds exactly the structure PageRank
    consumes). The reference runtime cannot express iteration at all (one
    map + one reduce per job); chaining jobs by hand is the workaround its
    model implies.

    Why scaled integers: float PageRank sums contributions per target in a
    nondeterministic order, so double results differ between engines (and
    between runs at different parallelism) by accumulation order. With
    rank as BIGINT(scale * value) and per-edge contributions computed by
    integer division `(d_num * rank) div (d_den * outdeg)`, every operation
    is exact and associative — any summation order gives the SAME integer,
    so a DuckDB replay hash-matches bit-for-bit. Dropped remainders are
    < 1/scale per edge (1e-12 of total mass) — quantization, not float
    noise: deterministic everywhere.

    Semantics (simple variant, mirrored exactly by the oracle): nodes =
    endpoints of `edges`; rank_0 = floor(scale/N); rank_{i+1}(v) =
    floor((1-d)*scale/N) + sum over distinct in-edges (u,v) of
    floor(d*rank_i(u) / outdeg(u)); dangling mass is dropped (not
    redistributed).

    This is `pagerank_fixpoint` capped at `iters` rounds: the map is
    deterministic, so once an iterate repeats every later one equals it,
    and stopping there returns the same integers as running all `iters`.
    """
    return pagerank_fixpoint(edges, src_col, dst_col, scale, damping_pct, max_iter=iters)[0]


def count_triangles(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, n_tri) — per-node triangle participation counts over the
    UNDIRECTED simple graph underlying `edges` (direction and multiplicity
    dropped, self-loops ignored); only nodes in >= 1 triangle appear.

    The MapReduce-era wedge-check algorithm (Suri & Vassilvitskii 2011,
    "Counting Triangles and the Curse of the Last Reducer") with the
    degree-based orientation that tames that curse: orient every undirected
    edge from the endpoint that is SMALLER under the total order
    (degree, id) to the larger. The oriented out-degree of every vertex —
    hub or not — is O(sqrt(|E|)), so wedge enumeration per vertex is
    bounded even on Zipf-skewed graphs, where the naive lowest-id
    orientation hands one reducer the whole hub neighborhood. Each triangle
    is counted exactly once: the orientation is acyclic, and the wedge is
    anchored at the triangle's unique source-of-both vertex.

    Scale shape: degree join + orientation are O(|E|); the wedge self-join
    shuffles oriented edges on the anchor u once; the closing join shuffles
    wedge pairs against oriented edges on (v, w) — O(#wedges), the
    algorithm's intrinsic cost, bounded by the orientation. No driver-side
    data, no cartesian, no per-row Python.
    """
    s, d = F.col(src_col), F.col(dst_col)
    und = (
        edges.where(s != d)
        .select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .distinct()
        .localCheckpoint()  # degree + both orientation references reuse it
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select("b"))
        .groupBy("node")
        .agg(F.count("*").alias("dg"))
    )
    with_deg = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("dg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("dg", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint()  # wedge join + closing join both reuse it
    l, r = oriented.alias("l"), oriented.alias("r")
    wedges = l.join(r, "u").where(
        (F.col("l.dv") < F.col("r.dv"))
        | ((F.col("l.dv") == F.col("r.dv")) & (F.col("l.v") < F.col("r.v")))
    ).select("u", F.col("l.v").alias("v"), F.col("r.v").alias("w"))
    tris = wedges.join(
        oriented.select(F.col("u").alias("v"), F.col("v").alias("w")),
        ["v", "w"],
    )
    return (
        tris.select(
            F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """(node, hop) — minimum number of directed edges from any seed, for
    every reachable node. Seeds themselves are hop 0.

    Frontier exhaustion (an empty next wave) is the PRIMARY termination;
    `max_hops` is an optional radius cap for neighborhood queries
    (max_hops=None traverses to the full reachable set, e.g. a
    high-diameter chain runs exactly diameter+1 rounds).

    Frontier-based BFS expressed as DataFrame joins (the Pregel traversal
    pattern, like connected_components above but level-synchronous):

        frontier_0 = seeds
        frontier_{k+1} = neighbors(frontier_k) - visited

    Scale notes:
    - each round shuffles O(|frontier| x avg-degree) then distincts — the
      frontier, not the full vertex set, so late rounds on a high-diameter
      graph cost only what the wave touches;
    - the anti-join against `visited` keeps the frontier minimal (a node is
      expanded exactly once — without it a dense graph re-expands the same
      nodes every round and work grows geometrically);
    - `localCheckpoint` per FRONTIER truncates lineage (plan-compile time,
      not data, is what kills unbounded iteration). `visited` is a flat
      union of those checkpointed, mutually DISJOINT frontiers — never
      re-checkpointed per round, so executor storage holds each visited
      node's block exactly once (a per-round visited checkpoint would
      accumulate O(rounds x |visited|) superseded copies for the life of
      the session);
    - early exit on an empty frontier reads the frontier's row count,
      observed on the same checkpoint job that materializes it;
    - BFS deliberately does not run on `_vertex_rounds`: a round here
      broadcasts the frontier, scans the edge list without shuffling it and
      exchanges only the new wave (checked on q102's plan at sf0.1), where
      a vertex-state round would shuffle every vertex every round.

    Reference analog: iterative jobs are out of scope for the one-shot
    MapReduce runtime (/root/reference/mr-main/mr/coordinator.go runs a
    single map/reduce barrier); this is the multi-job chaining pattern the
    paper's §3.5 "iterates until convergence" discussion sketches.
    """
    import itertools

    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .where(F.col("d").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("hop"))
        .localCheckpoint()
    )
    frontier = visited.select("node")
    hops = itertools.count(1) if max_hops is None else range(1, max_hops + 1)
    for k in hops:
        nxt, n_new = _checkpoint_counting(
            frontier.join(e, frontier["node"] == e["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti"),
            F.lit(True),
        )
        if n_new == 0:
            break
        visited = visited.union(
            nxt.select("node", F.lit(k).cast("long").alias("hop"))
        )
        frontier = nxt
    return visited


def pagerank_fixpoint(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 10**12,
    damping_pct: int = 85,
    r0: DataFrame | None = None,
    max_iter: int = 200,
) -> tuple[DataFrame, int | None]:
    """PageRank iterated to the exact integer FIXPOINT: returns
    ((node, rank_scaled, rank), n_iters) where n_iters is the first
    iteration whose output is BIT-EQUAL to its input (None if max_iter
    rounds never reach one). Same exact scaled-integer arithmetic as
    `pagerank`, which is this function capped at its `iters`.

    "Converged" is bit-testable precisely because the arithmetic is
    integer: consecutive iterates either differ in some BIGINT or are the
    SAME vector — no epsilon. The damping contraction shrinks differences
    geometrically until they sit inside the floor-quantization lattice,
    where the map goes stationary (measured: 26 rounds cold on the sf0.01
    events graph).

    `r0` (node, r) warm-starts the iteration — the incremental-serving
    path (streaming/pagerank_index.py): after a small edge delta the old
    rank vector is already inside the contraction's terminal region, so
    the fixpoint arrives in measurably fewer rounds than from uniform.
    QUANTIZATION CAVEAT (measured, documented): the integer fixpoint is
    unique only up to the floor-quantization cell — warm and cold starts
    can land on fixpoints differing by ~tens of units at scale 1e12
    (≈1e-11 of total mass on the events graph). Exact q74 parity
    therefore comes from the fixed-iteration `pagerank` over maintained
    graph state, while THIS path serves converged ranks with a bounded
    quantization envelope (tests/test_pagerank_index.py pins both).
    Nodes absent from r0 (delta-new vertices) start at the uniform
    floor(scale/N).

    Shape: the state rows are (node, rank, out-neighbors); N is counted by
    an Observation on the checkpoint that builds them, so it enters every
    round as a literal. Each round is one `_vertex_rounds` shuffle: every
    node sends (d_num * rank) div (d_den * outdeg) to each out-neighbor,
    and the new rank is floor((1-d)*scale/N) plus the exact sum of what
    arrived.
    """
    d_num, d_den = damping_pct, 100
    state, n = _checkpoint_counting(_adjacency(edges, src_col, dst_col, False), F.lit(True))
    n = max(n, 1)  # an empty graph has no row to rank; never divide by 0
    start = F.lit(scale // n).cast("long")
    if r0 is not None:
        state = state.join(r0.select(F.col("node").alias("id"), "r"), "id", "left")
        start = F.coalesce("r", start)
    ranks, n_iters = _vertex_rounds(
        state.select("id", start.alias("value"), "nbrs"),
        send=F.lit(True),
        message=F.expr(f"({d_num} * value) div ({d_den} * CAST(size(nbrs) AS BIGINT))"),
        combine=F.lit((d_den - d_num) * scale // (d_den * n)) + F.coalesce(F.sum("msg"), F.lit(0)),
        moved=F.col("value") != F.col("prev"),
        max_iter=max_iter,
    )
    return ranks.select(
        F.col("id").alias("node"),
        F.col("value").alias("rank_scaled"),
        (F.col("value").cast("double") / F.lit(float(scale))).alias("rank"),
    ), n_iters
