"""Distributed k-means (Lloyd's algorithm) in DataFrames — the offline
build step for the IVF similarity index (operators/similarity.py:ivf_topk
uses deterministic first-k centroids as a stand-in; this trains real ones).

Per iteration:
  assign:  centroids ride along as ONE broadcast array-of-structs row; the
           nearest cell by squared L2 is a NARROW per-vector map
           (array_sort over k structs — k is small), never a k-way
           explode + window shuffle of the vectors
  update:  element-wise mean per cluster via posexplode ->
           groupBy(cell, pos).avg -> re-assemble ordered arrays
           (whole-stage codegen; no Python, no HOF accumulation)
  converge: total squared centroid shift (computed driver-side over the
           k collected means) < tol

Scale notes (round-14 optimization, guide §2.4/§5): the data crosses ONE
shuffle per iteration — the (cell, pos) partial/final average (the
combiner pattern). Centroids are a k-row driver-held list between
iterations (the Spark-MLlib design: k x dim doubles, broadcast into the
assignment expression each round), so one Lloyd round is ONE Spark job —
the previous formulation paid a k-way candidate explode + a window
shuffle of every vector per assignment, plus a localCheckpoint job and a
separate shift-collect job per round (3 jobs and 2 vector shuffles per
round -> 1 job, 0 vector shuffles). localCheckpoint on the input keeps
iterations re-reading a materialized frame like before. Classic MapReduce
workload shape (map = assign, reduce = re-center), expressed
declaratively.

Exactness: assignment is nearest_centroids' squared-L2 rule (defined
below, shared by every vector operator); means are one posexplode/avg
aggregation (_mean_rows, shared with pq_train); doubles cross the py4j
boundary losslessly (IEEE-754 both sides), so the returned centroids are
pinned bit-for-bit by the q29/q118 oracles and tests/test_properties.py's
pure-Python Lloyd replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

from mapreduce_paper_implementation_spark.functions.vectors import cosine, to_double_vec

CENTROID_SCHEMA = StructType(
    [
        StructField("cell", IntegerType(), False),
        StructField("c_vec", ArrayType(DoubleType()), True),
    ]
)


def _sq_dist(a, b):
    # squared L2 as a fold — same HOF-for-wide-vectors rationale as
    # functions/vectors.py:dot (SURVEY.md §8.1/§8.14)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def nearest_centroids(vec, cents, key: str = "cell", nrm=None):
    """The nearest-centroid rule every vector operator ranks by, defined
    once: `cents` is an array<struct<key, c_vec[, c_nrm]>> column (the
    centroids collected into ONE broadcast row: k literal structs inline
    would bloat the expression tree and re-pay codegen per call — measured
    slower), and the result is that array mapped to struct<score, key> and
    sorted ascending, per vector:

    - squared L2 (nrm=None): score = ROUND(d2, 6);
    - cosine (nrm = the vector's norm; structs carry c_nrm):
      score = -ROUND(cos, 6), so ascending is cos DESC.

    Scores are rounded BEFORE ranking: the oracles replay these ranks in
    DuckDB, and raw-double order can flip on cross-engine ulp differences
    (different summation orders); equal rounded scores break to the lower
    key, because struct order is lexicographic. Negation is exact, so the
    cosine order equals (cos DESC, key ASC) for every non-NaN score.
    `[0][key]` is the nearest centroid, `[0]["score"]` its score, and a
    slice(1, n) the n nearest. A narrow expression: no explode, no window,
    no shuffle of the vectors."""

    def score(c):
        if nrm is None:
            return F.round(_sq_dist(vec, c["c_vec"]), 6)
        return -F.round(cosine(vec, c["c_vec"], nrm, c["c_nrm"]), 6)

    return F.array_sort(
        F.transform(cents, lambda c: F.struct(score(c).alias("score"), c[key].alias(key)))
    )


def _mean_rows(assigned: DataFrame, keys: tuple[str, ...] = ("cell",)) -> list:
    """One Spark job: element-wise mean of `vec` per `keys` group —
    posexplode -> (keys, pos) partial/final average -> ordered re-assembly,
    collected as the bounded centroid rows (never data)."""
    return (
        assigned.select(*keys, F.posexplode("vec").alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("n_vec")
        )
        .collect()
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 16,
    max_iter: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train k centroids; returns (cell int, c_vec array<double>).

    Deterministic: init = vectors of the k lowest ids, ties in assignment
    break toward the lower cell id. Stops when the summed squared centroid
    shift drops below `tol` or after max_iter rounds. (Every engine call
    site uses max_iter=2, tol=0.0 — the exact unrollable build the
    oracles replay — so the shift check is a generic guard, not a tested
    early-exit path.)
    """
    from mapreduce_paper_implementation_spark.operators.parallel import (
        spread_partitions,
    )

    spark = emb.sparkSession
    v = emb.select(F.col(id_col).alias("id"), to_double_vec(vec_col).alias("vec"))
    # spread: the per-iteration argmin+re-center job inherits THIS frame's
    # partitioning; a one-row-group scan would pin it to one core
    v = spread_partitions(v).localCheckpoint()  # read source once; iterations rescan this

    init = v.orderBy("id").limit(k).select("id", "vec").collect()
    if len(init) < k:
        raise ValueError(
            f"kmeans_fit: k={k} but only {len(init)} vectors available to seed"
        )
    init.sort(key=lambda r: r["id"])
    # driver-held centroid list: [(cell 1..k, [dim doubles])] — bounded at
    # k rows, the same k-row table the old code kept as a checkpointed frame
    cents: list[tuple[int, list[float]]] = [
        (i + 1, list(r["vec"])) for i, r in enumerate(init)
    ]

    for _ in range(max_iter):
        assigned = _assign(v, spark.createDataFrame(cents, CENTROID_SCHEMA))
        means = {r["cell"]: list(r["n_vec"]) for r in _mean_rows(assigned)}
        # A cell that lost every member produces no mean row; carry the old
        # vector forward — the cell keeps existing and can re-acquire
        # members in a later round; its shift contribution is exactly 0.
        new_cents = [(c, means.get(c, cv)) for c, cv in cents]
        shift = sum(
            sum((a - b) * (a - b) for a, b in zip(cv, nv))
            for (_, cv), (_, nv) in zip(cents, new_cents)
        )
        cents = new_cents
        if shift < tol:
            break
    assert len(cents) == k, "kmeans_fit invariant: one centroid per cell"
    return spark.createDataFrame(cents, CENTROID_SCHEMA)


def _assign(v: DataFrame, cents: DataFrame) -> DataFrame:
    carr = cents.agg(F.collect_list(F.struct("cell", "c_vec")).alias("_cents"))
    return v.crossJoin(F.broadcast(carr)).select(
        "id", "vec", nearest_centroids(F.col("vec"), F.col("_cents"))[0]["cell"].alias("cell")
    )


def kmeans_assign(emb: DataFrame, cents: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, cell) for every vector — the IVF cell table a query-time probe
    uses. One broadcast join, no shuffle of the vectors."""
    v = emb.select(F.col(id_col).alias("id"), to_double_vec(vec_col).alias("vec"))
    return _assign(v, cents).select("id", "cell")


def inertia(emb: DataFrame, cents: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> float:
    """Sum of squared distances to the assigned centroid (the k-means
    objective) — one scalar for convergence/quality assertions."""
    v = emb.select(F.col(id_col).alias("id"), to_double_vec(vec_col).alias("vec"))
    scored = _assign(v, cents)
    val = (
        scored.join(cents, "cell")
        .select(_sq_dist(F.col("vec"), F.col("c_vec")).alias("d2"))
        .agg(F.sum("d2").alias("s"))
        .collect()[0]["s"]
    )
    return float(val)
