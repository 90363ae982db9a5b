"""Similarity search over embedding columns: exact brute-force top-k plus
two approximate scale paths (random-hyperplane LSH, IVF coarse quantization).

Scale posture (100 TB / billions of vectors):
- Brute force is the baseline: broadcast the (small) probe set, one pass
  over candidates, per-probe top-k via window — cost O(n_probes * n).
- LSH: bucket vectors by sign-pattern on H fixed hyperplanes; probes only
  scan buckets within `multiprobe` hamming distance — cost O(n / 2^H *
  #probed_buckets) per probe, tunable recall.
- IVF: coarse-assign every vector to its nearest of k centroids (one
  broadcast join), probes scan the `nprobe` nearest cells. Centroids here
  are deterministic (first-k vectors) — a stand-in for k-means which is an
  offline build step in a real deployment.
- All dot products are JVM higher-order functions; hyperplanes/centroids are
  broadcast literals/DataFrames. No Python per-row.

Every search ends in cosine_topk (the exact rounded-cosine rank) and every
cell or code assignment is operators/kmeans.py:nearest_centroids.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.functions.vectors import cosine, dot, norm, to_double_vec
from mapreduce_paper_implementation_spark.operators.kmeans import (
    _mean_rows,
    nearest_centroids,
)
from mapreduce_paper_implementation_spark.operators.parallel import spread_partitions


def _prep(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("id"), to_double_vec(vec_col).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))


def _probe_side(probes: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return _prep(probes, id_col, vec_col).select(
        F.col("id").alias("probe_id"), F.col("vec").alias("p_vec"), F.col("nrm").alias("p_nrm")
    )


def cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The cosine top-k rule every similarity search ends in, defined once.
    `pairs` holds candidate rows (probe_id, p_vec, p_nrm, id, vec, nrm);
    each scores ROUND(cos, 6) as DECIMAL(9,6), and ranks per probe by
    (cos DESC, neighbor_id ASC) on that exact decimal, so no cross-engine
    ulp difference can reorder neighbours. Returns (probe_id, neighbor_id,
    cos_sim DOUBLE, rnk BIGINT) for rnk <= k, ordered by (probe_id, rnk)."""
    scored = pairs.select(
        "probe_id",
        F.col("id").alias("neighbor_id"),
        F.round(cosine(F.col("p_vec"), F.col("vec"), F.col("p_nrm"), F.col("nrm")), 6)
        .cast("decimal(9,6)")
        .alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.select(
            "probe_id",
            "neighbor_id",
            F.col("cos_sim").cast("double").alias("cos_sim"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .where(F.col("rnk") <= k)
        .orderBy("probe_id", "rnk")
    )


def brute_force_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast probes, scan candidates once.
    Returns cosine_topk's (probe_id, neighbor_id, cos_sim DOUBLE, rnk)."""
    cand = spread_partitions(_prep(emb, id_col, vec_col))
    p = _probe_side(probes, id_col, vec_col)
    return cosine_topk(cand.join(F.broadcast(p), F.col("id") != F.col("probe_id")), k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).round(6).tolist()


def lsh_bucket_expr(vec_col, planes: list[list[float]]):
    """Bucket id = sign bits of the vector against each hyperplane."""
    bits = [
        F.when(
            dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in p])) > 0, F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        for p in planes
    ]
    out = F.lit(0).cast("long")
    for j, b in enumerate(bits):
        out = out + F.shiftleft(b, j)
    return out


def lsh_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    multiprobe_hamming: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to LSH buckets within
    `multiprobe_hamming` of the probe's bucket, ranked by cosine_topk; recall
    is tested against brute_force_topk.

    Parameter note: random-hyperplane LSH trades recall for scan fraction by
    collision probability (1 - angle/pi)^planes. On weakly-clustered data
    (fixture neighbors are ~60 deg apart) wide multiprobe is required —
    defaults (8 planes, hamming<=4) scan ~36% of buckets for ~0.87 recall.
    Strongly clustered corpora (true near-dups) support many more planes and
    tiny multiprobe; tune per dataset.

    `dim` is required: it's a static property of the embedding model, and a
    dataframe sniff would cost a driver round-trip + an extra Spark job per
    plan build (the removed `.first()` fallback did exactly that)."""
    if dim is None:
        raise TypeError(
            "lsh_topk requires dim= (the embedding dimension — a static "
            "property of the embedding model; sniffing it from the data "
            "would be a driver-side job per call)"
        )
    planes = _hyperplanes(dim, n_planes, seed)
    cand = spread_partitions(_prep(emb, id_col, vec_col)).withColumn(
        "bucket", lsh_bucket_expr("vec", planes)
    )
    p = _probe_side(probes, id_col, vec_col).withColumn(
        "p_bucket", lsh_bucket_expr("p_vec", planes)
    )
    pairs = cand.join(
        F.broadcast(p),
        (F.col("id") != F.col("probe_id"))
        & (
            F.bit_count(F.col("bucket").bitwiseXOR(F.col("p_bucket")))
            <= multiprobe_hamming
        ),
    )
    return cosine_topk(pairs, k)


def ivf_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k. Coarse centroids come from `centroids`
    ((cell, c_vec array<double>) — e.g. operators/kmeans.py:kmeans_fit, the
    offline index-build step) or default to the deterministic n_cells
    lowest-id vectors. Every vector is assigned to its nearest cell and
    every probe to its `nprobe` nearest (operators/dedup.py:assign_cells);
    a probe scores only the candidates in its cells. A candidate holds one
    cell and a probe's cells are distinct, so each pair meets once."""
    from mapreduce_paper_implementation_spark.operators.dedup import assign_cells

    if centroids is None:
        centroids = emb.select(
            F.col(id_col).alias("cell"), to_double_vec(vec_col).alias("c_vec")
        ).orderBy("cell").limit(n_cells)
    cand = assign_cells(emb, centroids, 1, id_col, vec_col).withColumn(
        "nrm", norm(F.col("vec"))
    )
    pv = assign_cells(probes, centroids, nprobe, id_col, vec_col).select(
        F.col("id").alias("probe_id"),
        F.col("vec").alias("p_vec"),
        norm(F.col("vec")).alias("p_nrm"),
        F.col("cell").alias("p_cell"),
    )
    pairs = cand.join(
        F.broadcast(pv), (F.col("cell") == F.col("p_cell")) & (F.col("id") != F.col("probe_id"))
    )
    return cosine_topk(pairs, k)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ) — the memory-bound 100-TB retrieval path.
# q65 audits int8 round-trip storage; PQ goes further: each NORMALIZED
# vector is split into m subspaces and each subvector replaced by the id of
# its nearest subspace-codebook centroid (trained with the same
# operators/kmeans.py:kmeans_fit discipline as the coarse IVF index), so a
# d-dim float vector becomes m uint8 codes — 32x smaller at d=64/m=8.
# Query-time scoring is ADC (asymmetric distance computation, Jégou et al.
# 2011 "Product Quantization for Nearest Neighbor Search"): the query
# precomputes one (sub_j, code) -> partial-dot lookup table against the
# codebooks, and a candidate's approximate cosine is the sum of m table
# lookups — the candidate VECTORS are never touched at query time.
#
# Determinism: every assignment is kmeans.nearest_centroids' squared-L2
# rule over one subspace's codes; each LUT partial is ROUND(dot, 6) cast DECIMAL(12,6) BEFORE the sum, so the ADC
# score is an exact decimal sum — associative, order-free, identical in
# DuckDB's unrolled replay (q118's oracle) regardless of join order.
# ---------------------------------------------------------------------------


def normalized(col) -> "F.Column":
    """Unit-normalize an array<double> column. The norm is let-bound so the
    interpreted HOF lambda does not recompute it per element."""
    from mapreduce_paper_implementation_spark.functions.text import let

    c = F.col(col) if isinstance(col, str) else col
    return let(norm(c), lambda n: F.transform(c, lambda x: x / n))


def pq_train(
    emb: DataFrame,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the m per-subspace codebooks over NORMALIZED vectors; returns
    (sub_j INT, code INT, c_vec array<double>). Offline index-build step:
    m Lloyd trainings (2 rounds, lowest-id seeding, tol=0 — the exact
    unrollable build, kmeans_fit's contract) over the j-th slice of every
    unit vector.

    Round-14 shape (guide §1.2/§2.4): the m trainings are FUSED into one
    pipeline — per Lloyd round, ONE Spark job assigns every vector to its
    nearest code in ALL m subspaces (narrow map over a broadcast codebook
    array; the per-subspace slice/argmin arithmetic is kmeans_fit's,
    bit-identical) and aggregates all m x ks sub-centroid means in ONE
    partial/final average. The previous formulation ran m independent
    kmeans_fit loops (threadpooled): m localCheckpoints of the sliced
    input + ~3 driver-blocking jobs per subspace per round — measured
    ~30 Spark jobs where this runs 4."""
    assert dim % m == 0, "dim must split evenly into m subspaces"
    spark = emb.sparkSession
    sd = dim // m
    nv = spread_partitions(
        emb.select(
            F.col(id_col).alias("vec_id"),
            normalized(to_double_vec(vec_col)).alias("nvec"),
        )
    ).localCheckpoint()  # both Lloyd rounds re-read this

    seed_rows = nv.orderBy("vec_id").limit(ks).select("vec_id", "nvec").collect()
    if len(seed_rows) < ks:
        raise ValueError(
            f"pq_train: ks={ks} but only {len(seed_rows)} vectors available to seed"
        )
    seed_rows.sort(key=lambda r: r["vec_id"])
    # cb[(j, code)] = sub-centroid (code 1..ks = the ks lowest-id vectors'
    # j-th slices — exactly kmeans_fit's init over each slice frame)
    cb: dict[tuple[int, int], list[float]] = {
        (j, c + 1): list(r["nvec"])[j * sd : (j + 1) * sd]
        for j in range(m)
        for c, r in enumerate(seed_rows)
    }
    cb_schema = "sub_j int, code int, c_vec array<double>"

    for _ in range(2):  # max_iter=2, tol=0.0 — the exact unrollable build
        # ONE job: explode each vector into its m (sub_j, sub) slices
        # map-side (narrow), rank each slice against its subspace's codes,
        # then kmeans' (keys, pos) partial/final average per (sub_j, code).
        cb_row = spark.createDataFrame(
            [(j, c, v) for (j, c), v in sorted(cb.items())], cb_schema
        ).agg(F.collect_list(F.struct("sub_j", "code", "c_vec")).alias("_cb"))
        sliced = (
            nv.crossJoin(F.broadcast(cb_row))
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(m - 1)),
                        lambda j: F.struct(
                            j.cast("int").alias("sub_j"),
                            F.slice(F.col("nvec"), j * sd + 1, sd).alias("sub"),
                        ),
                    )
                ).alias("a"),
                F.col("_cb"),
            )
            .select(
                F.col("a.sub_j").alias("sub_j"),
                F.col("a.sub").alias("vec"),
                nearest_centroids(
                    F.col("a.sub"),
                    F.filter(F.col("_cb"), lambda c: c["sub_j"] == F.col("a.sub_j")),
                    key="code",
                )[0]["code"].alias("code"),
            )
        )
        means = {(r["sub_j"], r["code"]): list(r["n_vec"]) for r in _mean_rows(sliced, ("sub_j", "code"))}
        # empty-cell carry-forward — kmeans_fit's left-join/coalesce rule
        cb = {key: means.get(key, old) for key, old in cb.items()}

    return spark.createDataFrame(
        [(j, c, v) for (j, c), v in sorted(cb.items())], cb_schema
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, sub_j, code): each normalized subvector assigned to its
    nearest codebook centroid — pq_codes_arr's codes, one row per subspace.

    Round-14 shape: ONE narrow pass over the vectors computes all m codes
    per row (pq_codes_arr) and posexplodes them — the previous formulation
    unioned m per-subspace assignment branches over a persisted frame
    (m reads + a window shuffle each; guide §2.4). No persist needed:
    single consumer, single pass, the vectors never shuffle."""
    return pq_codes_arr(emb, codebooks, m=m, dim=dim, id_col=id_col, vec_col=vec_col).select(
        "vec_id",
        F.posexplode("codes").alias("sub_j", "code"),
    ).select("vec_id", F.col("sub_j").cast("int").alias("sub_j"), "code")


def pq_codes_arr(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>) with codes[j+1] = the sub_j=j PQ code —
    the array form ivf_pq_topk's ADC stage consumes directly (one narrow
    map; the codebooks collapse to ONE broadcast array row). The j-th code
    is the nearest_centroids squared-L2 winner over the j-th slice among
    subspace j's codes — the rule pq_train trains with."""
    assert dim % m == 0, "dim must split evenly into m subspaces"
    sd = dim // m
    cb = codebooks.agg(F.collect_list(F.struct("sub_j", "code", "c_vec")).alias("_cb"))
    nv = spread_partitions(
        emb.select(
            F.col(id_col).alias("vec_id"),
            normalized(to_double_vec(vec_col)).alias("nvec"),
        )
    )
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: nearest_centroids(
            F.slice(F.col("nvec"), j * sd + 1, sd),
            F.filter(F.col("_cb"), lambda c: c["sub_j"] == j),
            key="code",
        )[0]["code"],
    )
    return nv.crossJoin(F.broadcast(cb)).select("vec_id", codes.alias("codes"))


def ivf_pq_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    refine: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    cells: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k with exact REFINEMENT (the standard
    two-stage retrieve+refine): ADC ranks every candidate in the probed
    cells from codes alone, the top-`refine` per probe survive, and only
    those touch their float vectors for an exact-cosine re-rank. Returns
    cosine_topk's ranking of the refined winners by their EXACT rounded
    cosine.

    Why refinement is load-bearing at scale (measured, BENCH_SCALE): the
    per-candidate ADC error is constant, but the MAX error across the
    probed cells' noise candidates grows with corpus size — ADC-only
    top-3 recall on planted partners decayed 0.86 (x1) -> 0.0 (x100,
    200k vectors). With the shortlist the planted partner only has to
    beat the noise at rank <= refine on the ADC estimate, then exact
    scoring does the final ordering. Parameter sweep at x30/x100
    (planted-partner slots): m=4/refine=128 -> 12/14, 6/11;
    m=8/refine=64 -> 13/14, 10/11 — subspace fidelity (8-dim subspaces)
    buys more than a deeper shortlist, hence the m=8 default.

    Scale shape: candidate vectors are represented ONLY by their m codes
    through the ADC stage — memory holds |corpus| x m bytes of codes plus
    the broadcast LUT (probes x m x ks decimals); the ADC join shuffles
    (probe, candidate, sub_j) code rows, partial-aggregated. Floats are
    touched for exactly probes x refine rows: the shortlist BROADCASTS
    against the vector store (point lookups at serving scale).

    Index inputs (operators/ann_release.py, VERDICT r12 #1): `centroids` /
    `codebooks` (trained artifacts) and `cells` ((vec_id, cell) corpus
    assignments) / `codes` ((vec_id, sub_j, code) corpus PQ codes) may be
    supplied from a published release index — then NO training and NO
    corpus-side encode happens at query time; the corpus floats are read
    only for the probes x refine exact re-rank. Omitted pieces are built
    inline (deterministically identical — kmeans_fit/pq_train's contract),
    which is the self-contained correctness-gate shape."""
    from mapreduce_paper_implementation_spark.operators.dedup import assign_cells
    from mapreduce_paper_implementation_spark.operators.kmeans import kmeans_fit

    sd = dim // m
    if centroids is None and codebooks is None:
        # Inline index build: the coarse-centroid training and the PQ
        # codebook training are independent pipelines over the same input —
        # overlap their driver-blocking job chains on threads (guide §2.6).
        # Neither holds a scoped_persist (localCheckpoint + bounded
        # collects only), and both are deterministic, so concurrency
        # cannot change a result.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as _pool:
            _fut_cb = _pool.submit(
                pq_train, emb, m=m, ks=ks, dim=dim, id_col=id_col, vec_col=vec_col
            )
            centroids = kmeans_fit(
                emb, k=n_cells, max_iter=2, tol=0.0, id_col=id_col, vec_col=vec_col
            )
            codebooks = _fut_cb.result()
    if centroids is None:
        centroids = kmeans_fit(emb, k=n_cells, max_iter=2, tol=0.0, id_col=id_col, vec_col=vec_col)
    if codebooks is None:
        codebooks = pq_train(emb, m=m, ks=ks, dim=dim, id_col=id_col, vec_col=vec_col)

    if cells is not None:
        cand_cells = cells.select(F.col("vec_id").alias("neighbor_id"), "cell")
    else:
        cand_cells = assign_cells(
            emb, centroids, nassign=1, id_col=id_col, vec_col=vec_col
        ).select(F.col("id").alias("neighbor_id"), "cell")
    probe_cells = assign_cells(
        probes, centroids, nassign=nprobe, id_col=id_col, vec_col=vec_col
    ).select(F.col("id").alias("probe_id"), "cell")

    # candidate codes in ARRAY form: codes[j+1] = sub_j=j code. Inline
    # encode emits the arrays directly (one narrow pass); published index
    # rows fold to arrays with one (vec_id) aggregate.
    if codes is not None:
        enc_arr = codes.groupBy("vec_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub_j", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
    else:
        enc_arr = pq_codes_arr(
            emb, codebooks, m=m, dim=dim, id_col=id_col, vec_col=vec_col
        )

    # Per-probe ADC lookup table as ONE flat array: w[sub_j * ks + code] =
    # ROUND(dot(q_j, c_vec), 6)::DECIMAL(12,6) (codes are dense 1..ks —
    # kmeans' one-centroid-per-cell invariant). The old formulation
    # materialized m unioned (probe, sub_j, code, w) row slices over a
    # persisted probe frame and JOINED them under the candidate rows —
    # m x |pairs| join rows and a (probe, neighbor) re-aggregation; here
    # the ADC score is a narrow m-lookup decimal fold after ONE join of
    # the pair list with the candidate code arrays (guide §2.3/§2.4).
    cbw = codebooks.agg(F.collect_list(F.struct("sub_j", "code", "c_vec")).alias("_cb"))
    np_ = probes.select(
        F.col(id_col).alias("probe_id"), normalized(to_double_vec(vec_col)).alias("nvec")
    )
    wflat = F.transform(
        F.array_sort(F.col("_cb")),  # (sub_j, code) ascending == flat index order
        lambda c: F.round(
            dot(
                F.slice(F.col("nvec"), c["sub_j"] * sd + 1, sd), c["c_vec"]
            ),
            6,
        ).cast("decimal(12,6)"),
    )
    lut = np_.crossJoin(F.broadcast(cbw)).select("probe_id", wflat.alias("w"))

    pairs = (
        cand_cells.join(F.broadcast(probe_cells), "cell")
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id")
        .distinct()
    )
    adc = (
        pairs.join(enc_arr, enc_arr["vec_id"] == pairs["neighbor_id"])
        .join(F.broadcast(lut), "probe_id")
        .select(
            "probe_id",
            "neighbor_id",
            # exact decimal fold — order-free, same values the old
            # SUM(w) over m joined rows produced
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0).cast("decimal(38,6)"),
                lambda acc, j: acc
                + F.element_at(
                    F.col("w"),
                    (
                        j * ks
                        + F.element_at(F.col("codes"), (j + 1).cast("int"))
                    ).cast("int"),
                ),
            ).alias("adc"),
        )
    )
    w_adc = Window.partitionBy("probe_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    shortlist = (
        adc.withColumn("arnk", F.row_number().over(w_adc))
        .where(F.col("arnk") <= refine)
        .select("probe_id", F.col("neighbor_id").alias("id"))
    )
    # exact re-rank of the shortlist: probes x refine rows broadcast against
    # the float vectors (point lookups at serving scale — the only stage
    # that ever touches candidate floats)
    exact = _prep(emb, id_col, vec_col).join(F.broadcast(shortlist), "id").join(
        F.broadcast(_probe_side(probes, id_col, vec_col)), "probe_id"
    )
    return cosine_topk(exact, k)
