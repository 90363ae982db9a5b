"""Materialized ANN release index (VERDICT r12 ask #1): the trained
similarity-search artifacts — coarse IVF centroids, per-subspace PQ
codebooks, corpus cell assignments, and corpus PQ codes — published ONCE
as parquet and consumed by every semantic query, with inline retraining
only as the self-contained fallback.

Why: the registered q118 (IVF-PQ retrieve+refine) was the slowest standing
non-composed query (7.3 s at sf0.1) and ~all of that is the OFFLINE index
build (coarse k-means + 8 codebook fits + corpus encode) re-run inline on
every execution; q116's semantic decontamination and q127's semantic
boundary gate retrain the same 16-cell coarse index again. At 100 TB the
index build is a scheduled offline job (streaming/ann_index.py maintains
the same artifacts incrementally, frozen-centroid deltas + retrain());
query time should touch codes and centroids, never re-fit them. This is
the SPARK_GRAFT_CC_CUT release-cut pattern (plans/curation_queries.py:
_cc_cut_dir) applied to the ANN artifacts.

Determinism contract: kmeans_fit (lowest-id seeding, ROUND(,6) ranked
assignment, tol=0 fixed rounds) and pq_train/pq_encode are deterministic
end-to-end, so the published artifacts are BIT-IDENTICAL to what an inline
run trains — q118/q116/q127 return identical rows in both modes and the
DuckDB hash gates (which unroll the training) stay green either way
(tests/test_round13_additions.py pins the equality; scripts/
bench_ann_index.py prices the delta).

Layout: full-state versions under statedir.py (a crash mid-publish leaves
the previous version visible). Version N holds

    centroids/   (cell INT, c_vec ARRAY<DOUBLE>)            k rows
    codebooks/   (sub_j INT, code INT, c_vec ARRAY<DOUBLE>) m*ks rows
    cells/       (vec_id, cell INT)                         corpus-sized
    codes/       (vec_id, sub_j INT, code INT)              corpus-sized

Reference analog: the same materialize-once discipline as the reference's
pre-created intermediate files (/root/reference/mr-main/mr/coordinator.go:
224-241), lifted from shuffle spill files to trained index artifacts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mapreduce_paper_implementation_spark.statedir import VersionedStateDir

# The shared index geometry: q118's coarse/PQ parameters and q116/q127's
# coarse cell count all resolve to these (plans/curation_queries.py pins
# _PQ_M/_PQ_KS/_PQ_DIM and _Q127_CELLS to the same values).
ANN_ENV = "SPARK_GRAFT_ANN_INDEX"
LEAVES = ("centroids", "codebooks", "cells", "codes")


def ann_index_dir() -> str | None:
    """Resolve the published-index directory from $SPARK_GRAFT_ANN_INDEX,
    or None when unset. Set-but-missing/unpublished RAISES (the _cc_cut_dir
    contract): a typo'd path must not silently flip every semantic query
    back to inline retraining."""
    root = os.environ.get(ANN_ENV)
    if not root:
        return None
    if VersionedStateDir(root).pointer() is None:
        raise FileNotFoundError(
            f"{ANN_ENV} is set to {root!r} but no published index version "
            "exists there — refusing to fall back to "
            "inline index retraining silently; unset the var to opt in"
        )
    return root


def publish_ann_index(
    emb: DataFrame,
    index_dir: str,
    n_cells: int = 16,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Train and publish one index version over `emb`; returns the version
    number. The offline build job: ONE coarse kmeans_fit, m codebook fits,
    one corpus assign, one corpus encode — the exact computations q118
    runs inline, so consumers are bit-identical by construction. The
    publisher owns the corpus↔index match (same contract as the CC cut)."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.dedup import assign_cells
    from mapreduce_paper_implementation_spark.operators.kmeans import kmeans_fit
    from mapreduce_paper_implementation_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    store = VersionedStateDir(index_dir)
    version = store.next_version()
    vdir = store.version_dir(version)

    centroids = kmeans_fit(
        emb, k=n_cells, max_iter=2, tol=0.0, id_col=id_col, vec_col=vec_col
    )
    codebooks = pq_train(emb, m=m, ks=ks, dim=dim, id_col=id_col, vec_col=vec_col)
    centroids.write.mode("overwrite").parquet(os.path.join(vdir, "centroids"))
    codebooks.write.mode("overwrite").parquet(os.path.join(vdir, "codebooks"))
    # corpus-side artifacts derive from the JUST-WRITTEN small artifacts so
    # a re-read can never disagree with what consumers will load
    spark = emb.sparkSession
    cents = spark.read.parquet(os.path.join(vdir, "centroids"))
    books = spark.read.parquet(os.path.join(vdir, "codebooks"))
    assign_cells(emb, cents, nassign=1, id_col=id_col, vec_col=vec_col).select(
        F.col("id").alias("vec_id"), "cell"
    ).write.mode("overwrite").parquet(os.path.join(vdir, "cells"))
    pq_encode(emb, books, m=m, dim=dim, id_col=id_col, vec_col=vec_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(vdir, "codes"))

    store.commit(version, publish=[vdir])
    return version


def load_ann_index(spark: SparkSession, index_dir: str) -> dict[str, DataFrame]:
    """Load the current published version; returns {leaf: DataFrame}."""
    vdir = VersionedStateDir(index_dir).current_dir()
    return {
        leaf: spark.read.parquet(os.path.join(vdir, leaf)) for leaf in LEAVES
    }


def published_ann_index(spark: SparkSession) -> dict[str, DataFrame] | None:
    """The env-gated consumer entry: the current index when
    $SPARK_GRAFT_ANN_INDEX is published, else None (inline fallback)."""
    root = ann_index_dir()
    return load_ann_index(spark, root) if root else None
