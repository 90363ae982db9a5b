"""Pins for the vector operators' shared rules and the scan-parallelism guard.

The vector operators get their determinism from three rules, each defined
once: the nearest-centroid ranking (operators/kmeans.py:nearest_centroids),
the blocked-GEMM pair scorer with its Spark-side round/threshold tail
(operators/dedup.py:gemm_cosine_pairs / cosine_pairs_at) and the cosine
top-k tail (operators/similarity.py:cosine_topk). These tests check the
fast paths against exact references and that no second copy reappears.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.sources.tables import load_table

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "mapreduce_paper_implementation_spark")


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("n_blocks", [1, 3])
def test_blocked_gemm_matches_exact_reference(spark, sf_dir, n_blocks):
    """embedding_neardup_pairs is the documented O(n^2) ground truth; the
    blocked GEMM must return its rows exactly, whatever the block count."""
    from mapreduce_paper_implementation_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cols = ["id_a", "id_b", "cos_sim"]
    ref = _rows(embedding_neardup_pairs(emb, threshold=0.45), cols)
    got = _rows(embedding_neardup_pairs_blocked(emb, threshold=0.45, n_blocks=n_blocks), cols)
    assert ref, "threshold must yield pairs for the comparison to mean anything"
    assert got == ref


def test_exhaustive_ivf_and_lsh_probes_equal_brute_force(spark, sf_dir):
    """Probing every IVF cell, or every LSH bucket, makes the approximate
    searches exact: all three must then return brute_force_topk's rows."""
    from mapreduce_paper_implementation_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    cols = ["probe_id", "neighbor_id", "cos_sim", "rnk"]
    ref = _rows(brute_force_topk(emb, probes, k=5), cols)
    assert ref
    assert _rows(ivf_topk(emb, probes, k=5, n_cells=8, nprobe=8), cols) == ref
    got = lsh_topk(emb, probes, k=5, n_planes=6, multiprobe_hamming=6, dim=64)
    assert _rows(got, cols) == ref


def test_spread_partitions_fans_out_heads_with_unbounded_estimates(spark, sf_dir):
    """Two single-partition heads whose plan-stats estimate is far above
    any real size — a frame built from an RDD (Long.MaxValue) and a
    broadcast join (the product of its inputs) — must still be fanned out;
    a frame under the 64 KB floor must not be."""
    from mapreduce_paper_implementation_spark.operators.parallel import (
        MIN_SPREAD_BYTES,
        spread_partitions,
    )

    sc = spark.sparkContext
    target = sc.defaultParallelism
    if target < 2:
        pytest.skip("a one-slot session has nothing to fan out to")

    def est(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    from_rdd = spark.createDataFrame(
        sc.parallelize([(i, [float(i)] * 64) for i in range(2000)], 1),
        "id long, vec array<double>",
    )
    emb = load_table(spark, sf_dir, "embeddings")
    joined = emb.join(
        F.broadcast(emb.select(F.col("vec_id").alias("v2"))), F.col("vec_id") == F.col("v2")
    )
    for head in (from_rdd, joined):
        assert head.rdd.getNumPartitions() == 1
        # far past any size that would make the scan parallel on its own
        assert est(head) > target * 128 * 1024 * 1024
        assert spread_partitions(head).rdd.getNumPartitions() == target

    tiny = spark.range(0, 10, 1, numPartitions=1)
    assert est(tiny) < MIN_SPREAD_BYTES
    assert spread_partitions(tiny).rdd.getNumPartitions() == 1


def test_each_vector_rule_is_written_once():
    """The three rules' bodies appear once in the package; a second copy
    is exactly the drift only a DuckDB hash mismatch would otherwise show."""
    once = {
        "GEMM tile": re.compile(r"ml @ mr\.T"),
        "GEMM pre-filter margin": re.compile(r"threshold - margin"),
        "cosine top-k order": re.compile(r'orderBy\(F\.desc\("cos_sim"\), F\.asc\("neighbor_id"\)\)'),
        "centroid ranking": re.compile(r"F\.round\(_sq_dist\("),
    }
    hits = {name: [] for name in once}
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                src = fh.read()
            for name, pat in once.items():
                hits[name] += [os.path.relpath(path, PKG)] * len(pat.findall(src))
    assert {name: len(paths) for name, paths in hits.items()} == dict.fromkeys(once, 1), hits
