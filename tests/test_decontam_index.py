"""Differential gates for streaming/decontam_index.py — q116's incremental
serving twin (VERDICT r10 ask #3): after every corpus batch the served
contaminated set must equal one-shot semantic_decontaminate over everything
ingested so far BIT-exactly (per-vector verdicts are independent given the
frozen centroids + eval index); replays are no-ops; retrain() re-scores the
maintained assignment store against a re-released eval set with no corpus
re-read."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.operators.dedup import (
    decontam_probe,
    semantic_decontaminate,
)
from mapreduce_paper_implementation_spark.operators.kmeans import kmeans_fit
from mapreduce_paper_implementation_spark.plans.queries import QUERIES
from mapreduce_paper_implementation_spark.sources.tables import load_table
from mapreduce_paper_implementation_spark.streaming.decontam_index import (
    DecontamIndexMaintainer,
)

_EVAL_MOD = 29


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_decontam_index_matches_one_shot_and_q116(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    # the q116 build: centroids trained over the FULL frame (eval + corpus)
    cents = kmeans_fit(
        emb, k=16, max_iter=2, tol=0.0, id_col="vec_id", vec_col="embedding"
    ).localCheckpoint()
    ev = emb.where(F.col("vec_id") % _EVAL_MOD == 0)
    corpus = emb.where(F.col("vec_id") % _EVAL_MOD != 0)

    m = DecontamIndexMaintainer(spark, str(tmp_path / "dc"), cents)
    m.set_eval(ev, gen=0)

    n_batches = 3
    seen = None
    for bid in range(n_batches):
        b = corpus.where(F.col("vec_id") % n_batches == bid)
        m.update(b, bid)
        seen = b if seen is None else seen.unionByName(b)
        # one-shot over the ingested prefix: same centroids, same eval slice
        exp = semantic_decontaminate(
            ev.unionByName(seen), eval_mod=_EVAL_MOD, centroids=cents, nassign=2
        )
        assert _rows(m.serve()) == _rows(exp), f"batch {bid}"

    # full ingest == the registered q116 (which trains the same build)
    q116 = QUERIES["q116_semantic_decontaminate"](spark, sf_dir)
    assert _rows(m.serve()) == _rows(q116)

    # replay no-op: same batch id again must not double-count
    before = _rows(m.contaminated())
    m.update(corpus.where(F.col("vec_id") % n_batches == 0), 0)
    assert _rows(m.contaminated()) == before


def test_decontam_retrain_rescores_from_state(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(
        emb, k=16, max_iter=2, tol=0.0, id_col="vec_id", vec_col="embedding"
    ).localCheckpoint()
    ev0 = emb.where(F.col("vec_id") % _EVAL_MOD == 0)
    corpus = emb.where(F.col("vec_id") % _EVAL_MOD != 0)

    m = DecontamIndexMaintainer(spark, str(tmp_path / "dc"), cents)
    m.set_eval(ev0, gen=0)
    for bid in range(2):
        m.update(corpus.where(F.col("vec_id") % 2 == bid), bid)

    # the benchmark is re-released with a different slice: retrain must
    # replace the contaminated state from the STORED assignments alone
    ev1 = emb.where(
        (F.col("vec_id") % 31 == 0) & (F.col("vec_id") % _EVAL_MOD != 0)
    )
    m.retrain(ev1, gen=1)

    expected = decontam_probe(
        m._assign(corpus.where(F.col("vec_id") % 31 != 0)),
        m._assign(ev1).select(
            "cell",
            F.col("id").alias("eval_id"),
            F.col("vec").alias("e_vec"),
            F.col("nrm").alias("e_nrm"),
        ),
        m.threshold,
    )
    # stored cells include ev1-overlapping corpus vectors (ev1 was drawn
    # from the corpus domain): a vector always hits itself at cosine 1.0,
    # so compare on the self-excluded remainder the probe shape defines
    got = m.contaminated().where(F.col("vec_id") % 31 != 0)
    exp = expected.where(F.col("vec_id") % 31 != 0)
    assert _rows(got) == _rows(exp)

    # new batches after retrain probe the NEW generation automatically
    assert m.store.pointer("_EVAL") == 1
