"""Incremental release-cut view (VERDICT r12 stretch #7): the q127
composed release cut served from MAINTAINED state after every ingest
batch, never a corpus re-read.

One-shot q127 re-parses the corpus every run: re-shingles every doc
(lexical gate), re-assigns every vector (semantic gate), re-tokenizes and
re-scores every doc (split weights + quality cut). A continuous-ingest
pipeline pays each of those ONCE, at ingest, as O(batch) map work; the
release cut is then a readout over state:

  a delta chain under statedir.py with leaves
    meta/    (doc_id, source, tc, q)     map-only
    grams/   (doc_id, gh) distinct       shingle+hash
    cells/   (id, cell, vec, nrm)        frozen-centroid assign
             (operators/dedup.py:assign_cells, nassign=2 — q127's geometry)
  plus, under cc/, a ComponentsMaintainer (label table) fed the batch's
  near-dup PAIR delta (production: streaming/dedup_index.py's per-batch
  output). A batch commits only after the cc fold, so a half-folded batch
  is crash residue that no read sees.

current() composes the cut from state through the SAME
plans/release_queries.py:_release_cut_tail expression tree the hash-gated
q127 runs — split assignment over the maintained labels
(cluster_split_assign_from_tc: tc comes from meta, never a re-tokenize),
lexical scrub from the gram state, semantic scrub from the cell state,
quality cut from the stored scores — so view == one-shot is a structural
property wherever the STATE equals what a fresh parse would produce,
which each ingest projection shares expression-for-expression with the
batch pipeline. tests/test_round13_additions.py pins the equality after
every batch against q127 over the seen corpus.

Centroids are FROZEN at construction (inject the published ANN release
index's centroids — operators/ann_release.py; the one-shot side of the
equality gate runs under $SPARK_GRAFT_ANN_INDEX so both engines use the
same geometry). The cluster-split caveat applies as always: labels only
ever decrease, so a doc's split can change when components merge —
production takes the cut at release points (this view makes that cut
O(state-join), never O(re-parse)).

Reference analog: none — the reference recomputes every job from scratch;
this is the engine's beyond-reference incremental-maintenance surface
composed at the release grain (the BENCH_INGEST.topology claim, now for
the release cut).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.statedir import VersionedStateDir
from mapreduce_paper_implementation_spark.streaming.cc_index import (
    ComponentsMaintainer,
)


class ReleaseCutView:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        centroids: DataFrame,
        n_gram: int = 8,
        nassign: int = 2,
        sem_threshold: float = 0.35,
        n_shards: int = 4,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.n_gram = n_gram
        self.nassign = nassign
        self.sem_threshold = sem_threshold
        self.n_shards = n_shards
        # frozen geometry: materialize once, every batch re-reads it
        self.centroids = centroids.localCheckpoint(eager=True)
        self.cc = ComponentsMaintainer(spark, os.path.join(state_dir, "cc"))
        self.store = VersionedStateDir(state_dir)

    # -- ingest: O(batch) map work, once per doc ----------------------------
    def update(
        self,
        docs: DataFrame,
        emb: DataFrame,
        pairs: DataFrame,
        batch_id: int,
    ) -> None:
        """Fold one ingest batch: doc meta (tc + quality score), distinct
        hashed n-grams, frozen-centroid cell assignments, and the batch's
        near-dup pair delta into the label table. Each projection is the
        EXACT expression q127 would apply to the same rows at cut time.
        A replayed batch id is a no-op (statedir.py's replay rule)."""
        from mapreduce_paper_implementation_spark.functions.text import (
            token_count,
            word_shingles,
        )
        from mapreduce_paper_implementation_spark.functions.vectors import norm
        from mapreduce_paper_implementation_spark.operators.dedup import assign_cells
        from mapreduce_paper_implementation_spark.operators.text_analysis import (
            quality_score,
        )

        if self.store.replayed(batch_id):
            return None
        self.store.begin_batch(batch_id)

        docs.select(
            "doc_id",
            "source",
            token_count("text").alias("tc"),
            F.round(quality_score("text", "n_chars"), 6)
            .cast("decimal(9,6)")
            .cast("double")
            .alias("q"),
        ).write.mode("overwrite").parquet(self.store.batch_dir(batch_id, "meta"))

        docs.select(
            "doc_id", F.explode(word_shingles("text", self.n_gram)).alias("shingle")
        ).select("doc_id", F.xxhash64("shingle").alias("gh")).distinct().write.mode(
            "overwrite"
        ).parquet(self.store.batch_dir(batch_id, "grams"))

        assign_cells(emb, self.centroids, nassign=self.nassign).withColumn(
            "nrm", norm(F.col("vec"))
        ).write.mode("overwrite").parquet(self.store.batch_dir(batch_id, "cells"))

        self.cc.update(pairs, batch_id)
        # commit after the label-table fold: a committed batch is fully folded
        self.store.commit_batch(batch_id)
        return None

    def meta(self) -> DataFrame:
        """The maintained (doc_id, source, tc) token counts — the mixture
        exporter's `meta` input (sources/mixture_export.py), so maintain
        -> budget -> export composes off this view without re-tokenizing
        (equality with the docs-mode export pinned in
        tests/test_round14_additions.py)."""
        meta = self.store.read_leaf(self.spark, "meta")
        if meta is None:
            raise FileNotFoundError("no committed ingest batches")
        return meta.select("doc_id", "source", "tc")

    # -- the cut -------------------------------------------------------------
    def frames(self) -> tuple[DataFrame, DataFrame]:
        """(perdoc, ledger) from maintained state — the same pair
        release_cut_frames returns from a corpus parse, so
        sources/release_export.py:export_release writes the mountable
        shard artifact straight off the view (maintain → cut → export
        without ever re-reading history; equality with the one-shot
        export pinned in tests/test_round13_additions.py)."""
        from mapreduce_paper_implementation_spark.operators.caching import (
            scoped_persist,
        )
        from mapreduce_paper_implementation_spark.operators.dedup import (
            decontam_probe,
        )
        from mapreduce_paper_implementation_spark.operators.serving import (
            cluster_split_assign_from_tc,
        )
        from mapreduce_paper_implementation_spark.plans.release_queries import (
            _release_cut_tail,
        )

        meta = self.store.read_leaf(self.spark, "meta")
        if meta is None:
            raise FileNotFoundError("no committed ingest batches")
        grams = self.store.read_leaf(self.spark, "grams")
        cells = self.store.read_leaf(self.spark, "cells")

        lab = (
            cluster_split_assign_from_tc(
                meta.select("doc_id", "tc"), self.cc.labels()
            )
            .select("doc_id", "tc", F.col("split_c").alias("split"))
            .localCheckpoint()
        )

        # lexical boundary gate — q127's g8l/evg/lex_bad over stored grams
        g8l = scoped_persist(grams.join(lab.select("doc_id", "split"), "doc_id"))
        evg = g8l.where(F.col("split") != "train").select("gh").distinct()
        lex_bad = (
            g8l.where(F.col("split") == "train")
            .join(evg, "gh")
            .select("doc_id")
            .distinct()
            .localCheckpoint()
        )

        # semantic boundary gate — q127's assigned/ev/tr over stored cells
        assigned = scoped_persist(
            cells.join(lab.select(F.col("doc_id").alias("id"), "split"), "id")
        )
        ev = assigned.where(F.col("split") != "train").select(
            "cell",
            F.col("id").alias("eval_id"),
            F.col("vec").alias("e_vec"),
            F.col("nrm").alias("e_nrm"),
        )
        tr = assigned.where(F.col("split") == "train")
        sem_bad = (
            decontam_probe(tr, ev, self.sem_threshold)
            .select(F.col("vec_id").alias("doc_id"))
            .localCheckpoint()
        )

        return _release_cut_tail(
            lab,
            lex_bad,
            sem_bad,
            meta.select("doc_id", "source", "q"),
            n_shards=self.n_shards,
        )

    def current(self) -> DataFrame:
        """The q127-shaped (split, shard, n_docs, n_tokens, ledger) frame
        over everything ingested — computed from state through the SAME
        _release_cut_tail as the hash-gated one-shot."""
        perdoc, ledger = self.frames()
        pershard = perdoc.groupBy("split", "shard").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tc").cast("long").alias("n_tokens"),
        )
        z = F.lit(0).cast("long")
        is_tr = F.col("split") == "train"
        return (
            pershard.crossJoin(F.broadcast(ledger))
            .select(
                "split",
                "shard",
                "n_docs",
                "n_tokens",
                F.when(is_tr, F.col("lex_n")).otherwise(z).alias("n_scrubbed_lex"),
                F.when(is_tr, F.col("sem_n")).otherwise(z).alias("n_scrubbed_sem"),
                F.when(is_tr, F.col("tot_n")).otherwise(z).alias("n_scrubbed_total"),
                F.when(is_tr, F.col("qual_n")).otherwise(z).alias("n_quality_dropped"),
            )
            .orderBy("split", "shard")
        )
