"""Materialized cross-doc gram-index maintenance: the stateful twin of
operators/text_analysis.py:crossdoc_repeated_grams (q75).

The batch operator answers "what fraction of each doc's k-gram positions is
boilerplate (gram shared with >= 1 OTHER doc)?" by shuffling the whole
corpus's gram index every run. A continuous-ingest pipeline wants the same
signal per batch at O(delta) cost — which is subtle here because the signal
is RETROACTIVE: a gram that batch 1 posted uniquely becomes "repeated" the
moment batch 2 re-posts it, so batch 2 must re-emit corrected rows for the
batch-1 docs holding it (the "retroactive repeat credit").

State is a delta chain under statedir.py with three leaves, plus each
batch's emitted output delta (see below) under `updates/b{N}`:

    doc_grams/   (id, gh, npos)   — positions of gram gh in doc
    doc_totals/  (id, n_grams)    — total k-gram positions
    gram_docs/   (gh, ndocs)      — docs in THIS batch w/ gh

Each doc arrives in exactly one batch (ingest contract, same as
dedup_index.py), so per-batch (gh, id) pairs are disjoint and the global
distinct-doc count of a gram is the SUM of per-batch ndocs — the state is
mergeable by addition, which is what makes compact() a pure fold.

update(docs, batch_id) emits the batch's OUTPUT DELTA: one
(id, n_grams, n_repeated, repeated_frac) row — identical schema/rounding to
crossdoc_repeated_grams — for (a) every doc in the batch and (b) every
PRIOR doc holding a gram whose cumulative doc-count just crossed 1 -> >= 2
(the retroactive credits; grams already at >= 2 confer no new credit, so
prior docs outside (b) are provably unchanged). Latest-emission-per-doc
across batches therefore reconstructs the one-shot batch answer exactly —
the differential gate in tests/test_streaming.py. Cost is
O(|batch| + |affected prior docs|): cumulative gram counts are read
semi-joined to the batch's gram set, never scanned wholesale per doc; at
100 TB the gram_docs leaf would be bucketed by gh so that semi-join
co-locates without a shuffle.

Idempotence: a replayed batch id is a no-op returning None. compact()
folds baseline + deltas into one new baseline generation.

Reference analog: none — /root/reference (mr/worker.go) recomputes every
job from scratch; incremental view maintenance is part of this engine's
beyond-reference pipeline surface (SURVEY.md §2, VERDICT r06 ask #1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.operators.text_analysis import (
    gram_positions,
)
from mapreduce_paper_implementation_spark.statedir import VersionedStateDir

class GramIndexMaintainer:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        k: int = 10,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.k = k
        self.id_col = id_col
        self.text_col = text_col
        self.store = VersionedStateDir(state_dir)

    # -- state views -------------------------------------------------------
    def gram_counts(self) -> DataFrame | None:
        """Cumulative (gh, ndocs) over all committed batches."""
        raw = self.store.read_leaf(self.spark, "gram_docs")
        if raw is None:
            return None
        return raw.groupBy("gh").agg(F.sum("ndocs").alias("ndocs"))

    @staticmethod
    def _output_for(
        doc_grams: DataFrame, doc_totals: DataFrame, repeated: DataFrame
    ) -> DataFrame:
        """(id, n_grams, n_repeated, repeated_frac) for the given docs,
        judged against `repeated` (the gh set with cumulative ndocs >= 2).
        Same rounding pipeline as crossdoc_repeated_grams so the
        differential gate is exact equality."""
        per_doc = (
            doc_grams.join(repeated.withColumn("_r", F.lit(1)), "gh", "left")
            .groupBy("id")
            .agg(
                F.sum(
                    F.when(F.col("_r").isNotNull(), F.col("npos")).otherwise(0)
                ).alias("n_repeated")
            )
        )
        return (
            doc_totals.join(per_doc, "id", "left")
            .select(
                "id",
                F.col("n_grams").cast("bigint").alias("n_grams"),
                F.coalesce("n_repeated", F.lit(0)).cast("bigint").alias("n_repeated"),
                F.round(
                    F.coalesce("n_repeated", F.lit(0)) / F.col("n_grams"), 6
                )
                .cast("decimal(9,6)")
                .cast("double")
                .alias("repeated_frac"),
            )
        )

    def current(self) -> DataFrame | None:
        """The full materialized q75 answer over every committed doc —
        equals crossdoc_repeated_grams over the union of all batches."""
        doc_grams = self.store.read_leaf(self.spark, "doc_grams")
        if doc_grams is None:
            return None
        repeated = self.gram_counts().where(F.col("ndocs") >= 2).select("gh")
        return self._output_for(doc_grams, self.store.read_leaf(self.spark, "doc_totals"), repeated)

    def updates(self, batch_id: int) -> DataFrame:
        """The output delta a committed batch emitted (for re-reading)."""
        return self.spark.read.parquet(self.store.batch_dir(batch_id, group="updates"))

    # -- ingest ------------------------------------------------------------
    def update(self, docs: DataFrame, batch_id: int) -> DataFrame | None:
        """Fold one batch of documents into the index and emit the output
        delta (new docs + retroactively-credited prior docs). Idempotent:
        a batch id at or below the committed pointer is a no-op -> None."""
        if self.store.replayed(batch_id):
            return None
        self.store.begin_batch(batch_id, "updates")

        grams = gram_positions(docs, self.k, self.id_col, self.text_col)
        # One aggregation tree: totals and the batch's per-gram doc counts
        # both derive from doc_grams_new, persisted first and reused.
        grams.groupBy("id", "gh").agg(F.count("*").alias("npos")).write.mode(
            "overwrite"
        ).parquet(self.store.batch_dir(batch_id, "doc_grams"))
        doc_grams_new = self.spark.read.parquet(self.store.batch_dir(batch_id, "doc_grams"))
        doc_totals_new = doc_grams_new.groupBy("id").agg(
            F.sum("npos").alias("n_grams")
        )
        gram_docs_new = doc_grams_new.groupBy("gh").agg(
            F.count("*").alias("ndocs")
        )
        doc_totals_new.write.mode("overwrite").parquet(
            self.store.batch_dir(batch_id, "doc_totals")
        )
        gram_docs_new.write.mode("overwrite").parquet(
            self.store.batch_dir(batch_id, "gram_docs")
        )

        # Prior state (the pointer has NOT moved yet, so these reads see
        # exactly the pre-batch committed chain).
        prior_doc_grams = self.store.read_leaf(self.spark, "doc_grams")
        out_grams, out_totals = doc_grams_new, doc_totals_new
        if prior_doc_grams is not None:
            # Retroactive repeat credits: prior docs holding a gram whose
            # cumulative doc-count crosses 1 -> >= 2 with this batch. Prior
            # counts are read semi-joined to the batch's gram set, so the
            # cost is O(|batch| + matched), not O(|corpus|).
            batch_ghs = doc_grams_new.select("gh").distinct()
            prior_counts = (
                self.store.read_leaf(self.spark, "gram_docs")
                .join(batch_ghs, "gh", "left_semi")
                .groupBy("gh")
                .agg(F.sum("ndocs").alias("ndocs"))
            )
            crossing = prior_counts.where(F.col("ndocs") == 1).select("gh")
            affected_ids = (
                prior_doc_grams.join(crossing, "gh", "left_semi")
                .select("id")
                .distinct()
            )
            out_grams = doc_grams_new.unionByName(
                prior_doc_grams.join(affected_ids, "id", "left_semi")
            )
            out_totals = doc_totals_new.unionByName(
                self.store.read_leaf(self.spark, "doc_totals").join(affected_ids, "id", "left_semi")
            )

        # Post-batch cumulative counts, restricted to the ghs the emitted
        # docs actually hold (an affected prior doc's OTHER grams may owe
        # their repeated status entirely to prior batches).
        out_ghs = out_grams.select("gh").distinct()
        cum_sources = [gram_docs_new]
        prior_gram_docs = self.store.read_leaf(self.spark, "gram_docs")
        if prior_gram_docs is not None:
            cum_sources.append(prior_gram_docs)
        cum = cum_sources[0]
        for s in cum_sources[1:]:
            cum = cum.unionByName(s)
        repeated = (
            cum.join(out_ghs, "gh", "left_semi")
            .groupBy("gh")
            .agg(F.sum("ndocs").alias("ndocs"))
            .where(F.col("ndocs") >= 2)
            .select("gh")
        )

        out_dir = self.store.batch_dir(batch_id, group="updates")
        self._output_for(out_grams, out_totals, repeated).write.mode(
            "overwrite"
        ).parquet(out_dir)
        self.store.commit_batch(batch_id, "updates")
        return self.spark.read.parquet(out_dir)

    # -- compaction --------------------------------------------------------
    def compact(self) -> int | None:
        """Fold baseline + committed deltas into one baseline generation and
        truncate the delta chain (statedir.py's compact). gram_docs folds by
        SUM (per-batch doc sets are disjoint); the doc leaves fold by union."""

        def fold(g: int) -> None:
            for leaf, df in (
                ("doc_grams", self.store.read_leaf(self.spark, "doc_grams")),
                ("doc_totals", self.store.read_leaf(self.spark, "doc_totals")),
                ("gram_docs", self.gram_counts()),
            ):
                df.write.mode("overwrite").parquet(self.store.generation_dir(g, leaf))

        return self.store.compact(fold)
