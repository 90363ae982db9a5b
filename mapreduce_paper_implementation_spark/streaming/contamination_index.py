"""Materialized residual cross-split contamination index: the stateful twin
of q126's 8-gram audit (plans/curation_queries.py:q126, VERDICT r11
stretch #8).

The batch query answers "which eval-split docs share >= 1 distinct 8-gram
with ANY train-split doc" by shuffling the whole corpus's gram index every
run. A continuous-ingest pipeline wants the same signal per batch at
O(delta) cost — and like q75's boilerplate signal, it is RETROACTIVE: a
TRAIN-side doc arriving in batch 7 can newly contaminate an eval doc served
back in batch 2 (its gram crosses 0 -> present in the train gram set), so
batch 7 must re-emit corrected rows for those prior eval docs — exactly the
retroactive-credit discipline streaming/gram_index.py established for q75,
applied to the train/eval boundary.

Split assignment is a FROZEN function of the doc id (default: the shared
q56 rule operators/serving.py:split_of — production pins splits at release
cuts, the cluster_split_assign caveat), injectable for tests. Each doc
arrives in exactly one batch (the dedup_index/gram_index ingest contract).

State is a delta chain under statedir.py with leaves `eval_grams/`
(id, split, gh — this batch's eval-side gram sets) and `train_ghs/`
(gh — this batch's distinct train grams), plus each batch's emitted output
delta (id, split, hits) under `updates/b{N}`.

update(docs, batch_id) emits one (id, split, hits BIGINT) row — hits = how
many of the doc's distinct 8-grams are present in the CUMULATIVE train gram
set — for (a) every eval-side doc in the batch (including hits = 0, so
latest-emission-per-doc is total over served docs) and (b) every PRIOR
eval doc holding a gram that this batch's train side posts for the FIRST
time (the retroactive re-emission; grams already train-present confer no
new hit, so prior docs outside (b) are provably unchanged). Latest emission
per doc therefore reconstructs the one-shot audit exactly — the
differential gate in tests/test_contamination_index.py. Cost is
O(|batch| + |affected prior docs|): the prior train set is read semi-joined
to the batch's train grams (0 -> present crossing detection), prior eval
gram rows semi-joined to the crossing set; at 100 TB both leaves would be
bucketed by gh so the semi-joins co-locate.

Idempotence: a replayed batch id is a no-op returning None, and an id at
or below the pointer that never committed raises (statedir.py's replay
rule); compact() folds baseline + deltas (eval_grams by union — per-batch
doc sets are disjoint; train_ghs by distinct-union) into a new baseline
generation.

Reference analog: none — the reference recomputes every job from scratch
(mr/worker.go); incremental maintenance is this engine's beyond-reference
surface (SURVEY.md §2C streaming row).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.statedir import (
    VersionedStateDir,
    read_parquet,
    write_parquet,
)


class ContaminationIndexMaintainer:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        n: int = 8,
        id_col: str = "doc_id",
        text_col: str = "text",
        split_fn: Callable[[Column], Column] | None = None,
    ):
        from mapreduce_paper_implementation_spark.operators.serving import split_of

        self.spark = spark
        self.state_dir = state_dir
        self.n = n
        self.id_col = id_col
        self.text_col = text_col
        self.split_fn = split_fn or split_of
        self.store = VersionedStateDir(state_dir)

    # -- batch projection --------------------------------------------------
    def _gram_frame(self, docs: DataFrame) -> DataFrame:
        """(id, split, gh) — per-doc DISTINCT hashed n-grams with the frozen
        split (the q126 hashed-key discipline: gram text never leaves the
        map side)."""
        from mapreduce_paper_implementation_spark.functions.text import word_shingles

        return docs.select(
            F.col(self.id_col).alias("id"),
            self.split_fn(F.col(self.id_col)).alias("split"),
            F.explode(word_shingles(self.text_col, self.n)).alias("shingle"),
        ).select("id", "split", F.xxhash64("shingle").alias("gh"))

    # -- state views -------------------------------------------------------
    def train_gram_set(self) -> DataFrame | None:
        """Cumulative distinct train-side gram hashes."""
        raw = self.store.read_leaf(self.spark, "train_ghs")
        return raw.distinct() if raw is not None else None

    @staticmethod
    def _hits_for(eval_grams: DataFrame, train_set: DataFrame) -> DataFrame:
        """(id, split, hits) for the given eval gram rows judged against the
        given train gram set — hits = 0 rows kept (left join), the shape
        latest-emission reconstruction needs."""
        per_doc = (
            eval_grams.join(
                train_set.withColumn("_t", F.lit(1)), "gh", "left"
            )
            .groupBy("id", "split")
            .agg(
                F.sum(F.when(F.col("_t").isNotNull(), 1).otherwise(0))
                .cast("long")
                .alias("hits")
            )
        )
        return per_doc

    def current(self) -> DataFrame | None:
        """The full materialized audit over every committed doc: one
        (id, split, hits) row per eval-side doc that has >= 1 gram —
        equals the one-shot recompute over the union of all batches."""
        eval_grams = self.store.read_leaf(self.spark, "eval_grams")
        if eval_grams is None:
            return None
        train_set = self.train_gram_set()
        if train_set is None:
            train_set = self.spark.createDataFrame([], "gh bigint")
        return self._hits_for(eval_grams, train_set)

    def updates(self, batch_id: int) -> DataFrame:
        return read_parquet(self.spark, self.store.batch_dir(batch_id, group="updates"))

    # -- ingest ------------------------------------------------------------
    def update(self, docs: DataFrame, batch_id: int) -> DataFrame | None:
        """Fold one batch into the index and emit the output delta (new
        eval docs + retroactively re-emitted prior eval docs). Idempotent:
        a REPLAY of an already-ingested batch id is a no-op -> None; a
        NEVER-SEEN id at or below the pointer (e.g. batches 1,3 committed
        then 2 arrives) raises instead of silently dropping its docs."""
        if self.store.replayed(batch_id):
            return None
        self.store.begin_batch(batch_id, "updates")
        grams = self._gram_frame(docs)
        eval_dir = self.store.batch_dir(batch_id, "eval_grams")
        write_parquet(grams.where(F.col("split") != "train"), eval_dir)
        eval_new = read_parquet(self.spark, eval_dir)
        train_dir = self.store.batch_dir(batch_id, "train_ghs")
        write_parquet(grams.where(F.col("split") == "train").select("gh").distinct(), train_dir)
        train_new = read_parquet(self.spark, train_dir)

        # Pointer has NOT moved: these reads see the pre-batch chain.
        prior_train = self.store.read_leaf(self.spark, "train_ghs")
        prior_eval = self.store.read_leaf(self.spark, "eval_grams")

        out_grams = eval_new
        if prior_train is not None and prior_eval is not None:
            # Retroactive re-emission: grams this batch's TRAIN side posts
            # for the first time (0 -> present crossing), detected by
            # semi-joining the prior train set to the batch's train grams
            # — O(|batch| + matched), never a prior-state scan.
            crossing = train_new.join(prior_train, "gh", "left_anti")
            affected_ids = (
                prior_eval.join(crossing, "gh", "left_semi")
                .select("id")
                .distinct()
            )
            out_grams = eval_new.unionByName(
                prior_eval.join(affected_ids, "id", "left_semi")
            )

        # Post-batch cumulative train set, restricted to the grams the
        # emitted docs actually hold (an affected doc's OTHER hits may owe
        # entirely to prior train batches).
        out_ghs = out_grams.select("gh").distinct()
        cum_sources = [train_new]
        if prior_train is not None:
            cum_sources.append(prior_train)
        cum = cum_sources[0]
        for s in cum_sources[1:]:
            cum = cum.unionByName(s)
        train_set = cum.join(out_ghs, "gh", "left_semi").distinct()

        out_dir = self.store.batch_dir(batch_id, group="updates")
        write_parquet(self._hits_for(out_grams, train_set), out_dir)
        self.store.commit_batch(batch_id, "updates")
        return read_parquet(self.spark, out_dir)

    # -- compaction --------------------------------------------------------
    def compact(self) -> int | None:
        """Fold baseline + committed deltas into one baseline generation:
        eval_grams by union (per-batch doc sets disjoint), train_ghs by
        distinct-union (statedir.py's compact)."""

        def fold(g: int) -> None:
            write_parquet(
                self.store.read_leaf(self.spark, "eval_grams"),
                self.store.generation_dir(g, "eval_grams"),
            )
            write_parquet(self.train_gram_set(), self.store.generation_dir(g, "train_ghs"))

        return self.store.compact(fold)
