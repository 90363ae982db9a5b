"""Streaming semantic-decontamination serving — q116's incremental twin
(VERDICT r10 ask #3).

The batch query (operators/dedup.py:semantic_decontaminate) gates the WHOLE
corpus against the eval slice in one shot. In production the eval set is
small and static per benchmark release while corpus batches arrive daily —
so the serving shape is: freeze the trained centroids and the cell-assigned
eval index ONCE per release (the streaming/ann_index.py frozen-centroid
discipline), then score each arriving batch map-side against the broadcast
eval index and fold the per-batch contaminated-doc DELTA into versioned
state. Because each vector's verdict depends only on itself and the frozen
eval index (operators/dedup.py:decontam_probe — the exact code path batch
q116 runs), union-over-batches equals the one-shot result BIT-exactly,
which the differential test pins (tests/test_decontam_index.py).

State lives under statedir.py (replayed batches no-op):

- the delta chain's ``cells`` leaf — each batch's cell-assigned vectors
  (id, cell, vec, nrm): the retrain() input. Append-only per batch; never
  rewritten, so per-batch ingest cost is O(|batch|), never O(history).
- full-state versions under ``contam/`` — cumulative (vec_id, n_eval_hits,
  max_eval_cos). Each version = previous ∪ the new batch's delta (batches
  are vec-disjoint by the additive-maintainer precondition).
- generations under ``eval/`` — the cell-assigned eval index, named by the
  ``_EVAL`` pointer.

The commit pointer ``_CURRENT`` holds BOTH the last ingested batch id (the
replay/idempotence check) and the contam state version (which retrain()
bumps independently of batch ids) — one file, one atomic commit, so a
crash can never commit one without the other.

retrain(new_eval, gen) — the eval set was RE-RELEASED: build the new
eval-index generation under the SAME frozen centroids (re-clustering the
corpus is ann_index.retrain's job, deliberately out of scope here) and
re-probe the ENTIRE maintained cells store against it, REPLACING the
contaminated state. Cost is O(|stored corpus assignments|) with zero
corpus re-read — the assignments ARE the state, exactly why they are kept.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.statedir import EVAL, VersionedStateDir


class DecontamIndexMaintainer:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        centroids: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        nassign: int = 2,
        threshold: float = 0.35,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.id_col = id_col
        self.vec_col = vec_col
        self.nassign = nassign
        self.threshold = threshold
        self.store = VersionedStateDir(state_dir)
        cdir = os.path.join(state_dir, "centroids")
        if not os.path.exists(cdir):
            # frozen at construction: every batch and every eval generation
            # must share cell boundaries or stored assignments go stale
            centroids.write.mode("overwrite").parquet(cdir)

    def _committed(self) -> tuple[int, int] | None:
        """(last ingested batch id, contam state version) or None."""
        return self.store.values()

    def _contam_dir(self, version: int) -> str:
        return self.store.version_dir(version, group="contam")

    # -- index pieces --------------------------------------------------------
    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.state_dir, "centroids"))

    def _assign(self, emb: DataFrame) -> DataFrame:
        """(id, cell, vec, nrm) under the frozen centroids — the IDENTICAL
        assign_cells + norm path one-shot q116 runs, so stored batch
        assignments and the eval index can never drift from batch cell
        boundaries."""
        from mapreduce_paper_implementation_spark.functions.vectors import norm
        from mapreduce_paper_implementation_spark.operators.dedup import assign_cells

        return assign_cells(
            emb, self.centroids(), nassign=self.nassign,
            id_col=self.id_col, vec_col=self.vec_col,
        ).withColumn("nrm", norm(F.col("vec")))

    def set_eval(self, eval_emb: DataFrame, gen: int) -> None:
        """Install eval-index generation `gen` (a benchmark release): cell-
        assign the eval vectors under the frozen centroids and store the
        broadcastable (cell, eval_id, e_vec, e_nrm) index."""
        ev = self._assign(eval_emb).select(
            "cell",
            F.col("id").alias("eval_id"),
            F.col("vec").alias("e_vec"),
            F.col("nrm").alias("e_nrm"),
        )
        ev_dir = self.store.generation_dir(gen, group="eval")
        ev.write.mode("overwrite").parquet(ev_dir)
        self.store.commit(gen, name=EVAL, publish=[ev_dir])

    def eval_index(self) -> DataFrame:
        gen = self.store.pointer(EVAL)
        if gen is None:
            raise ValueError("no eval generation installed; call set_eval first")
        return self.spark.read.parquet(self.store.generation_dir(gen, group="eval"))

    def cells(self) -> DataFrame | None:
        return self.store.read_leaf(self.spark, "cells")

    # -- ingest ----------------------------------------------------------------
    def update(self, batch_emb: DataFrame, batch_id: int) -> None:
        """Fold one corpus batch: assign cells (frozen centroids), probe
        map-side vs the broadcast eval index (decontam_probe — the batch
        q116 code path), append the assignment delta, fold the
        contaminated delta into versioned state. O(|batch|): history is
        never re-read. Idempotent under replay via the committed batch id.
        PRECONDITION (like every additive maintainer): batches partition
        vectors disjointly."""
        from mapreduce_paper_implementation_spark.operators.caching import (
            persist_scope,
            scoped_persist,
        )
        from mapreduce_paper_implementation_spark.operators.dedup import (
            decontam_probe,
        )

        if self.store.replayed(batch_id):
            return
        self.store.begin_batch(batch_id)
        committed = self._committed()
        cver = committed[1] + 1 if committed is not None else 0
        with persist_scope():
            # two consumers (cells write + probe) — persist the assignment
            assigned = scoped_persist(self._assign(batch_emb))
            assigned.write.mode("overwrite").parquet(
                self.store.batch_dir(batch_id, "cells")
            )
            delta = decontam_probe(assigned, self.eval_index(), self.threshold)
            prev = self.contaminated()
            state = delta if prev is None else prev.unionByName(delta)
            state.write.mode("overwrite").parquet(self._contam_dir(cver))
        self.store.mark_batch(batch_id)
        self.store.commit(
            batch_id,
            cver,
            publish=[self.store.batch_dir(batch_id), self._contam_dir(cver)],
        )

    # -- serving -----------------------------------------------------------------
    def contaminated(self) -> DataFrame | None:
        committed = self._committed()
        if committed is None:
            return None
        return self.spark.read.parquet(self._contam_dir(committed[1]))

    def serve(self) -> DataFrame | None:
        """q116's output shape from maintained state."""
        c = self.contaminated()
        return None if c is None else c.orderBy("vec_id")

    def vacuum(self, keep: int = 1) -> list[int]:
        """Drop superseded contam versions (statedir.py's vacuum rule; the
        cells store is the index — never vacuumed here)."""
        committed = self._committed()
        if committed is None:
            return []
        return self.store.vacuum(keep, committed=committed[1], group="contam")

    # -- eval re-release --------------------------------------------------------
    def retrain(self, new_eval_emb: DataFrame, gen: int) -> None:
        """The eval set was re-released: install the new eval-index
        generation and re-score the ENTIRE maintained assignment store
        against it, replacing the contaminated state — O(state), zero
        corpus re-read. Future update() batches probe the new generation
        automatically (the pointer moved)."""
        from mapreduce_paper_implementation_spark.operators.dedup import (
            decontam_probe,
        )

        committed = self._committed()
        self.set_eval(new_eval_emb, gen)
        if committed is None:
            return
        last_batch, cver = committed
        rescored = decontam_probe(self.cells(), self.eval_index(), self.threshold)
        rescored.write.mode("overwrite").parquet(self._contam_dir(cver + 1))
        self.store.commit(last_batch, cver + 1, publish=[self._contam_dir(cver + 1)])
