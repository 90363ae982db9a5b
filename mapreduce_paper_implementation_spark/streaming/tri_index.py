"""Incremental triangle counting: the materialized streaming twin of
operators/graph.py:count_triangles (q87).

A link graph arrives batch by batch (crawl frontier expansion, event-graph
ingest); rebuilding per-node triangle counts from ALL historical edges per
batch is O(corpus wedges). This maintainer keeps the counts materialized
and folds each edge batch in with O(|delta| x avg common-neighborhood)
compute and O(|delta|) WRITES — history is read (map-side scan of the edge
chain, no shuffle of history), never rewritten:

1. Canonicalize the batch (undirected a<b, self-loops/multiplicity
   dropped) and anti-join the committed edge chain — only truly-NEW edges
   participate (re-posted edges create no triangles).
2. Every triangle gained contains >= 1 new edge, so enumerate per new edge
   (a, b): common neighbors c with (a, c) AND (b, c) in the UNION graph
   (chain + this batch — a triangle of 2-3 new edges closes within the
   batch). A triangle with j new edges is enumerated j times; a DISTINCT
   over the canonical sorted triple (x < y < z) restores exactly-once.
   Both probes are equi-joins of the small delta against the edge chain —
   Spark broadcasts the delta, the chain never shuffles; at 100 TB the
   baseline generation is bucketed by endpoint and the probes co-locate.
3. Credit the 3 vertices of each gained triangle and persist ONLY the
   per-node increments (node, d_tri). Counts are served as the sum of the
   committed increment chain — addition is associative (the rollup.py
   property), so increments ARE the state; compact() folds chain + edges
   into one baseline generation, bounding probe fan-in and file-handle
   count.

Counts only ever increase (edges are only added — deletions would need the
signed-delta variant). The differential gate in tests/test_tri_index.py
replays planted and random batches against a full count_triangles recompute
after every batch, before and after compact().

State is a delta chain under statedir.py with leaves `edges/` (canonical
new edges accepted in batch N) and `tri/` (batch N's per-node increments
(node, d_tri)).

update() returns the increment delta (None for a replayed batch id — the
idempotence contract shared by every maintainer here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.statedir import VersionedStateDir


class TriangleMaintainer:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        src_col: str = "src",
        dst_col: str = "dst",
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.src_col = src_col
        self.dst_col = dst_col
        self.store = VersionedStateDir(state_dir)

    # -- state -------------------------------------------------------------
    def edges(self) -> DataFrame | None:
        """The committed canonical (a, b) edge set (union of the chain)."""
        return self.store.read_leaf(self.spark, "edges")

    def counts(self) -> DataFrame | None:
        """The served (node, n_tri) table: sum of the committed increment
        chain (nodes in >= 1 triangle). One aggregate over O(chain) small
        frames — compact() keeps the chain short."""
        tri = self.store.read_leaf(self.spark, "tri")
        if tri is None:
            return None
        return (
            tri.groupBy("node")
            .agg(F.sum("d_tri").cast("long").alias("n_tri"))
            .where(F.col("n_tri") > 0)
        )

    def _canon(self, batch: DataFrame) -> DataFrame:
        s, d = F.col(self.src_col), F.col(self.dst_col)
        return (
            batch.where(s != d)
            .select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
            .distinct()
        )

    def update(self, batch: DataFrame, batch_id: int) -> DataFrame | None:
        """Fold one batch of (possibly directed / duplicated) edges in;
        returns the (node, d_tri) per-node triangle increments this batch
        caused (empty frame if none). Replay of a committed batch id is a
        no-op returning None."""
        if self.store.replayed(batch_id):
            return None
        self.store.begin_batch(batch_id)

        canon = self._canon(batch)
        old_edges = self.edges()
        if old_edges is None:
            new_e = canon.localCheckpoint()
            union_edges = new_e
        else:
            new_e = canon.join(old_edges, ["a", "b"], "left_anti").localCheckpoint()
            union_edges = old_edges.unionByName(new_e)

        # symmetrized adjacency of the union graph: common-neighbor probes
        # must see both directions and same-batch edges.
        adj = union_edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                    F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")

        # per new edge (a, b): common neighbors c — an (a, c) probe then a
        # semi-join on (b, c); each is an equi-join of the delta against the
        # chain (delta broadcast, chain scanned map-side).
        cand = new_e.join(
            adj.withColumnRenamed("u", "a").withColumnRenamed("v", "c"), "a"
        ).where(F.col("c") != F.col("b"))
        tris = cand.join(
            adj.withColumnRenamed("u", "b").withColumnRenamed("v", "c"),
            ["b", "c"],
            "left_semi",
        )
        # canonical sorted triple: a triangle with j new edges arrived j
        # times (once per containing new edge) — distinct restores once.
        canon_tri = tris.select(
            F.array_sort(F.array("a", "b", "c")).alias("t")
        ).distinct()
        delta = (
            canon_tri.select(F.explode("t").alias("node"))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("d_tri"))
        )

        # O(|delta|) writes only — history is never rewritten.
        new_e.write.mode("overwrite").parquet(self.store.batch_dir(batch_id, "edges"))
        delta.write.mode("overwrite").parquet(self.store.batch_dir(batch_id, "tri"))
        self.store.commit_batch(batch_id)
        return self.spark.read.parquet(self.store.batch_dir(batch_id, "tri"))

    # -- compaction --------------------------------------------------------
    def compact(self) -> int | None:
        """Fold baseline + committed deltas into one new baseline generation
        (edges unioned, increments summed) and truncate the chain
        (statedir.py's compact)."""

        def fold(g: int) -> None:
            self.edges().write.mode("overwrite").parquet(
                self.store.generation_dir(g, "edges")
            )
            (
                self.store.read_leaf(self.spark, "tri")
                .groupBy("node")
                .agg(F.sum("d_tri").cast("long").alias("d_tri"))
                .write.mode("overwrite")
                .parquet(self.store.generation_dir(g, "tri"))
            )

        return self.store.compact(fold)
