"""Incremental PageRank serving: the maintained twin of q74
(operators/graph.py:pagerank) — VERDICT r09 ask #3. The other graph
maintainers (streaming/cc_index.py, streaming/transitions.py) cover
components and transition counts; this one keeps the LINK GRAPH itself
materialized and serves ranks without ever re-reading event history.

Two serving contracts, deliberately distinct:

1. `serve_q74()` — BIT-EXACT parity with batch q74: runs the same
   fixed-iteration integer `pagerank` kernel over the MAINTAINED edge
   state. The incremental win is the input: the raw event history (scan +
   JSON parse + distinct — the corpus-sized cost) is never re-read; each
   update folds only the delta into the stored edge set
   (anti-join probe, O(|delta| + probed buckets)).

2. warm-start CONVERGED ranks — `update()` also re-converges the rank
   vector from the PREVIOUS version's ranks (pagerank_fixpoint r0=...):
   after a small delta the old vector already sits in the contraction's
   terminal region, so the integer fixpoint arrives in measurably fewer
   rounds than a cold uniform start (the round counts are recorded per
   version and asserted in tests/test_pagerank_index.py). Quantization
   caveat documented on pagerank_fixpoint: warm and cold fixpoints agree
   only up to the floor-quantization cell (~1e-11 of mass on the events
   graph) — which is why contract 1, not this one, is the q74-parity
   surface.

State is full-state versions under statedir.py (crash-safe,
replay-idempotent). Version N holds `edges/` (distinct (src, dst) after
batch N), `ranks/` (converged (node, r)) and `META`
({"n_iters": k, "warm": bool}).

At 100 TB the edge store would be bucketed by src (rewrite only buckets
the delta touches — the cc_index note); ranks are O(|nodes|).
update() returns the convergence round count (None for a replayed batch
id — the shared idempotence contract).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.operators.graph import (
    pagerank,
    pagerank_fixpoint,
)
from mapreduce_paper_implementation_spark.statedir import (
    VersionedStateDir,
    read_parquet,
    write_parquet,
)


class PageRankMaintainer:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        src_col: str = "src",
        dst_col: str = "dst",
        scale: int = 10**12,
        damping_pct: int = 85,
        max_iter: int = 200,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.src_col = src_col
        self.dst_col = dst_col
        self.scale = scale
        self.damping_pct = damping_pct
        self.max_iter = max_iter
        self.store = VersionedStateDir(state_dir)

    def _dir(self, version: int, leaf: str) -> str:
        return self.store.version_dir(version, leaf)

    # -- state -------------------------------------------------------------
    def edges(self) -> DataFrame | None:
        v = self.store.pointer()
        if v is None:
            return None
        return read_parquet(self.spark, self._dir(v, "edges"))

    def ranks(self) -> DataFrame | None:
        """Committed converged (node, r) vector."""
        v = self.store.pointer()
        if v is None:
            return None
        return read_parquet(self.spark, self._dir(v, "ranks"))

    def meta(self, version: int | None = None) -> dict | None:
        v = self.store.pointer() if version is None else version
        if v is None:
            return None
        with open(self._dir(v, "META"), encoding="ascii") as fh:
            return json.load(fh)

    def update(self, delta_edges: DataFrame, batch_id: int) -> int | None:
        """Fold one batch of (src, dst) edges in, then re-converge the rank
        vector warm-started from the previous version's ranks. Returns the
        number of fixpoint rounds the warm re-convergence took (None for a
        replayed batch id — idempotence by version check, never by merge).
        """
        committed = self.store.pointer()
        if committed is not None and committed >= batch_id:
            return None
        delta = (
            delta_edges.select(
                F.col(self.src_col).alias("src"), F.col(self.dst_col).alias("dst")
            )
            .where(F.col("dst").isNotNull())
            .distinct()
        )
        prior_edges = self.edges()
        if prior_edges is None:
            merged = delta
        else:
            # O(delta) probe: only genuinely new edges join the store —
            # a re-sent edge is a no-op row, so overlapping ingest is safe
            # (set semantics, like user_day_maintainer).
            new_rows = delta.join(prior_edges, ["src", "dst"], "left_anti")
            merged = prior_edges.unionByName(new_rows)
        write_parquet(merged, self._dir(batch_id, "edges"))
        edges_committed = read_parquet(self.spark, self._dir(batch_id, "edges"))

        warm = self.ranks() is not None
        ranks_df, n_iters = pagerank_fixpoint(
            edges_committed,
            scale=self.scale,
            damping_pct=self.damping_pct,
            r0=self.ranks().select("node", "r") if warm else None,
            max_iter=self.max_iter,
        )
        if n_iters is None:
            raise RuntimeError(
                f"pagerank_fixpoint hit max_iter={self.max_iter} without an "
                "integer fixpoint — raise max_iter (diameter-bound graphs)"
            )
        write_parquet(
            ranks_df.select("node", F.col("rank_scaled").alias("r")), self._dir(batch_id, "ranks")
        )
        with open(self._dir(batch_id, "META"), "w", encoding="ascii") as fh:
            json.dump({"n_iters": n_iters, "warm": warm}, fh)
        self.store.commit(batch_id, publish=[self.store.version_dir(batch_id)])
        return n_iters

    # -- serving -----------------------------------------------------------
    def serve_q74(self, iters: int = 3) -> DataFrame:
        """Batch-q74 parity surface: the SAME fixed-iteration integer
        kernel over the maintained edge state — bit-exact vs a full
        recompute, because the maintained edge set IS the distinct edge
        set the batch query derives (differentially gated after every
        batch in tests/test_pagerank_index.py)."""
        edges = self.edges()
        if edges is None:
            raise ValueError("no committed state")
        return pagerank(
            edges, iters=iters, scale=self.scale, damping_pct=self.damping_pct
        )

    def serve_converged(self) -> DataFrame:
        """(node, rank_scaled, rank) from the committed converged vector —
        a read of state, no iteration at serving time."""
        r = self.ranks()
        if r is None:
            raise ValueError("no committed state")
        return r.select(
            "node",
            F.col("r").alias("rank_scaled"),
            (F.col("r").cast("double") / F.lit(float(self.scale))).alias("rank"),
        )

    def vacuum(self, keep: int = 1) -> list[int]:
        """Drop superseded versions (statedir.py's vacuum rule). Returns
        removed version ids."""
        return self.store.vacuum(keep)
