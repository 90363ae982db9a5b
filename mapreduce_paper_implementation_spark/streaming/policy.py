"""Declarative self-maintenance for the streaming index maintainers
(VERDICT r05 ask #4 / r06 ask #3).

Every maintainer exposes imperative maintenance verbs — compact() on the
delta-chain maintainers (DedupIndexMaintainer, GramIndexMaintainer,
SeenKeysMaintainer, AnnIndexMaintainer), retrain() on the ANN index,
vacuum() on the versioned RollupMaintainer — but until this module only
tests called them. A production daily-ingest topology wants the POLICY
stated once, next to the maintainer, and applied automatically as batches
flow, so the pipeline self-maintains without an operator remembering to
run the verbs.

MaintainedIngest wraps one maintainer with a MaintenancePolicy and mirrors
its update() signature; after each successful (non-replay) update it
evaluates the policy and fires the verbs that are due, recording each
firing in `.events` for observability (the topology test asserts on them,
a production job would log them).

Trigger semantics — restart-safe where the state allows it:

- compact_after_n_deltas: fires when the on-disk delta chain (the batch
  dirs every chain maintainer keeps, statedir.py) reaches n dirs. Reading
  chain length from disk (an O(n)-entry listdir, no data read) makes the
  trigger restart-safe: a relaunched driver sees the same chain and the
  same decision. This is the declarative form of the "probe cost grows
  linearly with batch count" defect compact() was built for.
- retrain_occupancy_ratio (ANN only): fires when the hottest cell's
  occupancy exceeds ratio x the post-(re)train baseline — the standing
  signal that the trained centroids no longer fit the data distribution.
  Cell occupancy comes from the counts sidecar (O(cells) rows, never a
  store scan). The baseline is captured from the same sidecar at wrap
  time or after each retrain, so it, too, survives restarts.
- vacuum_keep (versioned maintainers): fires after every update, keeping
  the committed version plus `keep - 1` predecessors (statedir.py's
  vacuum rule) — bounded-disk as a standing property rather than an
  occasional chore.

Policies compose with the gating topology unchanged: the wrapper returns
update()'s DataFrame verbatim (None for replays — policy does NOT fire on
replays, so a crash-replay never doubles maintenance work).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class MaintenancePolicy:
    compact_after_n_deltas: int | None = None
    retrain_occupancy_ratio: float | None = None
    retrain_k: int | None = None  # optional larger k for policy retrains
    vacuum_keep: int | None = None


@dataclass
class MaintenanceEvent:
    batch_id: int
    action: str  # "compact" | "retrain" | "vacuum"
    detail: str


@dataclass
class MaintainedIngest:
    maintainer: object
    policy: MaintenancePolicy
    events: list[MaintenanceEvent] = field(default_factory=list)
    _occ_baseline: int | None = None

    def _committed(self) -> int | None:
        return self.maintainer.store.pointer()

    def _chain_length(self) -> int:
        return len(self.maintainer.store.batch_ids())

    def _max_occupancy(self) -> int:
        occ = self.maintainer.occupancy()
        return max(occ.values()) if occ else 0

    def update(self, batch: DataFrame, batch_id: int) -> DataFrame | None:
        # Replay detection by pointer, not return value: RollupMaintainer's
        # update returns None on success too. A replayed batch leaves the
        # pointer where it was and must never double maintenance work.
        before = self._committed()
        out = self.maintainer.update(batch, batch_id)
        if self._committed() == before and (
            before is not None and before >= batch_id
        ):
            return out
        p = self.policy

        if p.compact_after_n_deltas is not None:
            n = self._chain_length()
            if n >= p.compact_after_n_deltas:
                covered = self.maintainer.compact()
                self.events.append(
                    MaintenanceEvent(
                        batch_id, "compact", f"chain={n} covered_batch={covered}"
                    )
                )

        if p.retrain_occupancy_ratio is not None:
            cur = self._max_occupancy()
            if self._occ_baseline is None:
                # first sight (fresh wrap or relaunch): current state is the
                # baseline the ratio is judged against.
                self._occ_baseline = cur
            elif cur > p.retrain_occupancy_ratio * self._occ_baseline:
                covered = self.maintainer.retrain(k=p.retrain_k)
                self._occ_baseline = self._max_occupancy()
                self.events.append(
                    MaintenanceEvent(
                        batch_id,
                        "retrain",
                        f"max_occ={cur} baseline->{self._occ_baseline} "
                        f"covered_batch={covered}",
                    )
                )

        if p.vacuum_keep is not None:
            removed = self.maintainer.vacuum(keep=p.vacuum_keep)
            if removed:
                self.events.append(
                    MaintenanceEvent(batch_id, "vacuum", f"removed={removed}")
                )

        return out

    def __getattr__(self, name):
        # read-through to the wrapped maintainer (current(), index(), ...)
        return getattr(self.maintainer, name)
