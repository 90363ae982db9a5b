"""Versioned state directories: the one on-disk layout and commit rule every
streaming maintainer and release exporter shares.

A task's output becomes visible by one atomic rename (MapReduce §3.3). Here
the renamed file is a small ascii POINTER naming the committed version; the
data it names is written first, under a directory no reader looks at until
the pointer moves:

    root/
      _CURRENT               committed version / high-water batch id
      _BASELINE              batch id the compacted baseline covers
      _EVAL, _CENTROIDS      other named generation pointers
      v{N}/<leaf>/           full-state layout: version N holds all state
      <group>/v{N}/          the same, nested (decontam's contam/ versions)
      batches/b{N}/<leaf>/   delta-chain layout: batch N's delta
      batches/b{N}/_COMMITTED  marker, written after every write of batch N
      baseline/g{N}/<leaf>/  chain folded through batch N (compact)
      <group>/g{N}/          other generations (eval index, centroids)
      <group>/b{N}/          per-batch outputs (dups, updates, seen)

Rules, decided here and nowhere else:

- COMMIT. Before a pointer moves, every file under the dirs the commit
  publishes is fsync'd (Spark does not fsync its parquet output), then the
  value goes to `<ptr>.tmp`, which is fsync'd, renamed onto the pointer,
  and the directory fsync'd. A crash leaves either the old pointer or the
  new one, and the new one never names data that a power cut can lose.
- TORN POINTER. A pointer that does not parse raises ValueError naming the
  file and the bytes read. There is no fall-back to the newest directory: a
  dir above the pointer may be an in-flight write. A leftover `<ptr>.tmp`
  is ignored by readers and overwritten by the next commit.
- REPLAY. foreachBatch is at-least-once. A full-state batch at or below the
  pointer is a no-op. A chain batch at or below it is a no-op when its
  marker exists or the baseline covers it; any other id there was never
  ingested, and `replayed` raises rather than silently dropping it.
- RESIDUE. A chain read sees only the baseline plus MARKED batch dirs up to
  the pointer; `begin_batch` purges unmarked dirs (crash residue) before a
  new batch writes, so no later commit can expose a half-written batch.
- VACUUM(keep). Keeps the committed version plus `keep - 1` predecessors
  and never touches a version above the pointer.
- SCHEMA. Every parquet leaf under a root is written by `write_parquet`,
  which records the schema a reader sees in `<leaf>/_schema.json` (the `_`
  prefix hides it from Spark, pyarrow and DuckDB globs; the commit that
  publishes the leaf fsyncs it with the data), and read by `read_parquet`,
  which hands that schema to the reader, so planning a state read runs no
  footer-inference job. A leaf without the file (written before it
  existed) is read by inference; that is the only fall-back. A file that
  does not parse raises ValueError naming it, like a torn pointer.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

CURRENT = "_CURRENT"
BASELINE = "_BASELINE"
EVAL = "_EVAL"
CENTROIDS = "_CENTROIDS"
MARKER = "_COMMITTED"
SCHEMA = "_schema.json"


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _fsync_tree(path: str) -> None:
    for d, _, files in os.walk(path):
        for f in files:
            _fsync(os.path.join(d, f))
        _fsync(d)
    _fsync(os.path.dirname(path))


def write_parquet(df: DataFrame, path: str, *partition_by: str) -> None:
    """Write `df` as the parquet leaf `path` (replacing it), then record the
    schema a reader of it sees (SCHEMA rule). Partition columns are left out
    of the record: the reader takes their names and types from the
    directory names, as an inferring reader does, and appends them."""
    writer = df.write.mode("overwrite")
    (writer.partitionBy(*partition_by) if partition_by else writer).parquet(path)
    data = StructType([f for f in df.schema.fields if f.name not in partition_by])
    with open(os.path.join(path, SCHEMA), "w", encoding="utf-8") as fh:
        fh.write(data.json())


def _recorded_schema(path: str) -> StructType | None:
    """The schema `write_parquet` recorded for leaf `path`; None if the leaf
    has no record; ValueError naming the file if the record does not parse."""
    rec = os.path.join(path, SCHEMA)
    try:
        with open(rec, "rb") as fh:
            raw = fh.read()
    except FileNotFoundError:
        return None
    try:
        return StructType.fromJson(json.loads(raw))
    except (ValueError, KeyError, TypeError, AttributeError) as e:
        raise ValueError(f"torn schema record {rec}: read {raw[:80]!r}") from e


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """The parquet leaves `paths` as one DataFrame, read with the schema
    `write_parquet` recorded (no inference job); by inference when any leaf
    has no record."""
    schemas = [_recorded_schema(p) for p in paths]
    if any(s is None for s in schemas):
        return spark.read.parquet(*paths)
    return spark.read.schema(schemas[0]).parquet(*paths)


class VersionedStateDir:
    """The state rooted at `root` (created lazily by the first write)."""

    def __init__(self, root: str):
        self.root = root

    # -- pointers -----------------------------------------------------------
    def values(self, name: str = CURRENT) -> tuple[int, ...] | None:
        """The integers stored in pointer `name`, or None if never committed."""
        path = os.path.join(self.root, name)
        try:
            with open(path, "rb") as fh:
                raw = fh.read()
        except FileNotFoundError:
            return None
        try:
            vals = tuple(int(t) for t in raw.decode("ascii").split())
        except (UnicodeDecodeError, ValueError):
            vals = ()
        if not vals:
            raise ValueError(f"torn state pointer {path}: read {raw!r}")
        return vals

    def pointer(self, name: str = CURRENT) -> int | None:
        """The (first) integer in pointer `name`: the committed version or
        high-water batch id."""
        vals = self.values(name)
        return None if vals is None else vals[0]

    def commit(
        self, *values: int, name: str = CURRENT, publish: Iterable[str] = ()
    ) -> None:
        """Durably publish `publish` dirs, then atomically move pointer
        `name` to `values`."""
        for d in publish:
            _fsync_tree(d)
        os.makedirs(self.root, exist_ok=True)
        path = os.path.join(self.root, name)
        with open(path + ".tmp", "w", encoding="ascii") as fh:
            fh.write(" ".join(str(v) for v in values))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(path + ".tmp", path)
        _fsync(self.root)

    # -- paths --------------------------------------------------------------
    def version_dir(self, v: int, *leaf: str, group: str = "") -> str:
        return os.path.join(self.root, group, f"v{v:010d}", *leaf)

    def generation_dir(self, g: int, *leaf: str, group: str = "baseline") -> str:
        return os.path.join(self.root, group, f"g{g:010d}", *leaf)

    def batch_dir(self, b: int, *leaf: str, group: str = "batches") -> str:
        return os.path.join(self.root, group, f"b{b:010d}", *leaf)

    def marker_path(self, b: int) -> str:
        return self.batch_dir(b, MARKER)

    def _ids(self, prefix: str, group: str) -> list[int]:
        try:
            names = os.listdir(os.path.join(self.root, group))
        except FileNotFoundError:
            return []
        return sorted(
            int(d[1:]) for d in names if d.startswith(prefix) and d[1:].isdigit()
        )

    # -- full-state versions ------------------------------------------------
    def next_version(self) -> int:
        """The version an exporter writes next: one past the committed one."""
        return (self.pointer() or 0) + 1

    def current_dir(self) -> str:
        """The committed version's dir; FileNotFoundError if none."""
        v = self.pointer()
        if v is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        return self.version_dir(v)

    def vacuum(
        self, keep: int = 1, committed: int | None = None, group: str = ""
    ) -> list[int]:
        """Drop versions below the committed one except the `keep - 1`
        newest; returns the removed ids. `committed` defaults to _CURRENT."""
        if committed is None:
            committed = self.pointer()
        if committed is None:
            return []
        below = [v for v in self._ids("v", group) if v <= committed]
        removed = below[: -max(keep, 1)]
        for v in removed:
            shutil.rmtree(self.version_dir(v, group=group))
        return removed

    # -- delta chain --------------------------------------------------------
    def batch_ids(self) -> list[int]:
        """Every batch dir on disk, marked or not."""
        return self._ids("b", "batches")

    def committed_dirs(self, leaf: str) -> list[str]:
        """Dirs holding the committed state of `leaf`: the baseline (if any)
        plus every marked batch above it, up to the pointer."""
        committed = self.pointer()
        if committed is None:
            return []
        baseline = self.pointer(BASELINE)
        dirs = [] if baseline is None else [self.generation_dir(baseline, leaf)]
        floor = -1 if baseline is None else baseline
        return dirs + [
            self.batch_dir(b, leaf)
            for b in self.batch_ids()
            if floor < b <= committed and os.path.exists(self.marker_path(b))
        ]

    def read_leaf(self, spark, leaf: str):
        """The committed state of `leaf` as one DataFrame, or None."""
        dirs = self.committed_dirs(leaf)
        return read_parquet(spark, *dirs) if dirs else None

    def replayed(self, batch_id: int) -> bool:
        """True for a replay of a committed chain batch (a no-op); False for
        a new one; raises for an id at or below the pointer that never
        committed."""
        committed = self.pointer()
        if committed is None or batch_id > committed:
            return False
        baseline = self.pointer(BASELINE)
        if os.path.exists(self.marker_path(batch_id)) or (
            baseline is not None and batch_id <= baseline
        ):
            return True
        raise ValueError(
            f"batch_id {batch_id} is at or below the committed pointer "
            f"({committed}) but was never ingested — refusing the silent "
            "no-op that would drop this batch; batch ids must be issued "
            "monotonically"
        )

    def begin_batch(self, batch_id: int, *outputs: str) -> None:
        """Purge crash residue before batch `batch_id` writes: every unmarked
        batch dir (with its dirs under the `outputs` groups) and any earlier
        attempt at this id."""
        for b in self.batch_ids():
            if b == batch_id or not os.path.exists(self.marker_path(b)):
                for group in ("batches", *outputs):
                    shutil.rmtree(self.batch_dir(b, group=group), ignore_errors=True)

    def mark_batch(self, batch_id: int) -> None:
        """Write batch `batch_id`'s marker; call after every write of it."""
        os.makedirs(self.batch_dir(batch_id), exist_ok=True)
        with open(self.marker_path(batch_id), "w", encoding="ascii") as fh:
            fh.write("1")

    def commit_batch(self, batch_id: int, *outputs: str) -> None:
        """Mark batch `batch_id` complete and move _CURRENT onto it; call
        after every write of the batch, including its `outputs` dirs."""
        self.mark_batch(batch_id)
        published = [self.batch_dir(batch_id, group=g) for g in ("batches", *outputs)]
        self.commit(batch_id, publish=[d for d in published if os.path.isdir(d)])

    def compact(self, fold: Callable[[int], None]) -> int | None:
        """Fold the committed chain into baseline generation N = _CURRENT:
        `fold(N)` writes its leaves under generation_dir(N); then publish.
        Returns N (None if nothing is committed); a repeat is a no-op.
        A crash before the publish leaves the new generation invisible."""
        committed = self.pointer()
        if committed is not None and self.pointer(BASELINE) != committed:
            fold(committed)
            self.publish_baseline(committed)
        return committed

    def publish_baseline(self, g: int) -> None:
        """Move _BASELINE onto generation `g` (written under
        generation_dir(g)), then drop the chain it folds and older
        generations. Readers stop seeing those before they are deleted."""
        self.commit(g, name=BASELINE, publish=[self.generation_dir(g)])
        for b in self.batch_ids():
            if b <= g:
                shutil.rmtree(self.batch_dir(b), ignore_errors=True)
        for old in self._ids("g", "baseline"):
            if old < g:
                shutil.rmtree(self.generation_dir(old), ignore_errors=True)
