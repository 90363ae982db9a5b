"""Release shard exporter (VERDICT r12 ask #2): turn the q127 release cut
from a DataFrame into the on-disk artifact a training loader actually
mounts — per-(split, shard) parquet part files plus a counts/ledger
manifest, committed behind an atomic version pointer.

Layout: full-state versions under statedir.py; version N holds
`data/split=train/shard=0/part-*.parquet` (hive-partitioned docs) and
`manifest.json` (counts + scrub ledger).

The manifest is the loader's integrity contract: for every (split, shard)
it records n_docs and n_tokens AGGREGATED FROM THE SAME LINEAGE that wrote
the files (plans/release_queries.py:release_cut_frames returns both the
per-doc frame and the scrub ledger; q127's hash-gated output is the same
aggregate), so "manifest counts == files" and "manifest ledger == q127
ledger" hold by construction and are re-read-verified in
tests/test_round13_additions.py.

Scale shape: the data write is one hive-partitioned parquet job — fully
parallel over (split, shard), each task writing its own directory through
Spark's commit protocol (task attempts land in _temporary and are
promoted atomically per job, so a failed executor can never leave a torn
shard). The manifest aggregate is the bounded (splits x shards)-row
groupBy q127 already runs. Driver-side state is only that bounded counts
list. A crash anywhere before the final pointer rename leaves the
previous version as the visible release — readers never observe a
half-written cut.

Reference analog: mr-out-X as the job's real product
(/root/reference/mr-main/mr/worker.go:148-157), done ATOMICALLY — which
the reference's direct os.Create notably is not (worker.go:141-146); the
version pointer is this engine's fix for exactly that gap, same as
sources/textkv_datasource.py's temp-file rename at file grain.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.statedir import (
    VersionedStateDir,
    read_parquet,
    write_parquet,
)



def export_release(
    perdoc: DataFrame,
    ledger: DataFrame,
    out_dir: str,
    payload: DataFrame | None = None,
) -> int:
    """Write one release version; returns its number.

    `perdoc`: (doc_id, tc, split, shard) — release_cut_frames' assignment.
    `ledger`: the one-row (lex_n, sem_n, tot_n, qual_n) scrub ledger.
    `payload`: optional (doc_id, ...) columns — e.g. the documents table's
    text/source — joined in so the shards carry the training payload, not
    just ids. The join is on the shard assignment's own key, so it cannot
    change the manifest counts (inner join on a superset payload; a doc
    missing from `payload` would drop rows and break the re-read gate —
    the publisher owns that match, same contract as the CC/ANN cuts).

    Order of operations (crash-safe): data parquet -> counts collect ->
    manifest.json -> pointer commit LAST."""
    store = VersionedStateDir(out_dir)
    version = store.next_version()
    vdir = store.version_dir(version)

    # perdoc feeds the data write AND the counts aggregate — localCheckpoint
    # so the two consumers read one materialized assignment (the exact
    # boundary-consistency discipline of operators/sort.py:global_rank;
    # also saves recomputing the whole composed cut twice).
    perdoc = perdoc.localCheckpoint(eager=True)
    data = perdoc if payload is None else perdoc.join(payload, "doc_id")
    write_parquet(data, os.path.join(vdir, "data"), "split", "shard")

    counts = [
        {
            "split": r["split"],
            "shard": int(r["shard"]),
            "n_docs": int(r["n_docs"]),
            "n_tokens": int(r["n_tokens"]),
        }
        for r in perdoc.groupBy("split", "shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tc").cast("long").alias("n_tokens"),
        )
        .orderBy("split", "shard")
        .collect()  # bounded: |splits| x |shards| rows
    ]
    led = ledger.collect()[0].asDict()
    manifest = {
        "version": version,
        "shards": counts,
        "totals": {
            "n_docs": sum(c["n_docs"] for c in counts),
            "n_tokens": sum(c["n_tokens"] for c in counts),
        },
        "ledger": {k: int(v) for k, v in led.items()},
    }
    with open(os.path.join(vdir, "manifest.json"), "w", encoding="ascii") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)

    store.commit(version, publish=[vdir])
    return version


def export_packed_release(
    spark: SparkSession,
    perdoc: DataFrame,
    out_dir: str,
    cap: int = 512,
    n_shards_pack: int = 4,
) -> int:
    """Packed-sequence release artifact (VERDICT r13 stretch #7): q59's
    greedy fixed-token-budget packing composed onto the release cut — the
    loader-facing artifact ONE step past doc shards (bins are what a
    fixed-context training loader actually consumes; docs->bins is the
    ledger a data-order replay needs).

    `perdoc`: (doc_id, tc, split, shard) — release_cut_frames' assignment
    or ReleaseCutView.frames()[0] (maintain -> cut -> pack -> export
    without a corpus re-read). Packing runs per (split, shard) stream via
    operators/packing.py:pack_bins — the q59 recurrence exactly, with its
    internal n_shards_pack sub-sharding so no Python worker holds more
    than one sub-shard (bin ids stay dense per (split, shard) through the
    bounded offset renumber). Layout as export_release, with data rows
    (doc_id, tc, bin_id) and a manifest of per-(split, shard)
    n_bins/n_docs/n_tokens + cap and fill ratio (tokens / bins*cap).

    Equality with the inline q59 recurrence over the same cut corpus is
    pinned in tests/test_round14_additions.py; bin-capacity and dense-id
    properties likewise."""
    from mapreduce_paper_implementation_spark.operators.packing import pack_bins

    store = VersionedStateDir(out_dir)
    version = store.next_version()
    vdir = store.version_dir(version)

    key = F.concat_ws("|", F.col("split"), F.col("shard").cast("string"))
    packed = pack_bins(
        perdoc.select(key.alias("source"), "doc_id", "tc"),
        cap=cap,
        n_shards=n_shards_pack,
    )
    parts = F.split(F.col("source"), r"\|")
    packed = packed.select(
        parts.getItem(0).alias("split"),
        parts.getItem(1).cast("long").alias("shard"),
        "doc_id",
        "tc",
        "bin_id",
    ).localCheckpoint(eager=True)  # one assignment feeds files AND counts
    write_parquet(packed, os.path.join(vdir, "data"), "split", "shard")

    counts = [
        {
            "split": r["split"],
            "shard": int(r["shard"]),
            "n_bins": int(r["n_bins"]),
            "n_docs": int(r["n_docs"]),
            "n_tokens": int(r["n_tokens"]),
            "fill": round(r["n_tokens"] / (r["n_bins"] * cap), 4),
        }
        for r in packed.groupBy("split", "shard")
        .agg(
            F.countDistinct("bin_id").cast("long").alias("n_bins"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tc").cast("long").alias("n_tokens"),
        )
        .orderBy("split", "shard")
        .collect()  # bounded: |splits| x |shards| rows
    ]
    manifest = {
        "version": version,
        "cap": cap,
        "shards": counts,
        "totals": {
            "n_bins": sum(c["n_bins"] for c in counts),
            "n_docs": sum(c["n_docs"] for c in counts),
            "n_tokens": sum(c["n_tokens"] for c in counts),
        },
    }
    with open(os.path.join(vdir, "manifest.json"), "w", encoding="ascii") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)

    store.commit(version, publish=[vdir])
    return version


def read_packed_release(spark: SparkSession, out_dir: str) -> tuple[DataFrame, dict]:
    """Load the CURRENT packed release: (bins DataFrame, manifest)."""
    return read_release(spark, out_dir)


def read_release(
    spark: SparkSession, out_dir: str
) -> tuple[DataFrame, dict]:
    """Load the CURRENT release version: (docs DataFrame, manifest dict).
    split/shard come back as typed columns (partition values); shard is
    re-cast long to match the writer's schema exactly."""
    vdir = VersionedStateDir(out_dir).current_dir()
    df = read_parquet(spark, os.path.join(vdir, "data")).withColumn(
        "shard", F.col("shard").cast("long")
    )
    with open(os.path.join(vdir, "manifest.json"), encoding="ascii") as fh:
        manifest = json.load(fh)
    return df, manifest
