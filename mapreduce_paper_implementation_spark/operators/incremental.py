"""Incremental aggregate maintenance — fold new data into materialized
rollups without rescanning history.

The property that makes continuous aggregation possible at 100 TB: for
algebraic aggregates (count, sum, min, max — and avg finished from
count+sum), the rollup of the whole equals the re-aggregation of rollups of
any partition of the data. This is the same partial/final decomposition
Spark's own HashAggregate does inside one query (the combiner the reference
lacks, reference mr/worker.go:86-89) — lifted to a user-visible operator so
it can span *jobs* (yesterday's materialized rollup + today's delta), not
just stages.

Two surfaces:

1. GENERIC column-driven merge (`merge_rollups`, `finish_avg`): caller
   brings any partial-rollup frames and names which columns add / min / max.

2. TYPED time-bucket state (`rollup_state` / `merge_states` /
   `finalize_rollup`): the timeseries-database "continuous aggregate" shape
   over the events table — per-(bucket_epoch_s, key) state carrying exact
   decimal count/sum, min/max, and an HLL distinct-user sketch.

       state = rollup_state(day1_events)         # one pass over the delta
       state = merge_states(state, rollup_state(day2_events))
       finalize_rollup(state)                    # cheap: |buckets| x |keys|

   Merge cost is O(|state|), independent of raw-data size. All state
   columns are associative+commutative (count/sum exactly; HLL sketch union
   losslessly over the sketch lattice), so ANY split of the input — by
   arrival day, by partition, by cluster — merges to bit-identical
   count/sum and identical sketches. q69 gates incremental == one-shot
   against the SQL oracle; pytest additionally pins the HLL estimate path
   (not SQL-expressible — Spark's DataSketches HLL and DuckDB's
   approx_count_distinct are different sketches).

   Sums use DECIMAL(18,4), not DOUBLE: decimal addition is exact and
   associative, so the merged total is bit-equal no matter how the input
   was split — a DOUBLE running sum would drift by summation order and
   break the incremental == batch contract the oracle checks.

The streaming twin (foreachBatch maintenance with versioned, idempotent
state) is streaming/rollup.py:RollupMaintainer.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.functions.numeric import floor_div

# ---------------------------------------------------------------------------
# 1. generic column-driven merge
# ---------------------------------------------------------------------------


def merge_rollups(
    rollups: Sequence[DataFrame],
    keys: Sequence[str],
    add_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
) -> DataFrame:
    """Re-aggregate partial rollup frames into one.

    add_cols: counts and sums (merge by SUM — exact for integers/decimals);
    min_cols / max_cols: merge by MIN / MAX. Input frames must share the
    (keys + value columns) schema; a key absent from one partial simply
    contributes nothing. One shuffle over the (small) partials, never over
    the raw data.
    """
    assert rollups, "need at least one partial rollup"
    merged = reduce(lambda a, b: a.unionByName(b), rollups)
    aggs = (
        [F.sum(c).alias(c) for c in add_cols]
        + [F.min(c).alias(c) for c in min_cols]
        + [F.max(c).alias(c) for c in max_cols]
    )
    return merged.groupBy(*keys).agg(*aggs)


def finish_avg(df: DataFrame, count_col: str, sum_col: str, out_col: str, scale: int = 4) -> DataFrame:
    """Finish an average from mergeable (count, sum) state — the reason
    rollups carry count+sum instead of avg (avg is not algebraic)."""
    return df.withColumn(
        out_col,
        F.round(F.col(sum_col) / F.col(count_col), scale).cast("double"),
    )


# ---------------------------------------------------------------------------
# 2. typed time-bucket state with HLL distinct sketch
# ---------------------------------------------------------------------------


def rollup_state(
    events: DataFrame,
    bucket_s: int = 3600,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    user_col: str = "user_id",
) -> DataFrame:
    """One pass over a delta -> mergeable state per (bucket_epoch_s, key).

    Plan shape: scan -> codegen bucket projection -> one partial+final
    hash aggregate (the HLL sketch is a Spark/DataSketches binary column,
    built JVM-side)."""
    bucket = (floor_div(F.unix_micros(ts_col), bucket_s * 1_000_000) * bucket_s).alias(
        "bucket_epoch_s"
    )
    return events.groupBy(bucket, F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_events"),
        # cast the SUM back down so every state table carries the same
        # decimal(18,4) schema and merges union cleanly in any order
        F.sum(F.col(value_col).cast("decimal(18,4)")).cast("decimal(18,4)").alias("sum_value"),
        F.min(F.col(value_col)).alias("min_value"),
        F.max(F.col(value_col)).alias("max_value"),
        F.hll_sketch_agg(F.col(user_col)).alias("users_hll"),
    )


def merge_states(*states: DataFrame) -> DataFrame:
    """Merge any number of rollup_state tables into one — one aggregation
    over the union of (small) state tables; raw data is never re-read. At
    100 TB this is the nightly-maintenance job: |state| rows in, |state|
    rows out."""
    assert states, "merge_states needs at least one state"
    unioned = states[0]
    for s in states[1:]:
        unioned = unioned.unionByName(s)
    return unioned.groupBy("bucket_epoch_s", "key").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").cast("decimal(18,4)").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.hll_union_agg("users_hll").alias("users_hll"),
    )


def finalize_rollup(state: DataFrame) -> DataFrame:
    """State -> servable rollup: exact count/sum/min/max plus the HLL
    distinct-user estimate. Cheap (|state| rows, no shuffle)."""
    return state.select(
        "bucket_epoch_s",
        "key",
        "n_events",
        "sum_value",
        "min_value",
        "max_value",
        F.hll_sketch_estimate("users_hll").alias("approx_users"),
    )


# ---------------------------------------------------------------------------
# 3. histogram quantile state — mergeable order statistics
# ---------------------------------------------------------------------------
#
# Exact quantiles are not algebraic (no bounded merge), so continuous
# aggregates carry a fixed-width bin histogram instead: the state is the
# (group..., bin) count table, merge is plain count addition (associative +
# commutative like every other column here), and finalize interpolates the
# target rank inside its bin — the same estimator as the q80 manifest query
# (plans/curation_queries.py), with the same within-bin-width error bound.
# State size is O(groups x value_range/width), independent of row count.


def hist_state(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    inv_width: int = 4,
) -> DataFrame:
    """One pass over a delta -> (group..., bin, cnt) mergeable histogram
    state. Bin width 1/inv_width is data-INdependent so any two deltas'
    states merge by addition."""
    return (
        df.select(
            *group_cols,
            F.floor(F.col(value_col) * inv_width).cast("long").alias("bin"),
        )
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantiles_from_hist(
    hist: DataFrame,
    group_cols: Sequence[str],
    quantile_ranks: Sequence[tuple[str, str]],
    inv_width: int = 4,
) -> DataFrame:
    """(group..., q, est, n_bins) — interpolate each target rank inside its
    bin. `quantile_ranks` pairs a label with an integer SQL rank expression
    over the group row count `n` (e.g. ``("p50", "(n + 1) div 2")``) — exact
    integer ceil arithmetic, never floating-point fractions. The final
    interpolation is one IEEE double expression over exact integer inputs
    (identical operation order as the q80 DuckDB oracle), rounded to 4."""
    from pyspark.sql import Window

    win = Window.partitionBy(*group_cols).orderBy("bin")
    cum = hist.withColumn("cum", F.sum("cnt").over(win))
    tot = hist.groupBy(*group_cols).agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("n_bins")
    )
    width = 1.0 / inv_width
    # all target ranks in ONE pass over tot (explode of a literal struct
    # array), not a union of per-label selects that would re-aggregate the
    # histogram once per quantile
    tgt = tot.select(
        *group_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(label).alias("q"),
                        F.expr(rank_sql).cast("long").alias("t"),
                    )
                    for label, rank_sql in quantile_ranks
                ]
            )
        ).alias("qt"),
    ).select(*group_cols, "qt.q", "qt.t")
    hit = (
        tgt.join(cum, list(group_cols))
        .where((F.col("cum") - F.col("cnt") < F.col("t")) & (F.col("cum") >= F.col("t")))
        .select(
            *group_cols,
            "q",
            F.round(
                F.col("bin").cast("double") * width
                + (F.lit(width) * (F.col("t") - (F.col("cum") - F.col("cnt")))) / F.col("cnt"),
                4,
            )
            .cast("decimal(18,4)")
            .alias("est"),
        )
    )
    return hit.join(tot.select(*group_cols, "n_bins"), list(group_cols))


# ---------------------------------------------------------------------------
# 4. histogram-bucketed tile assignment — q91's 100 TB path
# ---------------------------------------------------------------------------
#
# Exact per-group NTILE(k) is a per-group global sort: at 100 TB the
# largest group lands on one task and that task IS the job's wall-clock.
# The scale path reuses the §3 histogram state: derive the k-1 exact tile
# BOUNDARY BINS from the cumulative histogram (O(groups x bins) work),
# broadcast the O(groups x (k-1)) cutpoint table, and assign each row its
# tile with a map-side comparison against the cutpoints — no per-row sort,
# no per-group concentration, one partial-agg shuffle for the histogram.
#
# Accuracy contract (the "within-bin tolerance" q91's docstring promises):
# a row's histogram tile can differ from its exact NTILE tile ONLY when the
# row's value bin straddles a tile boundary (ranks inside one bin are
# indistinguishable without a sort). tests/test_operators.py gates exactly
# that against the NTILE truth: per (group, bin), the assigned tile lies
# within [min, max] of the exact tiles present in that bin — and bins
# containing no boundary match exactly.


def tile_cutpoints_from_hist(
    hist: DataFrame,
    group_cols: Sequence[str],
    n_tiles: int = 10,
) -> DataFrame:
    """(group..., tile k, cut_bin) for k = 1..n_tiles-1: the bin containing
    the EXACT NTILE boundary rank. SQL-standard NTILE gives the first
    (n mod k) tiles ceil(n/k) rows and the rest floor(n/k), so tile k ends
    at rank c_k = k*(n div n_tiles) + min(k, n mod n_tiles) — exact integer
    arithmetic, same discipline as quantiles_from_hist's rank expressions."""
    from pyspark.sql import Window

    win = Window.partitionBy(*group_cols).orderBy("bin")
    cum = hist.withColumn("cum", F.sum("cnt").over(win))
    tot = hist.groupBy(*group_cols).agg(F.sum("cnt").alias("n"))
    tgt = tot.select(
        *group_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        (
                            F.lit(k) * F.expr(f"n div {n_tiles}")
                            + F.least(F.lit(k), F.col("n") % n_tiles)
                        )
                        .cast("long")
                        .alias("t"),
                    )
                    for k in range(1, n_tiles)
                ]
            )
        ).alias("kt"),
    ).select(*group_cols, "kt.k", "kt.t")
    return (
        tgt.join(cum, list(group_cols))
        .where(
            (F.col("cum") - F.col("cnt") < F.col("t")) & (F.col("cum") >= F.col("t"))
        )
        .select(*group_cols, "k", F.col("bin").alias("cut_bin"))
    )


def tile_assign_via_hist(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    n_tiles: int = 10,
    inv_width: int = 4,
    hist: DataFrame | None = None,
) -> DataFrame:
    """df + a `tile` column (1..n_tiles): the map-side NTILE stand-in.

    tile = 1 + #cutpoints whose boundary bin lies strictly BELOW the row's
    bin — rows below every boundary bin are provably in tile 1, rows in a
    boundary bin take the boundary's own tile (the within-bin ambiguity),
    and a hot bin spanning several boundaries collapses those tiles into
    the first (still within the bin-tolerance contract). The cutpoint
    table is O(groups x (n_tiles-1)) and BROADCAST; assignment is one
    array comparison per row over n_tiles-1 elements — no per-group sort
    anywhere. Pass a pre-built/merged `hist` (hist_state/merge_rollups)
    to assign from maintained state instead of rescanning; a row whose
    group is ABSENT from that hist gets tile NULL (a LEFT join — an inner
    join would silently drop new groups the maintained state has not seen
    yet; NULL is honest where no distribution information exists)."""
    if hist is None:
        # built inline = lineage back to the corpus; the cutpoint pass
        # consumes it twice (cumsum + totals) — persist the bounded frame
        # or both consumers replay the corpus scan (plan audit: 3 -> 2
        # scans, the assignment join's second pass being the design).
        # A caller-passed hist is maintained state (cheap storage-backed
        # reads) and stays the caller's lifecycle choice.
        from mapreduce_paper_implementation_spark.operators.caching import (
            scoped_persist,
        )

        hist = scoped_persist(hist_state(df, group_cols, value_col, inv_width))
    cuts = (
        tile_cutpoints_from_hist(hist, group_cols, n_tiles)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("cut_bin")).alias("cut_bins"))
    )
    b = F.floor(F.col(value_col) * inv_width).cast("long")
    return (
        df.join(F.broadcast(cuts), list(group_cols), "left")
        .withColumn(
            "tile",
            F.when(
                F.col("cut_bins").isNotNull(),
                F.lit(1) + F.size(F.filter("cut_bins", lambda c: c < b)),
            ).cast("long"),
        )
        .drop("cut_bins")
    )
