"""MapReduce-compatibility API: run arbitrary user Map/Reduce functions.

The reference's entire UDF story is a two-function plugin surface
(/root/reference/mr/worker.go:32-33, loaded at
/root/reference/mr-main/mrworker.go:34-51):

    mapf(filename: str, contents: str) -> list[(key, value)]
    reducef(key: str, values: list[str]) -> str

``mr_run`` executes that exact contract on Spark:

    wholeTextFiles -> flatMap(mapf) -> groupByKey(n_reduce) -> mapValues(reducef)

This is the ONE place the engine deliberately uses the RDD API — the user
function is imperative per-record Python by contract, so there is nothing
for Catalyst to optimize. Differences from the reference, on purpose:

- Shuffle is Spark's (compressed, spill-safe, fault-tolerant) rather than
  `key|value` text files in /tmp (/root/reference/mr/worker.go:76-96), so
  keys containing '|' or '\\n' are not silently dropped (reference quirk,
  SURVEY.md §4.2.4).
- Re-executed tasks cannot double-append output (reference quirk §4.2.1) —
  Spark's deterministic recompute + commit protocol replaces the O_APPEND
  intermediate files.
- ``n_reduce`` maps to the number of shuffle partitions (reference pins 10,
  /root/reference/mr-main/mrcoordinator.go:25).

For anything performance-sensitive, use the DataFrame operators instead:
``mr_df_run`` shows the declarative equivalent for KV-style jobs so partial
aggregation (the combiner the reference lacks) kicks in.
"""

from __future__ import annotations


from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

MapF = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceF = Callable[[str, list[str]], str]


def mr_run(
    spark: SparkSession,
    mapf: MapF,
    reducef: ReduceF,
    input_glob: str,
    n_reduce: int = 10,
) -> DataFrame:
    """Run a MapReduce job over whole files; returns DataFrame(key, value).

    One (filename, contents) record per file — the reference's split
    semantics ("each file corresponds to one split",
    /root/reference/README.md:22). minPartitions=n_reduce spreads small
    file sets; huge single files should use the DataFrame path instead.
    """
    sc = spark.sparkContext
    files = sc.wholeTextFiles(input_glob, minPartitions=n_reduce)
    # Closures shipped to executors must be self-contained: they may reference
    # only stdlib + the user's functions (pickled by value). A reference to a
    # module-level helper of this package would require the package to be
    # importable on every executor, which a plain `sys.path` user setup
    # doesn't guarantee.
    import posixpath

    basename = posixpath.basename
    kvs = files.flatMap(lambda fc: mapf(basename(fc[0]), fc[1]))
    reduced = (
        kvs.groupByKey(numPartitions=n_reduce)
        .map(lambda kv: (kv[0], reducef(kv[0], list(kv[1]))))
    )
    return spark.createDataFrame(reduced, schema="key string, value string")


def mr_run_to_text(
    spark: SparkSession,
    mapf: MapF,
    reducef: ReduceF,
    input_glob: str,
    out_dir: str,
    n_reduce: int = 10,
) -> None:
    """mr_run + the reference's text sink: n_reduce part files of
    '"key value"' lines (format of /root/reference/mr/worker.go:156,
    "this is the correct format" per mrsequential.go:82-83). Output order
    within a file is partition-local; correctness is defined on the sorted
    union, as in the reference's tests (test-mr.sh:58)."""
    # mr_run's groupByKey already yields exactly n_reduce partitions, one
    # part file each; a repartition here would only add a shuffle.
    df = mr_run(spark, mapf, reducef, input_glob, n_reduce)
    df.rdd.map(lambda r: f"{r['key']} {r['value']}").saveAsTextFile(out_dir)


def mr_df_run(
    spark: SparkSession,
    mapf: MapF,
    input_glob: str,
    agg_expr,
    n_reduce: int = 10,
) -> DataFrame:
    """Declarative variant: user Map function + a DataFrame aggregate
    expression instead of a Reduce closure. The aggregate gets Spark's
    partial/final split (map-side combine), which a black-box reducef
    cannot."""
    sc = spark.sparkContext
    files = sc.wholeTextFiles(input_glob, minPartitions=n_reduce)
    import posixpath

    basename = posixpath.basename
    kvs = files.flatMap(lambda fc: mapf(basename(fc[0]), fc[1]))
    df = spark.createDataFrame(kvs, schema="key string, value string")
    return df.groupBy("key").agg(agg_expr)
