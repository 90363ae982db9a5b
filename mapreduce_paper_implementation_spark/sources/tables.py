"""Canonical table catalog over the driver-generated parquet fixtures.

The reference's only inputs are whole text files and a header-ful CSV
(/root/reference/mr/worker.go:58-70, /root/reference/mr-main/mrapps/credit.go:23-29).
Our engine is columnar/typed from the start: every table is Parquet with an
explicit schema, so Catalyst gets pushdown + pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins at any
# scale factor (region: 5 rows, nation: 25 rows — fixed-size in TPC-H).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

# Canonical logical schema per table — the dtype contract every query and
# oracle in the manifest assumes. The driver's fixture generator has changed
# physical encodings between rounds (events.ts: TIMESTAMP(NANOS) -> plain
# TIMESTAMP(MICROS)), and a catalog must absorb compatible drift (timestamp
# unit changes, int32<->int64, float32->float64, date->timestamp) as a cast
# instead of surfacing it as an AnalysisException in 69 queries. A column
# DISAPPEARING is not compatible drift — that errors loudly. Extra columns
# pass through untouched. `None` = take the column as stored (embeddings:
# both engines read the same file and queries cast explicitly, so forcing a
# width here would CHANGE results rather than stabilize them).
CANONICAL_SCHEMAS: dict[str, dict[str, str | None]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {"vec_id": "bigint", "embedding": None, "label": "int"},
}


def _normalize_timestamp(df: DataFrame, col: str) -> DataFrame:
    """Project a timestamp column to session-zone TimestampType regardless of
    how the writer encoded it. Fixture generators have shipped the same column
    as parquet TIMESTAMP(NANOS) (read as raw int64 nanos under the legacy
    conf) and as plain TIMESTAMP(MICROS) (read as TIMESTAMP or TIMESTAMP_NTZ);
    a catalog must read what the file gives it, so branch on the read dtype
    instead of assuming one encoding:

    - LongType: nanos-as-long → floor-divide to micros (the same truncation
      DuckDB applies when reading nanos) and build a timestamp.
    - TIMESTAMP_NTZ: cast — exact under the UTC session timezone
      (session.py pins spark.sql.session.timeZone=UTC).
    - TimestampType: already canonical, no-op.

    Every branch is a cheap per-row codegen expression, fine at any scale.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dtype = df.schema[col].dataType
    if isinstance(dtype, T.LongType):
        return df.withColumn(
            col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
        )
    if not isinstance(dtype, T.TimestampType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Compatible-drift allowlist: stored dtypes the catalog will silently cast
# to each declared dtype. Anything outside this map (string->int, struct->
# anything, ...) is a semantic fixture change, and casting it would produce
# silent all-NULL columns feeding every manifest query — that must error loudly, the
# same policy as a disappearing column. Timestamps are handled separately by
# _normalize_timestamp (long = nanos-as-long, ntz/date = zone-free recast).
_COMPATIBLE_DRIFT: dict[str, frozenset[str]] = {
    "int": frozenset({"tinyint", "smallint", "bigint"}),
    "bigint": frozenset({"tinyint", "smallint", "int"}),
    "double": frozenset({"float", "int", "bigint", "decimal"}),
    "string": frozenset(),  # a non-string arriving here is a semantic change
    "timestamp": frozenset({"bigint", "timestamp_ntz", "date"}),
}


def _normalize_table(df: DataFrame, declared: dict[str, str | None]) -> DataFrame:
    """Project a freshly-read table onto its canonical logical schema.

    When the stored dtype already matches, each column is untouched, so the
    common path adds nothing to the plan (scans, pushdown and pruning are
    exactly what they'd be without the catalog). Allowlisted drift
    (_COMPATIBLE_DRIFT: width changes, timestamp encodings) gets one codegen
    cast — timestamps via _normalize_timestamp, which also understands the
    nanos-as-long encoding. Any other stored/declared pair raises instead of
    silently casting to NULLs."""
    from pyspark.sql import functions as F

    missing = [c for c in declared if c not in df.columns]
    if missing:
        raise ValueError(
            f"table is missing declared columns {missing}; found {df.columns} "
            "— incompatible fixture regeneration, refusing to guess"
        )
    for cname, want in declared.items():
        if want is None:
            continue
        stored = df.schema[cname].dataType.simpleString()
        if stored == want:
            continue
        base = stored.split("(")[0]  # decimal(18,4) -> decimal
        if base not in _COMPATIBLE_DRIFT.get(want, frozenset()):
            raise ValueError(
                f"column {cname!r} stored as {stored} but declared {want} — "
                "not in the compatible-drift allowlist; refusing a silent "
                "cast (incompatible fixture regeneration)"
            )
        if want == "timestamp":
            df = _normalize_timestamp(df, cname)
        else:
            df = df.withColumn(cname, F.col(cname).cast(want))
    return df


# Spark's own inferred schema per source-file version; see read_source.
_INFERRED: dict[tuple, StructType] = {}


def _file_identity(path: str) -> tuple:
    """The real path of `path` plus (real path, inode, size, mtime_ns) of
    each data file it holds: the file itself, or every file of a directory
    tree outside the `_`/`.`-prefixed names Spark skips."""
    root = os.path.realpath(path)
    files = [root]
    if os.path.isdir(root):
        files = []
        for d, dirs, names in os.walk(root):
            dirs[:] = sorted(n for n in dirs if not n.startswith(("_", ".")))
            files += [os.path.join(d, n) for n in sorted(names) if not n.startswith(("_", "."))]
    stats = [(f, os.stat(f)) for f in files]
    return (root, *((f, st.st_ino, st.st_size, st.st_mtime_ns) for f, st in stats))


def read_source(spark: SparkSession, path: str) -> DataFrame:
    """The parquet table at `path`, read with the schema Spark inferred the
    first time this process read the same version of its files. Inference
    runs a footer-reading Spark job; a repeated read of an unchanged table
    in one process runs none. A rewritten file has a new inode, size or
    mtime, so it is inferred afresh."""
    try:
        key = _file_identity(path)
    except FileNotFoundError:
        return spark.read.parquet(path)  # Spark names the missing path
    schema = _INFERRED.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _INFERRED[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table and normalize it to the canonical logical
    schema (CANONICAL_SCHEMAS). Column pruning + predicate pushdown are left
    to Catalyst — callers express filters declaratively.

    The read goes through read_source: the schema is memoized per process,
    keyed by the real path, inode, size and mtime_ns of every data file, so
    only the first read of a file version pays Spark's inference job.

    The legacy nanosAsLong conf stays on so a TIMESTAMP(NANOS) fixture reads
    as int64 (then normalized by cast) instead of erroring in the vectorized
    reader."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_source(spark, os.path.join(sf_dir, f"{name}.parquet"))
    declared = CANONICAL_SCHEMAS.get(name)
    return _normalize_table(df, declared) if declared else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so queries can be written in SQL."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
