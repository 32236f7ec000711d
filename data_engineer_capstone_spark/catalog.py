"""Table catalog: load driver testdata parquet and register temp views.

The driver's tables (TESTDATA.md) are: region nation customer supplier part
orders lineitem events documents embeddings — one parquet file each under a
scale-factor directory.

Scale notes (100 TB): the loader is a thin veneer over ``spark.read.parquet``
so every downstream query keeps full predicate pushdown / column pruning /
partition pruning against the files. Nothing is collected or materialized
here. The one normalization — the ``events`` nanosecond-timestamp column —
is a single projected expression that stays inside whole-stage codegen.

Harness-speed note: repeated ``spark.read.parquet`` calls re-read footers and
re-derive the schema on the driver, and at smoke scale factors the same tiny
table is scanned by hundreds of queries in one process. ``load_table``
therefore memoizes the DataFrame per (session, sf_dir, table) and — for
small files only — ``persist()``s it so correctness sweeps don't pay the
scan per query. This is a harness optimization, NOT the 100 TB story: at
scale the cache is a no-op (files exceed the size gate) and every query
plans straight against parquet with pushdown intact. ``bench.py`` disables
it (``SPARK_GRAFT_TABLE_CACHE=off``) so measured times stay comparable to
BASELINE.md, which was recorded without caching.

``TABLE_CACHE=off`` no longer re-infers schemas, though. Without a declared
schema every ``spark.read.parquet`` runs a one-task Spark job that reads a
footer and infers the schema (~150 ms per warm load at sf0.01 on 4 vCPUs,
against ~24 ms for the same load with the schema known). ``load_table``
keeps a process-wide memo of each file's inferred schema keyed by (absolute
path, size, mtime_ns), and later loads pass it to ``spark.read.schema``, so
no inference job runs. A rewritten file gets a new key and is inferred
again. The memo caches metadata, not data, so it applies whatever
``TABLE_CACHE`` says; it stores the raw file schema, read under the parquet
settings ``session.get_spark`` pins (``nanosAsLong``), before the
``events.ts`` projection. bench.py's per-query times therefore drop against
BASELINE.md for a reason that is not a plan change: BASELINE.md's loads
each paid an inference job, and bench.py's loads after a table's first pay
none.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Persist tables whose on-disk parquet is below this many bytes (smoke SFs
# only — at real scale the gate never trips and load_table is pure planning).
_PERSIST_MAX_BYTES = 64 * 1024 * 1024

_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}

# Inferred file schemas by (absolute path, size, mtime_ns).
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _session_key(spark: SparkSession) -> str:
    """Session-unique cache key. ``id(spark)`` is NOT unique across a
    session's lifetime: after a stop+GC a new session can reuse the same
    id() and receive cached DataFrames bound to the dead JVM state
    (round-2 ADVICE). applicationId+startTime is unique per SparkContext."""
    sc = spark.sparkContext
    return f"{sc.applicationId}:{sc.startTime}"


def _cache_mode() -> str:
    """'auto' (default): persist small files; 'off': never cache/persist."""
    return os.environ.get("SPARK_GRAFT_TABLE_CACHE", "auto").lower()


def clear_table_cache() -> None:
    """Unpersist and forget every cached table (test/bench hygiene)."""
    for df in _DF_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _DF_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS,false); with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a long of
    nanoseconds. We convert with integer division (``div`` — double math
    would lose precision above 2^53 ns) to microseconds, matching DuckDB's
    ``CAST(ts AS TIMESTAMP)`` truncation, and cast to TIMESTAMP_NTZ to match
    how Spark reads the other tables' ms timestamps.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if _cache_mode() == "off":
        return _read_table(spark, path, name)
    key = (_session_key(spark), os.path.abspath(sf_dir), name)
    df = _DF_CACHE.get(key)
    if df is None:
        df = _read_table(spark, path, name)
        try:
            small = os.path.getsize(path) < _PERSIST_MAX_BYTES
        except OSError:
            small = False
        if small:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
        _DF_CACHE[key] = df
    return df


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the file's schema memoized (see the
    module docstring). Directories are not memoized: their mtime does not
    change when a part file is rewritten in place."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = _read_parquet(spark, path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every testdata table as a temp view for the SQL surface."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
