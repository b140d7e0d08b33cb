"""Parquet source loader for the driver's synthetic testdata (TESTDATA.md).

Spark-first: each table is a lazy ``spark.read.parquet`` DataFrame; Catalyst
pushes projections/filters down to the parquet scan, so registering all
tables as temp views costs nothing until an action runs. At cluster scale
the same code reads a partitioned table directory; nothing here collects
to the driver.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

# small dimension tables worth broadcasting in joins at any scale
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def parquet_schema(path: str):
    """pyarrow schema of a parquet file, or of the first parquet file
    directly inside a directory (footer read only); None when there is
    none or it can't be read."""
    try:
        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            inner = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
            if not inner:
                return None
            target = os.path.join(path, inner[0])
        return pq.read_schema(target)
    except Exception:  # noqa: BLE001
        return None


def ns_timestamp_columns(schema) -> list[str]:
    """Columns of a pyarrow schema stored as TIMESTAMP(NANOS)."""
    import pyarrow.types as pat

    return [
        f.name
        for f in schema or ()
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


@functools.lru_cache(maxsize=256)
def _ns_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (pyarrow inspection).

    Cached per path: testdata files are immutable for a session's lifetime
    and every load_tables call probes its tables' schemas."""
    return ns_timestamp_columns(parquet_schema(path))


def read_parquet_normalized(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with TIMESTAMP(NANOS) columns converted to µs
    timestamps (Spark rejects ns natively; with
    spark.sql.legacy.parquet.nanosAsLong they surface as long — we floor-
    divide to µs, matching DuckDB's ns→µs cast)."""
    from dbt_spark_models_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    df = spark.read.parquet(path)
    for col in _ns_timestamp_columns(path):
        if col in df.columns and isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    # Defensive: if the session still inferred TIMESTAMP_NTZ (conf applied
    # after a cached scan, or a foreign session), cast to session-tz
    # TIMESTAMP — unix_millis/unix_micros and streaming watermarks reject
    # NTZ, and the UTC session tz makes this cast value-preserving.
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Load testdata parquet tables as lazy DataFrames."""
    out: dict[str, DataFrame] = {}
    for name in names or TABLES:
        p = table_path(sf_dir, name)
        if os.path.exists(p):
            out[name] = read_parquet_normalized(spark, p)
    return out


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition to the session's default parallelism.

    Small single-file inputs arrive as ONE partition, serializing every
    downstream per-row computation; CPU-heavy stages (hashing, shingling,
    vector math) must spread first. At 100 TB inputs are already thousands
    of splits and this becomes a cheap no-op-ish rebalance; AQE coalesces
    any excess. Never changes results — only physical layout.

    ``keys`` (r11, guide §2.5): pass the table's (near-)unique key to get
    a HASH repartition instead of the keyless round-robin. A keyless
    ``repartition(n)`` pays a local sort of every input partition
    (``spark.sql.execution.sortBeforeRepartition``, on since SPARK-23207
    so retried tasks replay the same row placement); hashing a unique key
    is deterministic under retry BY CONSTRUCTION, needs no sort, and
    measured ~40% cheaper on both the documents and lineitem scans
    (0.886 s → 0.521 s at sf0.1 on lineitem). Unique keys spread evenly —
    ~N/parts rows per partition at any scale."""
    sc = df.sparkSession.sparkContext
    # Estimate the scan's partition count from file sizes (Spark splits
    # files at maxPartitionBytes): ~25ms vs ~600ms for materializing the
    # plan's RDD just to ask its partition count — that probe dominated
    # per-query overhead in the oracle harness. Fall back to the RDD probe
    # for non-file sources; unreadable (non-local) files mean a real
    # cluster fs, where inputs arrive pre-split anyway.
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001
        files = []
    if files:
        from urllib.parse import unquote, urlparse

        conf = df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"
        )
        max_bytes = int("".join(ch for ch in conf if ch.isdigit()) or "134217728")
        est = 0
        for f in files:
            path = unquote(urlparse(f).path) if "://" in f else f
            try:
                size = os.path.getsize(path)
            except OSError:
                return df
            est += max(1, -(-size // max_bytes))
        if est < sc.defaultParallelism:
            return _spread_repartition(df, keys, sc.defaultParallelism)
        return df
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return _spread_repartition(df, keys, sc.defaultParallelism)
    return df


def _spread_repartition(df: DataFrame, keys: tuple[str, ...], n: int) -> DataFrame:
    if keys:
        return df.repartition(n, *[F.col(k) for k in keys])
    return df.repartition(n)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Load and register each table as a temp view (for the SQL API)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
