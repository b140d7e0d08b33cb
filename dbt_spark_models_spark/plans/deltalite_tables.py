"""DeltaLite as the framework's ``file_format='delta'`` table format.

The reference declares delta on 197 model/snapshot configs (e.g.
``snapshots/spark/b2b_mart/scd2_merchant_orders_v2_snapshot.sql:8-15``)
and relies on delta semantics: atomic commits, MERGE, time travel,
dynamic partition overwrite. With the Delta Lake jars on the classpath
the engine uses them directly; in a jar-free environment (this container)
models used to fall back silently to parquet — losing ACID and history.
This module routes those models through ``sources/deltalite`` instead.

Name resolution: a DeltaLite table is a directory + ``_delta_log``, not a
catalog table, so downstream SQL can't hit it via ``db.table``. The
runner resolves refs to a session TEMP VIEW attached here after every
commit. The view is a plain-parquet DataFrame over the committed active
file set (``deltalite.read``) — JVM-native scan, pushdown and pruning
intact, zero Python in the data path — and re-attaching after each
commit gives downstream readers snapshot isolation: they see the
pre-commit or post-commit table, never a half-written one.

At 100 TB this is the same architecture real Delta uses: the log is the
source of truth, the catalog entry is just a pointer, and every reader
plans a parquet scan over the log's active set.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession

# ident (db.table lowercased) -> table_path, for tooling/tests that need
# to find the physical table behind a resolved name
_REGISTRY: dict[str, str] = {}

# SparkSession -> {temp view: (table path, head commit identity)} of the
# snapshot each view was last attached at (temp views are per session)
_ATTACHED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_ATTACH_LOCKS: dict[str, threading.Lock] = {}

# SparkContext -> Delta Lake jars present. The classpath is fixed when the
# JVM starts, so one probe per context answers every later call.
_DELTA_AVAILABLE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def qualified(database: str | None, name: str) -> str:
    return f"{database}.{name}" if database else name


def view_name(database: str | None, name: str) -> str:
    """Session temp-view name a DeltaLite-backed model resolves to."""
    return f"__dl__{database or 'default'}__{name}"


def table_path(spark: SparkSession, database: str | None, name: str) -> str:
    """Physical location of a DeltaLite-backed model: under the database
    location when the db exists (so dropping/rm-ing the db cleans the log
    too), else under the warehouse dir."""
    base = None
    if database:
        try:
            base = spark.catalog.getDatabase(database).locationUri
        except Exception:  # noqa: BLE001 — db not created yet
            base = None
    if base is None:
        base = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        )
        if database:
            base = os.path.join(_strip_uri(base), f"{database}.db")
    path = os.path.join(_strip_uri(base), "__deltalite__", name)
    return path


def _strip_uri(p: str) -> str:
    return p[len("file:"):] if p.startswith("file:") else p


def exists(spark: SparkSession, database: str | None, name: str) -> bool:
    from dbt_spark_models_spark.sources import deltalite

    return (
        deltalite.latest_version(table_path(spark, database, name)) is not None
    )


def attach(spark: SparkSession, database: str | None, name: str) -> str:
    """(Re)create the temp view over the LATEST committed snapshot and
    record the ident in the registry. Returns the view name.

    Building the view lists every active file (a Spark job once the table
    holds more than 32), so a view that already reflects the latest
    commit is kept. The memo key is the head version plus the identity of
    that commit file: a commit by any writer or process (OPTIMIZE
    included) adds a version, and a dropped-and-recreated table rewrites
    the file at a version number it may have had before. VACUUM never
    removes the head's files, so it needs no re-attach."""
    from dbt_spark_models_spark.sources import deltalite

    path = table_path(spark, database, name)
    view = view_name(database, name)
    attached = _ATTACHED.setdefault(spark, {})
    # check, create and record as one step per view: two threads
    # attaching it at once must not leave the memo newer than the view
    with _ATTACH_LOCKS.setdefault(view, threading.Lock()):
        head = deltalite.commit_identity(path)
        if head is None or attached.get(view) != (path, head) or not (
            spark.catalog.tableExists(view)
        ):
            deltalite.read(spark, path).createOrReplaceTempView(view)
            attached[view] = (path, head)
    _REGISTRY[qualified(database, name).lower()] = path
    return view


def lookup(database: str | None, name: str) -> str | None:
    """Registered physical path for an ident, or None."""
    return _REGISTRY.get(qualified(database, name).lower())


def read(
    spark: SparkSession,
    database: str | None,
    name: str,
    version: int | None = None,
    timestamp: int | None = None,
) -> DataFrame:
    """Time-travel read of a DeltaLite-backed model."""
    from dbt_spark_models_spark.sources import deltalite

    return deltalite.read(
        spark,
        table_path(spark, database, name),
        version=version,
        timestamp=timestamp,
    )


def _delta_available(spark: SparkSession) -> bool:
    """True when the Delta Lake jars are on the classpath (import-try)."""
    sc = spark.sparkContext
    if sc not in _DELTA_AVAILABLE:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.spark.sql.delta.DeltaLog"
            )
            _DELTA_AVAILABLE[sc] = True
        except Exception:  # noqa: BLE001
            _DELTA_AVAILABLE[sc] = False
    return _DELTA_AVAILABLE[sc]


def uses_deltalite(spark: SparkSession, config: dict) -> bool:
    """True when this node's tables should route through DeltaLite:
    declared delta, and no Delta Lake jars to honor it natively."""
    return config.get("file_format") == "delta" and not _delta_available(spark)
