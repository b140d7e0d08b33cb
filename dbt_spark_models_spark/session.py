"""SparkSession factory with scale-appropriate defaults.

The reference delegates all execution tuning to Spark/AQE (SURVEY.md §4 —
no join hints, no manual optimizer work). We do the same, but pin the
session configs that matter for correctness (UTC timezone vs the DuckDB
oracle, ANSI off to match reference Spark-SQL semantics) and for scale
(AQE on, dynamic partition overwrite for incremental materializations,
Arrow for the Pandas-UDF slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# SQL confs required for correctness, all runtime-settable — applied
# defensively so the engine also works on a session it didn't build
# (e.g. the harness driver's own SparkSession)
_REQUIRED_SQL_CONFS = {
    # events.parquet is TIMESTAMP(NANOS); Spark rejects it without this
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # parquet timestamp[us] WITHOUT timezone would otherwise infer as
    # TIMESTAMP_NTZ under Spark 4.x, which unix_millis/unix_micros and
    # streaming watermarks reject; read as session-tz TIMESTAMP (UTC)
    # to match DuckDB's naive-timestamp semantics
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # oracle comparisons assume UTC-naive timestamps
    "spark.sql.session.timeZone": "UTC",
    # incremental insert_overwrite must be partition-surgical
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.adaptive.enabled": "true",
    # local-scale default; AQE coalesces batch shuffles, but stateful
    # streaming pins partition counts, so an unset 200 hurts there
    "spark.sql.shuffle.partitions": "32",
    # InferFiltersFromGenerate duplicates the generator's child expression
    # into a pre-Generate filter, which predicate pushdown then inlines
    # below exchanges — for explode(transform(...)) over tokenized text
    # that turns an O(n) per-row shingle computation into O(n²) evaluated
    # on the narrowest (scan) stage: 10× slower on the dedup/contamination
    # pipelines. The rule only ever ADDS inferred filters (a pruning
    # optimization), so excluding it never changes results.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}

_PREPARED_SESSIONS: set[int] = set()


def _register_functions(spark: SparkSession) -> SparkSession:
    from dbt_spark_models_spark.functions.registry import register_engine_functions

    register_engine_functions(spark)
    _PREPARED_SESSIONS.add(id(spark))
    return spark


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply required dynamic SQL confs + engine functions to ANY session."""
    if id(spark) in _PREPARED_SESSIONS:
        return spark
    for k, v in _REQUIRED_SQL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — conf may be static on some builds
            pass
    return _register_functions(spark)


def get_spark(
    app_name: str = "dbt_spark_models_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    On a real cluster, ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS or *]``. ``shuffle_partitions``
    (~2-3x total cores on a cluster) overrides the required default of
    32; ``extra_conf`` overrides anything. The confs go through the
    builder only: ``getOrCreate`` applies them to a new session and to an
    existing one alike, so an explicit value is never reset afterwards.
    """
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    confs = {
        **_REQUIRED_SQL_CONFS,
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    }
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs.update(extra_conf or {})
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # engine-level SQL function parity (SURVEY.md §2.11); the required
    # confs already came with the builder
    return spark if id(spark) in _PREPARED_SESSIONS else _register_functions(spark)
