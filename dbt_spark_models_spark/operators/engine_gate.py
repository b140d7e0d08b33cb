"""Correctness-gate queries that drive the transformation framework
end-to-end (plans/): project build → incremental re-run → final table,
and a two-batch SCD2 snapshot — each verified against a DuckDB oracle
that recomputes the same semantics in plain SQL.

These prove the framework layer (SURVEY.md layer 1), not just the query
layer: Jinja vars/is_incremental branches, seed joins, view + incremental
insert_overwrite materializations, and snapshot merge logic all execute
for real, against the driver's parquet, inside the gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_spark_models_spark.operators import query, run_scope
from dbt_spark_models_spark.sources.testdata import load_tables

_EXAMPLE_PROJECT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "examples",
    "mini_mart",
)

# the seed CSV, inlined for the oracle
_SEED_VALUES = (
    "(VALUES ('view','browse',1), ('click','browse',2), ('purchase','commerce',10),"
    " ('signup','account',5), ('error','system',0))"
    " AS c(event_type, category, weight)"
)

_STG_ORACLE = f"""
    SELECT e.user_id, e.event_type, c.weight, e.value, CAST(e.ts AS DATE) AS day
    FROM events e LEFT JOIN {_SEED_VALUES} ON e.event_type = c.event_type
"""


def _fresh_db(spark: SparkSession, db: str) -> None:
    import shutil

    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    # the in-memory catalog can't CASCADE tables created by a previous
    # session, so clear the physical location too
    shutil.rmtree(f"/tmp/spark_models_engine/{db}", ignore_errors=True)
    spark.sql(f"CREATE DATABASE {db} LOCATION '/tmp/spark_models_engine/{db}'")


# (session id, sf_dir) → db of an already-built SCD2 history (see
# engine_scd2_snapshot docstring)
_SCD2_CACHE: dict[tuple[int, str], str] = {}

# (session id, sf_dir) → db of an already-built mini-mart. Several gate
# queries verify different tables of the SAME project build; rebuilding it
# per query doubled the driver's per-round grading cost for nothing.
_MART_CACHE: dict[tuple[int, str], str] = {}


def _shared_mini_mart(spark: SparkSession, sf_dir: str) -> str:
    # The db name is derived from sf_dir so interleaved grading across
    # scale factors (A, B, A) can never serve A's queries from a mart
    # built on B's data: each sf_dir owns its own physical db, and the
    # tableExists probe checks the right one.
    import hashlib

    db = "engine_gate_mart_" + run_scope(sf_dir)
    key = (id(spark), sf_dir)
    if _MART_CACHE.get(key) != db or not spark.catalog.tableExists(
        f"{db}.daily_user_stats"
    ):
        _build_mini_mart(spark, sf_dir, db)
        _MART_CACHE[key] = db
    return db


def _build_mini_mart(spark: SparkSession, sf_dir: str, db: str) -> None:
    """Full build at an early cutoff, then an incremental run at the real
    cutoff — exercising first-run CTAS *and* the insert_overwrite path."""
    from dbt_spark_models_spark.plans import Project, Runner

    _fresh_db(spark, db)
    project = Project.load(_EXAMPLE_PROJECT)
    r1 = Runner(
        spark=spark,
        project=project,
        database=db,
        vars={"sf_dir": sf_dir, "cutoff_date": "2024-01-10"},
    )
    seed_results = r1.seed()
    if any(r.status != "success" for r in seed_results):
        raise RuntimeError(f"seed failed: {seed_results}")
    run1 = r1.run()
    if any(r.status != "success" for r in run1):
        raise RuntimeError(f"first run failed: {run1}")
    # day 2: incremental re-run with the standard lookback window
    r2 = Runner(
        spark=spark,
        project=project,
        database=db,
        vars={"sf_dir": sf_dir, "cutoff_date": "2024-01-15"},
    )
    results = r2.run()
    bad = [r for r in results if r.status not in ("success",)]
    if bad:
        raise RuntimeError(f"engine run failed: {bad}")
    tests = r2.test()
    if any(t.status != "success" for t in tests):
        raise RuntimeError(f"engine tests failed: {tests}")


@query(
    "engine_incremental_daily_stats",
    oracle=f"""
WITH stg AS ({_STG_ORACLE})
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       ROUND(SUM(value), 2) AS total_value,
       ROUND(SUM(value * weight), 2) AS weighted_value,
       day
FROM stg
GROUP BY user_id, day
""",
)
def engine_incremental_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the example project (full run @ cutoff 2024-01-10, then
    incremental insert_overwrite @ 2024-01-15) and return the daily mart.
    The oracle recomputes the mart from scratch — results must agree, which
    verifies that the incremental overwrite touched exactly the right
    partitions and preserved the rest."""
    from dbt_spark_models_spark.sources.testdata import register_views

    register_views(spark, sf_dir, ("events",))
    db = _shared_mini_mart(spark, sf_dir)
    return spark.table(f"{db}.daily_user_stats")


@query(
    "engine_lifetime_rollup",
    oracle=f"""
WITH stg AS ({_STG_ORACLE}),
daily AS (
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value, day
    FROM stg GROUP BY user_id, day
)
SELECT user_id,
       CAST(SUM(n_events) AS BIGINT) AS lifetime_events,
       ROUND(SUM(total_value), 2) AS lifetime_value,
       MIN(day) AS first_day,
       MAX(day) AS last_day,
       COUNT(*) AS active_days
FROM daily
GROUP BY user_id
""",
)
def engine_lifetime_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downstream table model over the incremental mart (ref() chain
    through the DAG)."""
    from dbt_spark_models_spark.sources.testdata import register_views

    register_views(spark, sf_dir, ("events",))
    db = _shared_mini_mart(spark, sf_dir)
    return spark.table(f"{db}.user_lifetime").select(
        "user_id",
        "lifetime_events",
        "lifetime_value",
        "first_day",
        "last_day",
        "active_days",
    )


_MERGE_CUTOFF = "1996-01-01"
_MERGE_B1 = f"""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend_dec,
       MAX(o_orderdate) AS last_order
FROM orders
WHERE o_orderdate < DATE '{_MERGE_CUTOFF}'
GROUP BY o_custkey
"""
_MERGE_SRC = f"""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend_dec,
       MAX(o_orderdate) AS last_order
FROM orders
GROUP BY o_custkey
HAVING MAX(o_orderdate) >= DATE '{_MERGE_CUTOFF}'
"""


@query(
    "engine_merge_incremental",
    oracle=f"""
WITH b1 AS ({_MERGE_B1}), src AS ({_MERGE_SRC})
SELECT o_custkey, n_orders,
       ROUND(CAST(total_spend_dec AS DOUBLE), 2) AS total_spend, last_order
FROM src
UNION ALL
SELECT o_custkey, n_orders,
       ROUND(CAST(total_spend_dec AS DOUBLE), 2) AS total_spend, last_order
FROM b1
WHERE o_custkey NOT IN (SELECT o_custkey FROM src)
""",
)
def engine_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ``merge`` strategy under the oracle (dbt-spark MERGE,
    the reference's delta-target upsert path —
    ``macros/spark_adapter_patch/create_table.sql:21-38``; here the
    parquet anti-join staging-swap fallback, same semantics): build the
    per-customer rollup below a cutoff, then MERGE a recomputed increment
    of every customer active after the cutoff — matched keys replaced
    wholesale, new keys inserted, untouched keys preserved. The oracle
    reconstructs the expected post-merge state from scratch."""
    from dbt_spark_models_spark.plans.materialize import materialize
    from dbt_spark_models_spark.sources.testdata import register_views

    register_views(spark, sf_dir, ("orders",))
    import hashlib

    db = "engine_gate_merge_" + run_scope(sf_dir)
    _fresh_db(spark, db)
    cfg = dict(
        materialized="incremental",
        incremental_strategy="merge",
        unique_key="o_custkey",
    )
    materialize(spark, "cust_rollup", _MERGE_B1, cfg, db)
    materialize(spark, "cust_rollup", _MERGE_SRC, cfg, db)
    return spark.table(f"{db}.cust_rollup").select(
        "o_custkey",
        "n_orders",
        F.round(F.col("total_spend_dec").cast("double"), 2).alias("total_spend"),
        "last_order",
    )


@query(
    "engine_scd2_snapshot",
    oracle="""
WITH v1 AS (
    SELECT p_partkey AS product_id, p_name AS name,
           ROUND(p_retailprice, 2) AS price,
           TIMESTAMP '2024-01-01 00:00:00' AS valid_from
    FROM part
), updated AS (SELECT product_id FROM v1 WHERE product_id % 10 = 0),
   deleted AS (SELECT product_id FROM v1 WHERE product_id % 97 = 3)
SELECT v1.product_id, v1.name, v1.price, v1.valid_from AS dbt_valid_from,
       CASE WHEN v1.product_id IN (SELECT product_id FROM deleted)
              THEN TIMESTAMP '2024-02-02 00:00:00'
            WHEN v1.product_id IN (SELECT product_id FROM updated)
              THEN TIMESTAMP '2024-02-01 00:00:00'
            ELSE NULL END AS dbt_valid_to
FROM v1
UNION ALL
SELECT product_id, name, ROUND(price * 1.1, 2) AS price,
       TIMESTAMP '2024-02-01 00:00:00' AS dbt_valid_from,
       NULL AS dbt_valid_to
FROM (SELECT v1.product_id, v1.name, v1.price FROM v1
      WHERE v1.product_id % 10 = 0 AND v1.product_id % 97 <> 3)
""",
)
def engine_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch SCD2 snapshot over ``part`` (timestamp strategy +
    invalidate_hard_deletes): batch 2 reprices every 10th part (new
    version), drops every (k%97==3)rd part (hard delete). The oracle
    reconstructs the full expected history — verifying close/open/delete
    transitions, not just current rows.

    The built history is memoized per (session, sf_dir) — same pattern and
    rationale as ``_shared_mini_mart``: the point-in-time gate reuses this
    table, and the db name is derived from sf_dir so interleaved grading
    across scale factors never serves stale data."""
    import hashlib

    from dbt_spark_models_spark.plans.snapshots import snapshot

    db = "engine_gate_scd2_" + run_scope(sf_dir)
    key = (id(spark), sf_dir)
    if _SCD2_CACHE.get(key) == db and spark.catalog.tableExists(
        f"{db}.dim_product"
    ):
        return spark.table(f"{db}.dim_product").select(
            "product_id", "name", "price", "dbt_valid_from", "dbt_valid_to"
        )
    _fresh_db(spark, db)
    part = load_tables(spark, sf_dir, ("part",))["part"]
    cfg = dict(
        unique_key="product_id",
        strategy="timestamp",
        updated_at="update_ts",
        invalidate_hard_deletes=True,
    )
    b1 = part.select(
        F.col("p_partkey").alias("product_id"),
        F.col("p_name").alias("name"),
        F.round("p_retailprice", 2).alias("price"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("update_ts"),
    )
    snapshot(spark, "dim_product", b1, cfg, db)
    b2 = (
        b1.filter(F.col("product_id") % 97 != 3)
        .withColumn(
            "price",
            F.when(
                F.col("product_id") % 10 == 0, F.round(F.col("price") * 1.1, 2)
            ).otherwise(F.col("price")),
        )
        .withColumn(
            "update_ts",
            F.when(
                F.col("product_id") % 10 == 0,
                F.lit("2024-02-01 00:00:00").cast("timestamp"),
            ).otherwise(F.col("update_ts")),
        )
    )
    snapshot(spark, "dim_product", b2, cfg, db, run_ts="2024-02-02 00:00:00")
    _SCD2_CACHE[key] = db
    return spark.table(f"{db}.dim_product").select(
        "product_id", "name", "price", "dbt_valid_from", "dbt_valid_to"
    )


@query(
    "engine_append_log",
    oracle=f"""
WITH stg AS ({_STG_ORACLE})
SELECT day, event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM stg
GROUP BY day, event_type
""",
)
def engine_append_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental APPEND materialization under the oracle: the mini-mart
    build runs the append-only daily fact twice (full build below the
    first cutoff, then a high-water-mark append of strictly newer days).
    The oracle recomputes the rollup from scratch — agreeing results prove
    the append touched exactly the missing days: no duplicated partitions,
    no gaps."""
    from dbt_spark_models_spark.sources.testdata import register_views

    register_views(spark, sf_dir, ("events",))
    db = _shared_mini_mart(spark, sf_dir)
    return spark.table(f"{db}.event_type_log")


@query(
    "engine_scd2_check_strategy",
    oracle="""
WITH v1 AS (
    SELECT s_suppkey AS supplier_id, s_name AS name,
           ROUND(s_acctbal, 2) AS acctbal,
           TIMESTAMP '2024-01-01 00:00:00' AS valid_from
    FROM supplier
), changed AS (  -- acctbal (the only check_col) changes
    SELECT supplier_id FROM v1 WHERE supplier_id % 7 = 0
), deleted AS (  -- key vanishes from batch 2
    SELECT supplier_id FROM v1 WHERE supplier_id % 13 = 2
)
SELECT v1.supplier_id, v1.name, v1.acctbal,
       v1.valid_from AS dbt_valid_from,
       CASE WHEN v1.supplier_id IN (SELECT supplier_id FROM deleted)
              THEN TIMESTAMP '2024-02-01 00:00:00'
            WHEN v1.supplier_id IN (SELECT supplier_id FROM changed)
              THEN TIMESTAMP '2024-02-01 00:00:00'
            ELSE NULL END AS dbt_valid_to
FROM v1
UNION ALL
SELECT supplier_id,
       CASE WHEN supplier_id % 11 = 0 THEN name || ' RENAMED' ELSE name END
           AS name,  -- the new version carries the whole new row
       ROUND(acctbal * 1.05, 2) AS acctbal,
       TIMESTAMP '2024-02-01 00:00:00' AS dbt_valid_from,
       NULL AS dbt_valid_to
FROM v1
WHERE supplier_id % 7 = 0 AND supplier_id % 13 <> 2
""",
)
def engine_scd2_check_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch SCD2 snapshot with ``strategy='check'`` + ``check_cols``
    + ``invalidate_hard_deletes`` (reference
    ``snapshots/spark/referral_program/referral_bloggers_info.sql:68-69``):
    batch 2 changes ``acctbal`` (a check col → new version) for every 7th
    supplier, changes ``name`` (NOT a check col → must NOT version) for
    every 11th, and drops every (k%13==2)th (hard delete → closed at the
    run timestamp). The oracle reconstructs the expected full history —
    including that name-only changes leave the original row open."""
    from dbt_spark_models_spark.plans.snapshots import snapshot

    db = "engine_gate_scd2_check"
    _fresh_db(spark, db)
    sup = load_tables(spark, sf_dir, ("supplier",))["supplier"]
    cfg = dict(
        unique_key="supplier_id",
        strategy="check",
        check_cols=["acctbal"],
        invalidate_hard_deletes=True,
    )
    b1 = sup.select(
        F.col("s_suppkey").alias("supplier_id"),
        F.col("s_name").alias("name"),
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    snapshot(spark, "dim_supplier", b1, cfg, db, run_ts="2024-01-01 00:00:00")
    b2 = (
        b1.filter(F.col("supplier_id") % 13 != 2)
        .withColumn(
            "acctbal",
            F.when(
                F.col("supplier_id") % 7 == 0,
                F.round(F.col("acctbal") * 1.05, 2),
            ).otherwise(F.col("acctbal")),
        )
        .withColumn(
            "name",
            F.when(
                F.col("supplier_id") % 11 == 0, F.concat(F.col("name"), F.lit(" RENAMED"))
            ).otherwise(F.col("name")),
        )
    )
    snapshot(spark, "dim_supplier", b2, cfg, db, run_ts="2024-02-01 00:00:00")
    return spark.table(f"{db}.dim_supplier").select(
        "supplier_id", "name", "acctbal", "dbt_valid_from", "dbt_valid_to"
    )


_CURATION_PROJECT = os.path.join(
    os.path.dirname(_EXAMPLE_PROJECT), "curation"
)


@query(
    "engine_curation_models",
    oracle="""
WITH toks AS (
    SELECT doc_id, lang, source, n_chars, text,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> len(x) > 0) AS tokens
    FROM documents
), quality AS (
    SELECT doc_id, lang, source, text,
           len(list_distinct(tokens)) / len(tokens) AS distinct_ratio,
           CAST(CEIL(n_chars / 4.0) AS BIGINT) AS est_tokens
    FROM toks
    WHERE len(tokens) >= 10
      AND len(list_distinct(tokens)) / len(tokens) >= 0.3
), deduped AS (
    SELECT * FROM (
        SELECT q.*,
               ROW_NUMBER() OVER (PARTITION BY MD5(LOWER(TRIM(text)))
                                  ORDER BY doc_id) AS rn
        FROM quality q
    ) WHERE rn = 1
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(est_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(distinct_ratio), 4) AS avg_distinct_ratio,
       lang
FROM deduped
GROUP BY source, lang
""",
)
def engine_curation_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-curation pipeline expressed as *framework models* — the
    north-star ops running through the same dbt-style layer as the
    reference's 423 models (``examples/curation``: tokenize view →
    quality-gate view → dedup table → partitioned report table + a
    singular test). Proves the two halves of this repo compose: curation
    operators are just models the engine can build, test, and
    incrementally maintain. The oracle recomputes the whole chain in
    plain SQL."""
    from dbt_spark_models_spark.plans import Project, Runner
    from dbt_spark_models_spark.sources.testdata import register_views

    register_views(spark, sf_dir, ("documents",))
    # same memoization (and same sf_dir-derived db name) as the mini-mart:
    # repeat gradings of this query reuse the built project
    import hashlib

    db = "engine_gate_cur_" + run_scope(sf_dir)
    key = (id(spark), sf_dir, "curation")
    if _MART_CACHE.get(key) != db or not spark.catalog.tableExists(
        f"{db}.corpus_report"
    ):
        _fresh_db(spark, db)
        project = Project.load(_CURATION_PROJECT)
        runner = Runner(
            spark=spark, project=project, database=db, vars={"sf_dir": sf_dir}
        )
        results = runner.run()
        bad = [r for r in results if r.status != "success"]
        if bad:
            raise RuntimeError(f"curation run failed: {bad}")
        tests = runner.test()
        if any(t.status != "success" for t in tests):
            raise RuntimeError(f"curation tests failed: {tests}")
        _MART_CACHE[key] = db
    return spark.table(f"{db}.corpus_report")


@query(
    "engine_bucketed_colocated_join",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderstatus = 'F'
GROUP BY o.o_orderpriority
""",
)
def engine_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed tables.

    The reference's biggest fact-to-fact joins (orders x lineitem shapes,
    e.g. ``models/spark/gold/gold_orders.sql:24`` joining order-grain CTEs)
    shuffle both sides on the join key every run.  The Spark-first fix at
    100 TB is to pay that shuffle ONCE at write time: both tables are
    written with ``bucketBy(k, join_key).sortBy(join_key)``, after which
    every future join on that key is exchange-free — each task reads
    bucket i of both sides and merges locally.  This gate builds the
    bucketed tables through the engine's writer path, joins with a MERGE
    hint, and ``tests/test_plans_audit.py`` asserts the physical plan has
    a SortMergeJoin with NO shuffle exchange on either child.

    The bucketed pair is memoized per (session, sf_dir) like the
    mini-mart: the one-time bucketing cost is the amortized-write story.
    """
    import hashlib

    db = "engine_gate_bkt_" + run_scope(sf_dir)
    key = (id(spark), sf_dir, "bucketed")
    if _MART_CACHE.get(key) != db or not spark.catalog.tableExists(
        f"{db}.orders_bkt"
    ):
        _fresh_db(spark, db)
        t = load_tables(spark, sf_dir, ("orders", "lineitem"))
        (
            t["orders"]
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(f"{db}.orders_bkt")
        )
        (
            t["lineitem"]
            .write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(f"{db}.lineitem_bkt")
        )
        _MART_CACHE[key] = db
    o = spark.table(f"{db}.orders_bkt").filter(F.col("o_orderstatus") == "F")
    l = spark.table(f"{db}.lineitem_bkt")
    # MERGE hint: demonstrate the exchange-free sort-merge path (a broadcast
    # would also be fine at this sf, but then the gate would prove nothing)
    return (
        o.join(l.hint("merge"), o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@query(
    "engine_snapshot_table_diff",
    oracle="""
WITH state_a AS (
    SELECT o_custkey, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_spend,
           MAX(CAST(o_orderdate AS DATE)) AS last_order
    FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY o_custkey
), state_b AS (
    SELECT o_custkey, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_spend,
           MAX(CAST(o_orderdate AS DATE)) AS last_order
    FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
    GROUP BY o_custkey
), diff AS (
    SELECT COALESCE(b.o_custkey, a.o_custkey) AS o_custkey,
           CASE WHEN a.o_custkey IS NULL THEN 'added'
                WHEN b.o_custkey IS NULL THEN 'removed'
                WHEN a.n_orders != b.n_orders
                     OR a.total_spend != b.total_spend
                     OR a.last_order != b.last_order THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           b.n_orders AS new_n_orders,
           b.total_spend AS new_total_spend
    FROM state_a a FULL OUTER JOIN state_b b ON a.o_custkey = b.o_custkey
)
SELECT o_custkey, change_type, new_n_orders, new_total_spend
FROM diff WHERE change_type != 'unchanged'
""",
)
def engine_snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture table diff: compare two snapshots of the same
    derived dimension (customer order-state as of cutoff A vs cutoff B)
    and emit only the changed keys with their change_type
    (added / removed / changed) — the day-over-day diff that drives the
    reference's SCD2 snapshot merges (``plans/snapshots.py`` computes
    exactly this classification internally) and, at 100 TB, the
    "recompute only downstream rows whose inputs changed" optimization.

    Scale: both states aggregate map-side before the single full-outer
    join on the dimension key; the diff predicate is row-local column
    comparison, and 'unchanged' rows (the overwhelming majority in a
    daily diff) are filtered BEFORE any downstream consumer — the output
    is sized by the day's churn, not the dimension.
    """
    t = load_tables(spark, sf_dir, ("orders",))
    def state(cutoff: str) -> DataFrame:
        return (
            t["orders"]
            .filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
                F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            )
        )
    a = state("1999-01-01").alias("a")
    b = state("2000-01-01").alias("b")
    diff = a.join(b, F.col("a.o_custkey") == F.col("b.o_custkey"), "full_outer")
    change = (
        F.when(F.col("a.o_custkey").isNull(), "added")
        .when(F.col("b.o_custkey").isNull(), "removed")
        .when(
            (F.col("a.n_orders") != F.col("b.n_orders"))
            | (F.col("a.total_spend") != F.col("b.total_spend"))
            | (F.col("a.last_order") != F.col("b.last_order")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        diff.select(
            F.coalesce(F.col("b.o_custkey"), F.col("a.o_custkey")).alias(
                "o_custkey"
            ),
            change.alias("change_type"),
            F.col("b.n_orders").alias("new_n_orders"),
            F.col("b.total_spend").alias("new_total_spend"),
        )
        .filter(F.col("change_type") != "unchanged")
    )


@query(
    "engine_scd2_point_in_time_join",
    oracle="""
WITH v1 AS (
    SELECT p_partkey AS product_id, p_name AS name,
           ROUND(p_retailprice, 2) AS price,
           TIMESTAMP '2024-01-01 00:00:00' AS valid_from
    FROM part
), hist AS (
    SELECT v1.product_id, v1.price, v1.valid_from AS dbt_valid_from,
           CASE WHEN v1.product_id % 97 = 3
                  THEN TIMESTAMP '2024-02-02 00:00:00'
                WHEN v1.product_id % 10 = 0
                  THEN TIMESTAMP '2024-02-01 00:00:00'
                ELSE NULL END AS dbt_valid_to
    FROM v1
    UNION ALL
    SELECT product_id, ROUND(price * 1.1, 2) AS price,
           TIMESTAMP '2024-02-01 00:00:00' AS dbt_valid_from,
           NULL AS dbt_valid_to
    FROM v1 WHERE product_id % 10 = 0 AND product_id % 97 <> 3
), facts AS (
    SELECT l_partkey AS product_id,
           CASE l_orderkey % 3
                WHEN 0 THEN TIMESTAMP '2024-01-15 00:00:00'
                WHEN 1 THEN TIMESTAMP '2024-02-01 12:00:00'
                ELSE TIMESTAMP '2024-03-01 00:00:00' END AS as_of
    FROM lineitem
)
SELECT f.as_of, COUNT(*) AS n_items,
       COUNT(DISTINCT f.product_id) AS n_products,
       CAST(ROUND(SUM(CAST(h.price AS DECIMAL(18, 6))), 2) AS DOUBLE)
           AS total_price
FROM facts f
JOIN hist h
  ON h.product_id = f.product_id
 AND h.dbt_valid_from <= f.as_of
 AND (h.dbt_valid_to IS NULL OR f.as_of < h.dbt_valid_to)
GROUP BY f.as_of
""",
)
def engine_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of facts to the SCD2 history the engine's own
    snapshot materialization produced (reference consumers do exactly this
    against the 54 ``*_snapshot`` tables, e.g.
    ``snapshots/spark/b2b_mart/scd2_merchant_orders_v2_snapshot.sql``):
    each lineitem is stamped with one of three as-of times spanning both
    snapshot batches, then joined to the version valid at that instant
    (``valid_from <= t < valid_to``). The per-as-of totals catch
    wrong-version joins (repriced v2 rows), unclosed intervals, and
    hard-delete leakage (deleted products must vanish from the 2024-03-01
    slice) in one 3-row result.

    Scale: the SCD2 dim is dimension-sized → broadcast hash join on the
    equi key with the validity range as a post-join filter; a fact-sized
    history would use the range-bin co-location pattern (joins.py)
    instead. Price totals accumulate in DECIMAL so the sum is exact and
    associative across any partitioning."""
    dim = engine_scd2_snapshot(spark, sf_dir)
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    facts = li.select(
        F.col("l_partkey").alias("product_id"),
        F.when(F.col("l_orderkey") % 3 == 0, F.lit("2024-01-15 00:00:00"))
        .when(F.col("l_orderkey") % 3 == 1, F.lit("2024-02-01 12:00:00"))
        .otherwise(F.lit("2024-03-01 00:00:00"))
        .cast("timestamp")
        .alias("as_of"),
    )
    j = facts.join(
        F.broadcast(dim.select("product_id", "price", "dbt_valid_from", "dbt_valid_to")),
        on=(
            (dim["product_id"] == facts["product_id"])
            & (F.col("dbt_valid_from") <= F.col("as_of"))
            & (
                F.col("dbt_valid_to").isNull()
                | (F.col("as_of") < F.col("dbt_valid_to"))
            )
        ),
    )
    return (
        j.groupBy("as_of")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct(facts["product_id"]).alias("n_products"),
            F.round(F.sum(F.col("price").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


# (session id, sf_dir) → db of a mini-mart that has been built AND erased
_ERASE_CACHE: dict[tuple[int, str], str] = {}


@query(
    "engine_user_erasure",
    oracle=f"""
WITH stg AS ({_STG_ORACLE})
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       ROUND(SUM(value), 2) AS total_value,
       ROUND(SUM(value * weight), 2) AS weighted_value,
       day
FROM stg
WHERE user_id % 13 <> 5
GROUP BY user_id, day
""",
)
def engine_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten sweep through the engine (``Runner.erase``):
    a fresh mini-mart is built, then every materialized table containing
    ``user_id`` is rewritten without the erased cohort (user_id%13==5,
    simulating a deletion-request batch). The oracle recomputes the daily
    mart from scratch WITHOUT those users — the gate proves the erasure
    touched the right rows and ONLY those rows, through the same
    staging-swap write path the merge materialization uses. Builds its own
    db (never the shared gate mart, which other gates read un-erased) with
    ONE full run at the final cutoff — the two-phase CTAS+incremental
    build is the subject of ``engine_incremental_daily_stats``; this gate
    only needs a populated mart to sweep, and a single run halves its
    wall-time."""
    import hashlib

    from dbt_spark_models_spark.plans import Project, Runner
    from dbt_spark_models_spark.sources.testdata import register_views

    register_views(spark, sf_dir, ("events",))
    db = "engine_gate_erase_" + run_scope(sf_dir)
    key = (id(spark), sf_dir)
    if _ERASE_CACHE.get(key) != db or not spark.catalog.tableExists(
        f"{db}.daily_user_stats"
    ):
        _fresh_db(spark, db)
        build = Runner(
            spark=spark,
            project=Project.load(_EXAMPLE_PROJECT),
            database=db,
            vars={"sf_dir": sf_dir, "cutoff_date": "2024-01-15"},
        )
        if any(r.status != "success" for r in (*build.seed(), *build.run())):
            raise RuntimeError("erase-gate mart build failed")
        ev = load_tables(spark, sf_dir, ("events",))["events"]
        # the deletion queue stays a DataFrame end to end — no driver hop
        keys = (
            ev.select("user_id").filter(F.col("user_id") % 13 == 5).distinct()
        )
        runner = Runner(
            spark=spark,
            project=Project.load(_EXAMPLE_PROJECT),
            database=db,
            vars={"sf_dir": sf_dir, "cutoff_date": "2024-01-15"},
        )
        results = runner.erase("user_id", keys)
        bad = [r for r in results if r.status != "success"]
        if bad:
            raise RuntimeError(f"erasure failed: {bad}")
        if not results:
            raise RuntimeError("erasure touched no tables")
        _ERASE_CACHE[key] = db
    return spark.table(f"{db}.daily_user_stats")
