"""End-to-end tests for the transformation framework (plans/)."""

from __future__ import annotations

import os
import re
import textwrap

import pytest

from dbt_spark_models_spark.plans import Project, Runner


@pytest.fixture()
def project_dir(tmp_path, sf_dir):
    root = tmp_path / "proj"
    (root / "models").mkdir(parents=True)
    (root / "seeds").mkdir()
    (root / "snapshots").mkdir()
    (root / "tests").mkdir()
    (root / "macros").mkdir()

    (root / "project.yml").write_text(
        textwrap.dedent(
            f"""\
            name: mini_mart
            vars:
              start_date: '2024-01-01'
              cutoff_date: '2024-01-15'
            sources:
              testdata:
                events: {sf_dir}/events.parquet
                orders: {sf_dir}/orders.parquet
            """
        )
    )
    (root / "seeds" / "event_types.csv").write_text(
        "event_type,category\n"
        "view,browse\nclick,browse\npurchase,commerce\n"
        "signup,account\nerror,system\n"
    )
    (root / "macros" / "helpers.sql").write_text(
        "{% macro to_day(col) %}CAST({{ col }} AS DATE){% endmacro %}"
    )
    # view over a seed (gold_regions style)
    (root / "models" / "dim_event_types.sql").write_text(
        "{{ config(materialized='view') }}\n"
        "SELECT event_type, UPPER(category) AS category\n"
        "FROM {{ ref('event_types') }}"
    )
    # table model over a source + ref, using a project macro
    (root / "models" / "stg_events.sql").write_text(
        textwrap.dedent(
            """\
            {{ config(materialized='table', tags=['staging']) }}
            SELECT e.event_id,
                   e.user_id,
                   e.event_type,
                   d.category,
                   e.value,
                   {{ to_day('e.ts') }} AS day
            FROM {{ source('testdata', 'events') }} e
            LEFT JOIN {{ ref('dim_event_types') }} d USING (event_type)
            """
        )
    )
    # incremental insert_overwrite partitioned by day, windowed by vars
    (root / "models" / "daily_event_stats.sql").write_text(
        textwrap.dedent(
            """\
            {{ config(materialized='incremental',
                      incremental_strategy='insert_overwrite',
                      partition_by=['day'], tags=['mart']) }}
            SELECT user_id,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS total_value,
                   day
            FROM {{ ref('stg_events') }}
            {% if is_incremental() %}
            WHERE day >= date'{{ var("cutoff_date") }}'
            {% endif %}
            GROUP BY user_id, day
            """
        )
    )
    # ephemeral model inlined into its consumer
    (root / "models" / "eph_big_events.sql").write_text(
        "{{ config(materialized='ephemeral') }}\n"
        "SELECT * FROM {{ ref('stg_events') }} WHERE value > 100"
    )
    (root / "models" / "big_event_users.sql").write_text(
        "{{ config(materialized='table') }}\n"
        "SELECT user_id, COUNT(*) AS n_big FROM {{ ref('eph_big_events') }}\n"
        "GROUP BY user_id"
    )
    # singular test: no negative values (passes on testdata)
    (root / "tests" / "no_negative_values.sql").write_text(
        "SELECT * FROM {{ ref('stg_events') }} WHERE value < 0"
    )
    return str(root)


@pytest.fixture()
def runner(spark, project_dir):
    db = "mini_mart_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    project = Project.load(project_dir)
    return Runner(spark=spark, project=project, database=db)


def test_parse_and_dag(runner):
    p = runner.project
    assert set(p.models) == {
        "dim_event_types",
        "stg_events",
        "daily_event_stats",
        "eph_big_events",
        "big_event_users",
    }
    assert p.models["daily_event_stats"].depends_on == ["stg_events"]
    assert p.models["stg_events"].sources == [("testdata", "events")]
    from dbt_spark_models_spark.plans.graph import build_order

    order = build_order(p)
    assert order.index("dim_event_types") < order.index("stg_events")
    assert order.index("stg_events") < order.index("daily_event_stats")


def test_full_build(spark, runner, monkeypatch):
    from collections import Counter

    from pyspark.sql import SparkSession

    from dbt_spark_models_spark.plans import jinja

    renders: Counter = Counter()
    source_views: Counter = Counter()
    compile_node, sql = jinja.compile_node, SparkSession.sql

    def counting_compile(project, node, *a, **kw):
        renders[node.name] += 1
        return compile_node(project, node, *a, **kw)

    relation_paths: dict[str, str] = {}

    def counting_sql(session, query, *a, **kw):
        # a source view sits over a catalog table bound to the path
        rel = re.match(
            r"CREATE TABLE IF NOT EXISTS (\S+) USING parquet LOCATION '([^']+)'",
            str(query),
        )
        if rel:
            relation_paths[rel.group(1)] = rel.group(2)
        view = re.match(
            r"(?:CREATE VIEW IF NOT EXISTS|ALTER VIEW) (\S+) AS .* FROM (\S+)$",
            str(query),
        )
        if view and view.group(2) in relation_paths:
            source_views[view.group(1), relation_paths[view.group(2)]] += 1
        return sql(session, query, *a, **kw)

    monkeypatch.setattr(jinja, "compile_node", counting_compile)
    monkeypatch.setattr(SparkSession, "sql", counting_sql)
    results = runner.build()
    monkeypatch.undo()
    # a first build renders each model and singular test exactly once,
    # and creates each (source view, path) once per Runner
    assert renders == Counter(
        {**dict.fromkeys(runner.project.models, 1),
         **dict.fromkeys(runner.project.tests, 1)}
    )
    events = runner.project.sources["testdata"]["events"]
    assert source_views == Counter(
        {(f"{runner.database}.src_testdata_events", events): 1}
    )
    by_node = {r.node: r for r in results}
    assert by_node["event_types"].status == "success"
    assert by_node["stg_events"].status == "success"
    assert by_node["daily_event_stats"].action == "created"
    assert by_node["no_negative_values"].status == "success"  # 0 rows = pass
    db = runner.database
    n = spark.table(f"{db}.stg_events").count()
    assert n == spark.read.parquet(
        runner.project.sources["testdata"]["events"]
    ).count()
    # view resolves categories via seed join
    cats = {
        r["category"]
        for r in spark.table(f"{db}.dim_event_types").collect()
    }
    assert cats == {"BROWSE", "COMMERCE", "ACCOUNT", "SYSTEM"}
    # ephemeral model was inlined, not materialized
    assert not spark.catalog.tableExists(f"{db}.eph_big_events")
    assert spark.table(f"{db}.big_event_users").count() > 0


def test_databaseless_build_views_over_sources(spark, tmp_path, sf_dir):
    """Without a database, source views and model views land in
    `default`; a persistent model view over a source must resolve (a TEMP
    source view there fails with INVALID_TEMP_OBJ_REFERENCE)."""
    root = tmp_path / "dbless"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text(
        "name: dbless\n"
        "sources:\n"
        "  testdata:\n"
        f"    orders: {sf_dir}/orders.parquet\n"
    )
    (root / "models" / "dbless_orders_by_status.sql").write_text(
        "{{ config(materialized='view') }}\n"
        "SELECT o_orderstatus, COUNT(*) AS n\n"
        "FROM {{ source('testdata', 'orders') }} GROUP BY o_orderstatus"
    )

    def persistent():
        return {
            t.name for t in spark.catalog.listTables("default")
            if not t.isTemporary
        }

    before = persistent()
    try:
        runner = Runner(spark=spark, project=Project.load(str(root)))
        results = runner.run()
        assert [(r.node, r.status, r.message) for r in results] == [
            ("dbless_orders_by_status", "success", "")
        ]
        n = spark.table("default.dbless_orders_by_status").agg({"n": "sum"})
        assert n.first()[0] == spark.read.parquet(
            f"{sf_dir}/orders.parquet"
        ).count()
    finally:
        # the source view and the model view, then the catalog table the
        # source view reads
        views = {
            t.name for t in spark.catalog.listTables("default")
            if not t.isTemporary and t.tableType == "VIEW"
        }
        for name in persistent() - before:
            kind = "VIEW" if name in views else "TABLE"
            spark.sql(f"DROP {kind} IF EXISTS default.{name}")
    assert persistent() == before


def test_source_name_resolves_while_runners_rebind_it(spark, tmp_path, sf_dir):
    """Db-less Runners over the same file share one source view. While
    several threads bind it from new Runners at once (first a create
    race, then a redefinition per Runner), queries over the view from
    other threads keep resolving: the view is redefined in place, never
    dropped and created again."""
    import sys
    import threading

    root = tmp_path / "rebind"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text(
        "name: rebind\n"
        "sources:\n"
        "  testdata:\n"
        f"    orders: {sf_dir}/orders.parquet\n"
    )

    def persistent():
        return {
            t.name: t.tableType for t in spark.catalog.listTables("default")
            if not t.isTemporary
        }

    before = persistent()
    views: list[str] = []
    errors: list[BaseException] = []
    binding = threading.Event()

    def bind():
        try:
            for _ in range(4):
                runner = Runner(spark=spark, project=Project.load(str(root)))
                views.append(runner._resolve_source("testdata", "orders"))
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    def query():
        try:
            while binding.is_set():
                if views:
                    spark.sql(f"SELECT COUNT(*) FROM {views[0]}")
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    binding.set()
    binders = [threading.Thread(target=bind) for _ in range(6)]
    readers = [threading.Thread(target=query) for _ in range(2)]
    try:
        for t in binders + readers:
            t.start()
        for t in binders:
            t.join(timeout=300)
        binding.clear()
        for t in readers:
            t.join(timeout=60)
    finally:
        binding.clear()
        sys.setswitchinterval(interval)
        for name, kind in persistent().items():
            if name not in before:
                kind = "VIEW" if kind == "VIEW" else "TABLE"
                spark.sql(f"DROP {kind} default.{name}")
    assert not any(t.is_alive() for t in binders + readers)
    assert errors == []
    assert len(views) == 24 and len(set(views)) == 1


def test_queries_over_source_views_launch_no_job(spark, tmp_path, sf_dir):
    """Once a Runner has bound a source, analyzing a model over it reads
    the schema from the catalog: neither `spark.sql(<compiled model>)`
    nor a query of the model view runs a Spark job (a `parquet.`path``
    scan infers the file schema with a job on every analysis)."""
    root = tmp_path / "nojob"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text(
        "name: nojob\n"
        "sources:\n"
        "  testdata:\n"
        f"    orders: {sf_dir}/orders.parquet\n"
    )
    (root / "models" / "orders_by_status.sql").write_text(
        "{{ config(materialized='view') }}\n"
        "SELECT o_orderstatus, COUNT(*) AS n\n"
        "FROM {{ source('testdata', 'orders') }} GROUP BY o_orderstatus"
    )
    db = "nojob_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    runner = Runner(spark=spark, project=Project.load(str(root)), database=db)
    results = runner.run()
    assert [(r.node, r.status) for r in results] == [
        ("orders_by_status", "success")
    ]
    compiled = runner._compile(runner.project.models["orders_by_status"], False)
    sc = spark.sparkContext
    group = "test_queries_over_source_views_launch_no_job"
    sc.setJobGroup(group, "analysis only")
    try:
        spark.sql(compiled)
        spark.sql(f"SELECT * FROM {db}.orders_by_status")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert spark.sql(compiled).count() == spark.read.parquet(
        f"{sf_dir}/orders.parquet"
    ).select("o_orderstatus").distinct().count()



def test_source_files_relisted_per_runner(spark, tmp_path):
    """A source bound to a catalog table still tracks its files: a later
    Runner sees a file added to a directory source and a new partition of
    a hive-partitioned one, and a source rewritten with another schema
    binds a new table (the view follows it)."""
    flat, parted, wide = tmp_path / "flat", tmp_path / "parted", tmp_path / "wide"
    spark.range(3).write.parquet(str(flat))
    spark.range(4).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(
        str(parted)
    )
    spark.range(2).write.parquet(str(wide))
    root = tmp_path / "relist"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text(
        "name: relist\n"
        "sources:\n"
        "  raw:\n"
        f"    flat: {flat}\n"
        f"    parted: {parted}\n"
        f"    wide: {wide}\n"
    )
    for name in ("flat", "parted", "wide"):
        (root / "models" / f"n_{name}.sql").write_text(
            "{{ config(materialized='view') }}\n"
            f"SELECT * FROM {{{{ source('raw', '{name}') }}}}"
        )
    db = "relist_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    def build():
        runner = Runner(spark=spark, project=Project.load(str(root)), database=db)
        assert all(r.status == "success" for r in runner.run())
        return {
            name: spark.table(f"{db}.n_{name}")
            for name in ("flat", "parted", "wide")
        }

    first = build()
    assert [first[n].count() for n in ("flat", "parted", "wide")] == [3, 4, 2]
    spark.range(3, 5).write.mode("append").parquet(str(flat))
    spark.range(4, 6).selectExpr("id", "7 AS p").write.mode("append").partitionBy(
        "p"
    ).parquet(str(parted))
    spark.range(2).selectExpr("id", "id * 10 AS extra").write.mode(
        "overwrite"
    ).parquet(str(wide))
    again = build()
    assert [again[n].count() for n in ("flat", "parted", "wide")] == [5, 6, 2]
    assert again["wide"].columns == ["id", "extra"]

def test_incremental_insert_overwrite(spark, runner):
    runner.build()
    db = runner.database
    table = f"{db}.daily_event_stats"
    before = spark.table(table)
    n_before = before.count()
    n_old_partitions = before.filter("day < date'2024-01-15'").count()
    assert n_old_partitions > 0

    # poison the recent partitions, then re-run incrementally: only
    # day >= cutoff must be recomputed, older partitions preserved
    spark.sql(
        f"INSERT OVERWRITE TABLE {table} "
        "SELECT user_id, 0 AS n_events, 0.0 AS total_value, day "
        f"FROM {table} WHERE day >= date'2024-01-15'"
    )
    results = runner.run(select=["daily_event_stats"])
    assert results[-1].action == "overwritten_partitions"
    after = spark.table(table)
    assert after.count() == n_before
    assert after.filter("day < date'2024-01-15'").count() == n_old_partitions
    # recomputed rows are real again
    assert after.filter("day >= date'2024-01-15' AND n_events > 0").count() > 0


def test_selection_and_tags(runner):
    from dbt_spark_models_spark.plans.graph import select_nodes

    p = runner.project
    assert select_nodes(p, ["tag:staging"]) == ["stg_events"]
    # children closure
    sel = select_nodes(p, ["stg_events+"])
    assert "daily_event_stats" in sel and "big_event_users" in sel
    # parent closure
    sel = select_nodes(p, ["+daily_event_stats"])
    assert sel[0] == "dim_event_types" or "dim_event_types" in sel
    # gap fill: selecting the two ends pulls the middle in
    sel = select_nodes(p, ["dim_event_types", "daily_event_stats"])
    assert "stg_events" in sel


def test_failure_skips_downstream(spark, runner, project_dir):
    bad = os.path.join(project_dir, "models", "stg_events.sql")
    with open(bad, "w") as f:
        f.write("{{ config(materialized='table') }}\nSELECT broken syntax FROM")
    project = Project.load(project_dir)
    r2 = Runner(spark=spark, project=project, database=runner.database + "_f")
    r2.seed()
    results = r2.run()
    by_node = {r.node: r for r in results}
    assert by_node["stg_events"].status == "error"
    assert by_node["daily_event_stats"].status == "skipped"
    assert by_node["dim_event_types"].status == "success"


SNAP_CFG = dict(
    unique_key="product_id",
    strategy="timestamp",
    updated_at="update_ts",
    invalidate_hard_deletes=True,
)


def _snap_batch(spark, rows):
    return spark.createDataFrame(
        rows, "product_id string, name string, price long, update_ts timestamp"
    )


def test_scd2_snapshot_lifecycle(spark):
    import datetime as dt

    from dbt_spark_models_spark.plans.snapshots import snapshot

    db = "snap_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    ts = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731

    # batch 1: two products
    b1 = _snap_batch(
        spark,
        [("p1", "widget", 100, ts("2024-01-01 00:00:00")),
         ("p2", "gadget", 200, ts("2024-01-01 00:00:00"))],
    )
    snapshot(spark, "dim_product", b1, SNAP_CFG, db)
    t = spark.table(f"{db}.dim_product")
    assert t.count() == 2
    assert t.filter("dbt_valid_to IS NULL").count() == 2

    # batch 2: p1 updated, p2 unchanged, p3 new
    b2 = _snap_batch(
        spark,
        [("p1", "widget-v2", 150, ts("2024-01-02 00:00:00")),
         ("p2", "gadget", 200, ts("2024-01-01 00:00:00")),
         ("p3", "doohickey", 300, ts("2024-01-02 00:00:00"))],
    )
    snapshot(spark, "dim_product", b2, SNAP_CFG, db)
    t = spark.table(f"{db}.dim_product")
    assert t.count() == 4  # p1 old+new, p2, p3
    cur = {r["product_id"]: r for r in t.filter("dbt_valid_to IS NULL").collect()}
    assert set(cur) == {"p1", "p2", "p3"}
    assert cur["p1"]["name"] == "widget-v2"
    old_p1 = t.filter("product_id='p1' AND dbt_valid_to IS NOT NULL").collect()
    assert len(old_p1) == 1
    assert old_p1[0]["dbt_valid_to"] == ts("2024-01-02 00:00:00")

    # batch 3: p2 hard-deleted
    b3 = _snap_batch(
        spark,
        [("p1", "widget-v2", 150, ts("2024-01-02 00:00:00")),
         ("p3", "doohickey", 300, ts("2024-01-02 00:00:00"))],
    )
    snapshot(spark, "dim_product", b3, SNAP_CFG, db, run_ts="2024-01-03 00:00:00")
    t = spark.table(f"{db}.dim_product")
    cur_keys = {
        r["product_id"] for r in t.filter("dbt_valid_to IS NULL").collect()
    }
    assert cur_keys == {"p1", "p3"}
    p2_closed = t.filter("product_id='p2'").collect()
    assert len(p2_closed) == 1
    assert p2_closed[0]["dbt_valid_to"] == ts("2024-01-03 00:00:00")


def test_scd2_check_strategy(spark):
    import datetime as dt

    from dbt_spark_models_spark.plans.snapshots import snapshot

    db = "snap_check_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    cfg = dict(unique_key="product_id", strategy="check", check_cols=["price"])
    ts = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731

    b1 = _snap_batch(spark, [("p1", "widget", 100, ts("2024-01-01 00:00:00"))])
    snapshot(spark, "dim_p", b1, cfg, db, run_ts="2024-01-01 10:00:00")
    # name change only → ignored (not in check_cols); price change → version
    b2 = _snap_batch(spark, [("p1", "widget-renamed", 100, ts("2024-01-02 00:00:00"))])
    snapshot(spark, "dim_p", b2, cfg, db, run_ts="2024-01-02 10:00:00")
    assert spark.table(f"{db}.dim_p").count() == 1
    b3 = _snap_batch(spark, [("p1", "widget-renamed", 175, ts("2024-01-03 00:00:00"))])
    snapshot(spark, "dim_p", b3, cfg, db, run_ts="2024-01-03 10:00:00")
    t = spark.table(f"{db}.dim_p")
    assert t.count() == 2
    cur = t.filter("dbt_valid_to IS NULL").collect()
    assert len(cur) == 1 and cur[0]["price"] == 175


def test_lint_policy(project_dir):
    from dbt_spark_models_spark.plans import jinja
    from dbt_spark_models_spark.plans.lint import lint_project

    project = Project.load(project_dir)
    for node in project.models.values():
        jinja.parse_node(project, node)
    issues = lint_project(project)
    rules = {i.rule for i in issues}
    # models in the fixture have no meta.model_owner → flagged
    assert "model_owner" in rules
    # incremental model has no explicit file_format → flagged
    assert any(
        i.rule == "file_format" and i.node == "daily_event_stats" for i in issues
    )
    # orders source is declared but unused → flagged
    assert any(
        i.rule == "unused_source" and i.node == "testdata.orders" for i in issues
    )
    # no unknown refs
    assert "unknown_ref" not in rules
    # loose mode drops the style rules
    loose = lint_project(project, require_owner=False, require_file_format=False)
    assert {i.rule for i in loose} <= {"unused_source", "unknown_ref"}


def test_merge_strategy_upsert(spark):
    """incremental_strategy='merge': matched keys replaced wholesale, new
    keys inserted, untouched keys preserved; duplicate-key sources are
    rejected (the delta MERGE contract, mirrored by the parquet swap)."""
    import pytest

    from dbt_spark_models_spark.plans.materialize import materialize

    db = "merge_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    cfg = dict(
        materialized="incremental", incremental_strategy="merge", unique_key="k"
    )
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, name string, v int"
    ).createOrReplaceTempView("merge_b1")
    spark.createDataFrame(
        [(2, "B", 200), (3, "c", 30)], "k int, name string, v int"
    ).createOrReplaceTempView("merge_b2")
    materialize(spark, "t", "SELECT * FROM merge_b1", cfg, db)
    materialize(spark, "t", "SELECT * FROM merge_b2", cfg, db)
    got = {r["k"]: (r["name"], r["v"]) for r in spark.table(f"{db}.t").collect()}
    assert got == {1: ("a", 10), 2: ("B", 200), 3: ("c", 30)}

    spark.createDataFrame(
        [(4, "d", 40), (4, "dd", 44)], "k int, name string, v int"
    ).createOrReplaceTempView("merge_dup")
    with pytest.raises(ValueError, match="duplicate unique_key"):
        materialize(spark, "t", "SELECT * FROM merge_dup", cfg, db)


# --- style lint (the reference CI's sqlfluff pass) -------------------------


def _style_project(sql, name="m"):
    from dbt_spark_models_spark.plans.project import ModelNode, Project

    return Project(root=".", models={name: ModelNode(name, "inline", sql)})


def test_style_lint_rules_fire():
    from dbt_spark_models_spark.plans.lint import lint_style

    bad = (
        "{{ config(materialized='view') }}\n"
        "select o_orderkey\t\n"
        "     , o_custkey,\n"
        "FROM {{ ref('x') }};\n"
    )
    rules = {i.rule for i in lint_style(_style_project(bad))}
    assert {"CP01", "LT01", "LT04", "CV03", "CV06"} <= rules
    long = "SELECT " + ", ".join(f"c{i}" for i in range(60)) + " FROM t"
    assert {"LT05"} <= {i.rule for i in lint_style(_style_project(long))}


def test_style_lint_masks_jinja_strings_comments():
    from dbt_spark_models_spark.plans.lint import lint_style

    ok = (
        "{{ config(materialized='view') }}\n"
        "-- a comment may say select or end with ;\n"
        "SELECT 'from x, select' AS s,\n"
        "       IF(a = 1,\n"
        "          'lower when label',\n"
        "          'other') AS label,\n"
        "       {{ var('order_by_expr', 'lower(k)') }} AS k\n"
        "FROM {{ ref('x') }}\n"
    )
    assert lint_style(_style_project(ok)) == []


def test_style_lint_identifier_collisions_not_flagged():
    """r10 ADVICE #2: identifiers that merely collide with keywords —
    qualified names (t.end), alias position (AS end), backtick-quoted
    (`order`), and keyword-prefixed names (from_date) — must pass, and a
    trailing `-- comment,` on the line before FROM must not fake CV03."""
    from dbt_spark_models_spark.plans.lint import lint_style

    ok = (
        "{{ config(materialized='view') }}\n"
        "SELECT t.end AS end_ts,\n"
        "       w.rows AS n_rows,\n"
        "       x AS end,\n"
        "       `order` AS order_quoted,\n"
        "       from_date,\n"
        "       2 AS two  -- note: a, b\n"
        "FROM {{ ref('x') }}\n"
    )
    assert lint_style(_style_project(ok)) == []


def test_style_lint_noqa_escape():
    """sqlfluff's inline escape: `-- noqa: CP01` waives only that code
    on the line; removing it restores the finding."""
    from dbt_spark_models_spark.plans.lint import lint_style

    bad = (
        "{{ config(materialized='view') }}\n"
        "SELECT end AS e,  -- noqa: CP01\n"
        "       1 AS one\n"
        "FROM {{ ref('x') }}\n"
    )
    assert lint_style(_style_project(bad)) == []
    still = bad.replace("  -- noqa: CP01", "")
    assert {"CP01"} == {i.rule for i in lint_style(_style_project(still))}


def test_example_projects_style_clean():
    """Every bundled example project passes the style pass — the same
    bar the reference's CI sqlfluff step sets for its model corpus."""
    import glob
    import os

    from dbt_spark_models_spark.plans.lint import lint_style
    from dbt_spark_models_spark.plans.project import Project

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    roots = sorted(glob.glob(os.path.join(repo_root, "examples", "*", "")))
    assert roots
    for root in roots:
        issues = lint_style(Project.load(root))
        assert not issues, (root, [(i.rule, i.node, i.message) for i in issues[:5]])
