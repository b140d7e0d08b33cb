"""DeltaLite as the framework's table format (VERDICT r8 #1): routing of
``file_format='delta'`` models/snapshots through sources/deltalite when
no Delta jars exist, plus the new ``overwrite_partitions`` write mode.

What the driver gates (operators/delta_mart_gate.py) don't cover lives
here: physical replacement evidence (history operations, untouched
files), incremental-run-vs-rebuild parity, on_schema_change on the delta
path, CDF across the build, append strategy, and erase() on a DeltaLite
table.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dbt_spark_models_spark.plans import Project, Runner
from dbt_spark_models_spark.plans import deltalite_tables as dlt
from dbt_spark_models_spark.plans.materialize import materialize
from dbt_spark_models_spark.sources import deltalite

EXAMPLE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "examples",
    "delta_mart",
)


def _fresh_db(spark, db):
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    shutil.rmtree(f"/tmp/spark_models_delta_tests/{db}", ignore_errors=True)
    spark.sql(
        f"CREATE DATABASE {db} LOCATION '/tmp/spark_models_delta_tests/{db}'"
    )


# --- overwrite_partitions unit behavior --------------------------------


def _batch(spark, days, start=0, n=6):
    rows = [
        (start + i, d, float(start + i)) for d in days for i in range(n)
    ]
    return spark.createDataFrame(rows, "k int, day string, v double")


def test_overwrite_partitions_replaces_only_touched(spark, tmp_path):
    path = str(tmp_path / "t")
    deltalite.write(
        spark, _batch(spark, ["a", "b", "c"]), path, "overwrite", ["day"]
    )
    before = deltalite._replay_state(path)["active"]
    deltalite.write(
        spark, _batch(spark, ["b"], start=100), path, "overwrite_partitions"
    )
    after = deltalite._replay_state(path)["active"]
    # a and c files byte-identical (same add entries), b fully replaced
    keep = {p for p in before if before[p]["partitionValues"]["day"] != "b"}
    assert keep <= set(after)
    assert not any(
        after[p]["partitionValues"]["day"] == "b" and p in before for p in after
    )
    got = deltalite.read(spark, path)
    assert got.filter("day = 'b'").agg(F.min("k")).first()[0] == 100
    assert got.filter("day = 'a'").count() == 6
    # the commit is ONE atomic version
    hist = deltalite.describe_history(path)
    assert hist[0]["operation"] == "OVERWRITE_PARTITIONS"


def test_overwrite_partitions_on_unpartitioned_refused(spark, tmp_path):
    path = str(tmp_path / "u")
    deltalite.write(spark, _batch(spark, ["a"]), path, "overwrite")
    with pytest.raises(ValueError, match="overwrite_partitions"):
        deltalite.write(
            spark, _batch(spark, ["a"]), path, "overwrite_partitions"
        )


def test_overwrite_partitions_first_write_creates(spark, tmp_path):
    path = str(tmp_path / "c")
    deltalite.write(
        spark,
        _batch(spark, ["a"]),
        path,
        "overwrite_partitions",
        ["day"],
    )
    assert deltalite.read(spark, path).count() == 6


def test_overwrite_partitions_refused_on_append_only(spark, tmp_path):
    path = str(tmp_path / "ao")
    deltalite.write(spark, _batch(spark, ["a"]), path, "overwrite", ["day"])
    deltalite.set_table_property(path, "delta.appendOnly", "true")
    with pytest.raises(ValueError, match="appendOnly|append"):
        deltalite.write(
            spark, _batch(spark, ["a"], start=50), path, "overwrite_partitions"
        )


# --- project build through the Runner ----------------------------------


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    db = "dl_fmt_test"
    _fresh_db(spark, db)
    project = Project.load(EXAMPLE)
    r1 = Runner(
        spark=spark, project=project, database=db,
        vars={"sf_dir": sf_dir, "cutoff_date": "1996-01-01"},
    )
    res1 = r1.run()
    assert all(r.status == "success" for r in res1), res1
    r2 = Runner(
        spark=spark, project=project, database=db,
        vars={"sf_dir": sf_dir, "cutoff_date": "1995-07-01"},
    )
    res2 = r2.run()
    assert all(r.status == "success" for r in res2), res2
    snaps = r2.snapshot(run_ts="2024-02-01 00:00:00")
    assert all(r.status == "success" for r in snaps), snaps
    return db, r2


def test_no_catalog_table_no_parquet_fallback(spark, built):
    """The old behavior materialized a parquet catalog table; now the
    model must exist ONLY as a DeltaLite log + temp view."""
    db, _ = built
    assert not spark.catalog.tableExists(f"{db}.orders_monthly")
    path = dlt.table_path(spark, db, "orders_monthly")
    assert os.path.isdir(os.path.join(path, "_delta_log"))


def test_incremental_vs_rebuild_parity(spark, built, sf_dir):
    """Two-run incremental build == one-shot full refresh, column for
    column (the reference's insert_overwrite contract on delta)."""
    db, _ = built
    incr = dlt.read(spark, db, "orders_monthly")
    db2 = "dl_fmt_rebuild"
    _fresh_db(spark, db2)
    project = Project.load(EXAMPLE)
    rf = Runner(
        spark=spark, project=project, database=db2,
        vars={"sf_dir": sf_dir, "cutoff_date": "1995-07-01"},
    )
    # full refresh at the SECOND cutoff: non-incremental render is
    # < cutoff, so parity needs the union of both branches — instead
    # rebuild with the same two-run protocol and compare
    res1 = rf.run()
    assert all(r.status == "success" for r in res1), res1
    res2 = rf.run()
    assert all(r.status == "success" for r in res2), res2
    reb = dlt.read(spark, db2, "orders_monthly")
    assert incr.exceptAll(reb).count() == 0
    assert reb.exceptAll(incr).count() == 0


def test_dynamic_overwrite_kept_old_partitions_untouched(spark, built):
    """Months before the second cutoff keep their FIRST-run files: the
    overlap months were replaced, the rest never rewritten."""
    db, _ = built
    path = dlt.table_path(spark, db, "orders_monthly")
    v0 = deltalite._replay_state(path, 0)["active"]
    now = deltalite._replay_state(path)["active"]
    untouched = [
        p
        for p in now
        if (now[p].get("partitionValues") or {}).get("order_month", "")
        < "1995-07-01"
    ]
    assert untouched, "expected pre-cutoff partitions to exist"
    assert all(p in v0 for p in untouched)
    replaced = [
        p
        for p in v0
        if (v0[p].get("partitionValues") or {}).get("order_month", "")
        >= "1995-07-01"
    ]
    assert replaced and all(p not in now for p in replaced)


def test_history_and_cdf_on_built_mart(spark, built):
    db, _ = built
    path = dlt.table_path(spark, db, "orders_monthly")
    ops = [h["operation"] for h in deltalite.describe_history(path)]
    assert "OVERWRITE_PARTITIONS" in ops
    assert "OVERWRITE" in ops
    # CDF enabled via tblproperties config on the model
    meta = deltalite._replay_state(path)["meta"]
    assert meta["configuration"]["delta.enableChangeDataFeed"] == "true"


def test_snapshot_is_deltalite_backed(spark, built):
    db, _ = built
    path = dlt.table_path(spark, db, "customer_tier_snapshot")
    assert deltalite.latest_version(path) is not None
    snap = dlt.read(spark, db, "customer_tier_snapshot")
    assert snap.filter("dbt_valid_to IS NOT NULL").count() == 0
    assert {"dbt_scd_id", "dbt_valid_from", "dbt_valid_to"} <= set(snap.columns)


def test_checks_resolve_delta_views(spark, built):
    _, runner = built
    results = runner.test()
    assert results, "expected project checks to run"
    assert all(r.status == "success" for r in results), results


def test_erase_on_deltalite_table(spark, built):
    db, runner = built
    before = dlt.read(spark, db, "customer_rollup")
    victims = [r[0] for r in before.select("o_custkey").limit(3).collect()]
    n_before = before.count()
    out = runner.erase("o_custkey", victims)
    eras = [r for r in out if r.action == "erase" and r.status == "success"]
    assert eras, out
    after = dlt.read(spark, db, "customer_rollup")
    assert after.filter(F.col("o_custkey").isin(victims)).count() == 0
    assert after.count() == n_before - len(victims)
    # erase is itself one atomic commit → time travel still shows pre-state
    hist = deltalite.describe_history(
        dlt.table_path(spark, db, "customer_rollup")
    )
    assert hist[0]["operation"] == "OVERWRITE"


def test_maintain_optimize_and_vacuum(spark, built):
    """Runner.maintain: OPTIMIZE compacts, VACUUM reclaims files only the
    pre-overwrite snapshots referenced, reads are unchanged, and the temp
    view survives the reclaim."""
    db, runner = built
    before = dlt.read(spark, db, "orders_monthly").collect()
    path = dlt.table_path(spark, db, "orders_monthly")

    def files_on_disk():
        return sum(
            1
            for dirpath, _d, files in os.walk(path)
            if "_delta_log" not in dirpath
            for f in files
            if f.endswith(".parquet")
        )

    disk_before = files_on_disk()
    out = runner.maintain(
        optimize=True, vacuum_retain_versions=0, log_retain_versions=2
    )
    ok = [r for r in out if r.status == "success"]
    assert len(ok) == len(out) and ok, out
    # replaced first-run files for the overlap months are now reclaimed
    assert files_on_disk() < disk_before
    after = dlt.read(spark, db, "orders_monthly").collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # the refreshed temp view scans the compacted snapshot
    assert spark.table(dlt.view_name(db, "orders_monthly")).count() == len(after)


# --- on_schema_change on the delta path --------------------------------


def test_on_schema_change_append_new_columns_delta(spark):
    db = "dl_osc_test"
    _fresh_db(spark, db)
    cfg = dict(
        materialized="incremental",
        incremental_strategy="append",
        file_format="delta",
        on_schema_change="append_new_columns",
    )
    materialize(spark, "t", "SELECT 1 AS k, 'x' AS a", cfg, db)
    materialize(spark, "t", "SELECT 2 AS k, 'y' AS a, 9.5 AS extra", cfg, db)
    df = dlt.read(spark, db, "t")
    assert set(df.columns) == {"k", "a", "extra"}
    rows = {r["k"]: r["extra"] for r in df.collect()}
    assert rows[1] is None and rows[2] == 9.5
    # ignore mode drops the new column instead
    cfg2 = dict(cfg, on_schema_change="ignore")
    materialize(spark, "t", "SELECT 3 AS k, 'z' AS a, 1.0 AS other", cfg2, db)
    df2 = dlt.read(spark, db, "t")
    assert "other" not in df2.columns
    assert df2.count() == 3


# --- one table scan per table state -------------------------------------


def test_day2_insert_overwrite_attaches_once(spark, sf_dir, monkeypatch):
    """A day-2 run of a delta insert_overwrite model builds its table scan
    and attaches its temp view once, after its own commit: the view of
    the day-1 commit is still current before it, and the committed schema
    comes from the log."""
    db = "dl_attach_once"
    _fresh_db(spark, db)
    project = Project.load(EXAMPLE)

    def run(cutoff):
        r = Runner(
            spark=spark, project=project, database=db,
            vars={"sf_dir": sf_dir, "cutoff_date": cutoff},
        )
        res = r.run(names=["stg_orders", "orders_monthly"])
        assert all(x.status == "success" for x in res), res

    run("1996-01-01")
    path = dlt.table_path(spark, db, "orders_monthly")
    view = dlt.view_name(db, "orders_monthly")
    scans, attaches = [], []
    frame = type(spark.range(1))  # the session's DataFrame class
    read, create_view = deltalite.read, frame.createOrReplaceTempView

    def counting_read(session, table_path, *a, **kw):
        if table_path == path:
            scans.append(table_path)
        return read(session, table_path, *a, **kw)

    def counting_view(df, name):
        if name == view:
            attaches.append(name)
        return create_view(df, name)

    monkeypatch.setattr(deltalite, "read", counting_read)
    monkeypatch.setattr(frame, "createOrReplaceTempView", counting_view)
    run("1995-07-01")
    monkeypatch.undo()
    assert (len(scans), len(attaches)) == (1, 1)
    assert deltalite.describe_history(path)[0]["operation"] == (
        "OVERWRITE_PARTITIONS"
    )
    assert spark.table(view).count() == dlt.read(spark, db, "orders_monthly").count()


def test_this_sees_commits_made_outside_the_runner(spark, tmp_path):
    """{{ this }} of an incremental delta model reflects the table's
    latest commit whoever made it: a materialize() call outside the
    Runner, a writer that attaches no view (another process), and a
    table dropped and recreated up to the same version number."""
    root = tmp_path / "counter"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text("name: counter\n")
    (root / "models" / "counter.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='append',"
        " file_format='delta') }}\n"
        "{% if is_incremental() %}\n"
        "SELECT MAX(n) + 1 AS n FROM {{ this }}\n"
        "{% else %}\n"
        "SELECT 1 AS n\n"
        "{% endif %}"
    )
    db = "dl_this_outside"
    _fresh_db(spark, db)
    project = Project.load(str(root))
    cfg = dict(
        materialized="incremental", incremental_strategy="append", file_format="delta"
    )
    path = dlt.table_path(spark, db, "counter")

    def run_max():
        res = Runner(spark=spark, project=project, database=db).run()
        assert [(r.node, r.status) for r in res] == [("counter", "success")], res
        return dlt.read(spark, db, "counter").agg(F.max("n")).first()[0]

    assert run_max() == 1
    assert run_max() == 2
    materialize(spark, "counter", "SELECT 10 AS n", cfg, db)
    assert run_max() == 11
    deltalite.write(spark, spark.sql("SELECT 100 AS n"), path, "append")
    assert run_max() == 101
    head = deltalite.latest_version(path)
    shutil.rmtree(path)
    for n in range(head + 1):
        deltalite.write(spark, spark.sql(f"SELECT {1000 + n} AS n"), path, "append")
    assert deltalite.latest_version(path) == head
    assert run_max() == 1000 + head + 1
