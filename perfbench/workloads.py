"""The benchmark's workloads.

Each takes a ``Context`` (session, working directory, seed, run length,
tracer) and returns a ``Result``: timed samples for the end-to-end
metrics, how many operations it attempted and how many failed, and, on a
traced run, the tracer's per-layer summary.  Outputs are checked outside
the timed regions.  See README.md for why each workload exists and which
layer metrics it is meant to move.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time
from dataclasses import dataclass, field

import datagen

# A fixed subset of the 58 queries in bench.HEADLINE: one or two per
# operator family, chosen so one pass fits the run budget (see README.md).
QUERIES = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "agg_grouping_sets",
    "window_sessionization",
    "window_topk_orders_per_customer",
    "join_asof_purchase_last_view",
    "nested_status_history_traversal",
    "explode_word_counts",
    "train_logreg_quality_weights",
    "pandas_udaf_weighted_median",
]
QUERY_SCALE = 1

# example projects of daily_marts and the incremental models whose table
# must equal a from-scratch build after the last day.  Left out of that
# check: mini_mart.event_type_log (append with a high-water mark keeps days
# past the cutoff that a fresh build excludes) and delta_mart's two models
# (a fresh build reads only orders before cutoff_date, a day-N run adds
# the later ones) -- both differ from a fresh build by design.
MART_PROJECTS = {"mini_mart": ["daily_user_stats"], "delta_mart": []}
# the variable both projects' incremental logic keys on
MART_DATE_VAR = "cutoff_date"
MART_SCALE = 10
# at least four timed passes of the ten queries: with three, the median
# pass still sat in the JIT warm-up and spread twice as much between runs
MIN_QUERY_SAMPLES = 40
MIN_DAYS = 1


@dataclass
class Context:
    spark: object
    root: str  # checkout root
    work: str  # this run's private directory
    seed: int
    seconds: float
    cores: int
    tracer: object | None = None


@dataclass
class Result:
    first_pass_s: float = 0.0
    passes: list[float] = field(default_factory=list)
    op_seconds: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)


# --- query_suite -------------------------------------------------------------
def _oracle_problems(spark_pdf, duck_pdf) -> list[str]:
    """tools/selfcheck.py's comparison: row count, column names, values."""
    from tools.selfcheck import _fetch, _normalize, _values_close

    scols, srows = _fetch(spark_pdf)
    dcols, drows = _fetch(duck_pdf)
    if len(srows) != len(drows):
        return [f"rowcount spark={len(srows)} duck={len(drows)}"]
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
        return [f"columns spark={sorted(scols)} duck={sorted(dcols)}"]
    sn, dn = _normalize(srows, scols), _normalize(drows, dcols)
    bad = sum(1 for x, y in zip(sn, dn) if not _values_close(x, y))
    return [f"{bad}/{len(sn)} rows differ"] if bad else []


def query_suite(ctx: Context) -> Result:
    import duckdb

    from dbt_spark_models_spark.operators import load_all

    res = Result()
    spark, tracer = ctx.spark, ctx.tracer
    data = datagen.write(os.path.join(ctx.work, "data"), ctx.seed, QUERY_SCALE)
    registry = load_all()
    con = duckdb.connect()
    for fn in sorted(os.listdir(data)):
        con.sql(f"CREATE VIEW {fn[:-len('.parquet')]} AS SELECT * FROM '{data}/{fn}'")

    # first pass: cold JVM, each result fetched to the driver and checked
    # against its DuckDB oracle (the check itself is not timed)
    first = res.info["first_pass"] = {}
    for name in QUERIES:
        q = registry[name]
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            pdf = q.fn(spark, data).toPandas()
        except Exception as e:  # noqa: BLE001 — a failing query is a result
            res.first_pass_s += time.perf_counter() - t0
            res.count(False, f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        first[name] = time.perf_counter() - t0
        res.first_pass_s += first[name]
        problems = _oracle_problems(pdf, con.sql(q.oracle).df())
        res.count(not problems, f"{name}: {'; '.join(problems)}")

    # timed passes: noop sink, closed loop with one client
    def one_pass(traced: bool) -> float:
        start = time.perf_counter()
        for name in QUERIES:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span("operators.build", name):
                        df = registry[name].fn(spark, data)
                    with tracer.span("operators.action", name):
                        df.write.format("noop").mode("overwrite").save()
                else:
                    df = registry[name].fn(spark, data)
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                res.count(False, f"{name}: {type(e).__name__}: {e}"[:300])
                continue
            res.op_seconds.append(time.perf_counter() - t0)
            res.count(True, name)
        return time.perf_counter() - start

    if tracer is None:
        t_end = time.perf_counter() + ctx.seconds
        while len(res.op_seconds) < MIN_QUERY_SAMPLES or time.perf_counter() < t_end:
            res.passes.append(one_pass(False))
    else:
        # untraced, traced, traced, untraced: a warm-up trend shared by
        # all four passes cancels out of the overhead
        first = one_pass(False)
        tracer.active = True
        traced = [one_pass(True), one_pass(True)]
        tracer.active = False
        last = one_pass(False)
        res.passes = [first, *traced, last]
        res.layers = tracer.summary(sum(traced), ctx.cores, per=len(traced))
        res.layers["trace.overhead_s"] = statistics.mean(traced) - (first + last) / 2
    res.info.update({"queries": len(QUERIES), "scale": QUERY_SCALE})
    return res


# --- daily_marts -------------------------------------------------------------
def _shift(date: str, days: int) -> str:
    return str(dt.date.fromisoformat(str(date)) + dt.timedelta(days=days))


def _count_results(res: Result, results, step: str) -> None:
    for r in results:
        if r.kind in ("model", "snapshot", "test"):
            res.op_seconds.append(r.seconds)
        res.count(r.status == "success",
                  f"{step} {r.kind} {r.node}: {r.status} {r.message}"[:300])


def _same_rows(spark, table: str, query: str) -> bool:
    """Order-insensitive multiset equality of a table and a query."""
    cols = ", ".join(f"`{c}`" for c in spark.sql(query).columns)
    a, b = f"SELECT {cols} FROM {table}", f"SELECT {cols} FROM (\n{query}\n) AS fresh"
    n = spark.sql(
        f"SELECT COUNT(*) FROM (({a} EXCEPT ALL {b}) UNION ALL ({b} EXCEPT ALL {a}))"
    ).collect()[0][0]
    return n == 0


def daily_marts(ctx: Context) -> Result:
    """Full build, incremental days, then the fresh-build comparison, over
    the example projects, each in its own database."""
    from dbt_spark_models_spark.plans import Project, Runner

    res = Result()
    tracer = ctx.tracer
    data = datagen.write(os.path.join(ctx.work, "data"), ctx.seed, MART_SCALE)

    def make_runner(key: str, day: int):
        project = Project.load(os.path.join(ctx.root, "examples", key))
        return Runner(spark=ctx.spark, project=project, database=f"dm_{key}", vars={
            "sf_dir": data, MART_DATE_VAR: _shift(project.vars[MART_DATE_VAR], day)})

    def step(day: int, phase: str, traced: bool) -> float:
        if tracer is not None:
            tracer.active, tracer.phase = traced, phase
        t0 = time.perf_counter()
        for key in MART_PROJECTS:
            r = make_runner(key, day)
            if day == 0:
                out = r.build()
            else:
                out = r.run() + r.snapshot() + r.test()
            _count_results(res, out, f"day{day}")
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.active = False
        return wall

    t_end = time.perf_counter() + ctx.seconds
    res.first_pass_s = step(0, "build", True)
    if tracer is None:
        day = 0
        while day < MIN_DAYS or time.perf_counter() < t_end:
            day += 1
            res.passes.append(step(day, "day", False))
    else:
        # untraced, traced, untraced days: a warm-up trend shared by the
        # three days cancels out of the overhead
        res.passes = [step(1, "day", False), step(2, "day", True), step(3, "day", False)]
        day = 3
        res.layers = tracer.summary(res.first_pass_s + res.passes[1], ctx.cores)
        res.layers["trace.overhead_s"] = res.passes[1] - (res.passes[0] + res.passes[2]) / 2

    # every checked incremental table must now equal a fresh build at the
    # last day's date.  That day rebuilt every view and table from its
    # upstreams, so by induction over the DAG it is enough that each checked
    # table equals its own full-refresh SQL evaluated now (untimed).
    for key, models in MART_PROJECTS.items():
        runner = make_runner(key, day)
        for model in models:
            db = runner.database
            try:
                full_sql = runner._compile(runner.project.models[model], is_incremental=False)
                ok = _same_rows(ctx.spark, f"{db}.{model}", full_sql)
                what = f"{db}.{model} differs from a fresh build at day {day}"
            except Exception as e:  # noqa: BLE001
                ok, what = False, f"{db}.{model}: {type(e).__name__}: {e}"[:300]
            res.count(ok, what)
    res.info.update({"days": day, "projects": list(MART_PROJECTS), "scale": MART_SCALE})
    return res


WORKLOADS = {"query_suite": query_suite, "daily_marts": daily_marts}
