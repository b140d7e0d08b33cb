"""Spans around the engine's layers, recorded from outside the engine.

``Tracer.install()`` wraps the public entry points of each layer module
(``plans.project``, ``plans.jinja``, ``plans.runner``, ``plans.materialize``,
``plans.snapshots``, ``plans.checks`` via ``Runner.test``,
``sources.deltalite`` and ``SparkSession.sql``) so that every call records
a span: name, start, end, parent span and a trace id (the query or node
the work belongs to).  Every span also sets a Spark job group
``pb:<span id>``, so the jobs and stages in Spark's status store can be
attributed to spans after the run.  Spans stay in memory while the
workload runs; ``summary()`` turns them into per-layer metrics and
``dump()`` writes them out.  Nothing is recorded while ``active`` is
false, and no engine file changes.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SQL_KINDS = (
    "create_view", "create_table", "create_db", "insert", "select",
    "drop", "alter", "describe", "other",
)
MAT_KINDS = ("view", "table", "incremental", "seed", "other")
_MAT_BY_ACTION = {
    "view": "view",
    "created": "table",
    "replaced": "table",
    "seeded": "seed",
    "overwritten_partitions": "incremental",
    "appended": "incremental",
    "merged": "incremental",
    "overwritten": "incremental",
}
_LEADING_COMMENTS = re.compile(r"^(\s+|--[^\n]*\n|/\*.*?\*/)+", re.S)


def sql_kind(statement: str) -> str:
    """Statement kind from its leading keywords."""
    words = _LEADING_COMMENTS.sub("", statement).upper().split(None, 6)
    if not words:
        return "other"
    head = words[0]
    if head == "CREATE":
        rest = [w for w in words[1:] if w not in ("OR", "REPLACE", "TEMPORARY", "TEMP", "GLOBAL")]
        obj = rest[0] if rest else ""
        if obj == "VIEW":
            return "create_view"
        if obj in ("DATABASE", "SCHEMA"):
            return "create_db"
        return "create_table"
    if head in ("SELECT", "WITH", "(", "VALUES", "FROM"):
        return "select"
    if head in ("INSERT", "MERGE"):
        return "insert"
    if head in ("DROP", "TRUNCATE"):
        return "drop"
    if head == "ALTER":
        return "alter"
    if head in ("DESCRIBE", "DESC", "SHOW"):
        return "describe"
    return "other"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _tree(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue
            out[path] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> list[tuple[str, int]]:
    return [(p, sz) for p, (sz, mt) in after.items() if before.get(p) != (sz, mt)]


def _dir_bytes(root: str) -> int:
    return sum(sz for sz, _ in _tree(root).values()) if os.path.isdir(root) else 0


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark, warehouse: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.warehouse = warehouse
        self.active = False
        # "build" or "day": lets the summary tell incremental-day writes apart
        self.phase = ""
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 1
        self._installed: list[tuple[object, str, object]] = []

    # --- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            self._next_id, name, 0.0,
            parent=parent.id if parent else None,
            trace_id=trace_id or (parent.trace_id if parent else ""),
            attrs={**attrs, "phase": self.phase},
        )
        self._next_id += 1
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb:{sp.id}")
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(sp)

    @contextmanager
    def writes(self, sp: Span | None):
        """Record files the enclosed call wrote under the warehouse."""
        if sp is None:
            yield
            return
        before = _tree(self.warehouse)
        try:
            yield
        finally:
            written = _written(before, _tree(self.warehouse))
            sp.attrs["bytes"] = sum(sz for _, sz in written)
            sp.attrs["files"] = len(written)
            log = [(p, sz) for p, sz in written if f"{os.sep}_delta_log{os.sep}" in p]
            sp.attrs["log_bytes"] = sum(sz for _, sz in log)
            sp.attrs["commits"] = sum(1 for p, _ in log if re.search(r"\d{20}\.json$", p))

    # --- wrappers -----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper_factory) -> None:
        # the raw class attribute, so a classmethod is restored as one
        orig = vars(owner)[attr]
        self._installed.append((owner, attr, orig))
        setattr(owner, attr, wrapper_factory(orig))

    def _simple(self, name: str, trace_from=None):
        def factory(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                tid = trace_from(a, kw) if trace_from else None
                with self.span(name, tid):
                    return orig(*a, **kw)
            return wrapper
        return factory

    def install(self) -> None:
        from pyspark.sql import SparkSession

        from dbt_spark_models_spark.plans import jinja, materialize, project, runner, snapshots
        from dbt_spark_models_spark.plans import deltalite_tables as dlt
        from dbt_spark_models_spark.sources import deltalite

        tracer = self

        def sql_factory(orig):
            @functools.wraps(orig)
            def wrapper(session, sqlQuery, *a, **kw):
                with tracer.span("sql", kind=sql_kind(str(sqlQuery))):
                    return orig(session, sqlQuery, *a, **kw)
            return wrapper

        def mat_factory(orig, seed=False):
            @functools.wraps(orig)
            def wrapper(spark, name, *a, **kw):
                with tracer.span("materialize") as sp:
                    with tracer.writes(sp):
                        res = orig(spark, name, *a, **kw)
                    if sp is not None:
                        sp.attrs["action"] = _MAT_BY_ACTION.get(res.action, "other")
                        if not seed:
                            config = a[1] if len(a) > 1 else kw.get("config", {})
                            database = a[2] if len(a) > 2 else kw.get("database")
                            sp.attrs["table_bytes"] = tracer._table_bytes(
                                dlt, config, database, name)
                    return res
            return wrapper

        def snap_factory(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with tracer.span("snapshots") as sp:
                    with tracer.writes(sp):
                        return orig(*a, **kw)
            return wrapper

        def test_factory(orig):
            @functools.wraps(orig)
            def wrapper(self_, *a, **kw):
                with tracer.span("checks") as sp:
                    out = orig(self_, *a, **kw)
                    if sp is not None:
                        sp.attrs["queries"] = len(out)
                    return out
            return wrapper

        node_tid = lambda a, kw: str(a[1])  # noqa: E731 — (runner, name, ...)
        self._patch(project.Project, "load",
                    lambda orig: classmethod(self._simple("project.load")(orig.__func__)))
        self._patch(runner.Runner, "__post_init__", self._simple("jinja.parse"))
        self._patch(jinja, "compile_node", self._simple("jinja.compile"))
        self._patch(runner.Runner, "_run_node", self._simple("runner.node", node_tid))
        self._patch(runner.Runner, "_snapshot_node", self._simple("runner.node", node_tid))
        self._patch(runner.Runner, "test", test_factory)
        for mod in (runner, materialize):
            self._patch(mod, "materialize", mat_factory)
            self._patch(mod, "load_seed", functools.partial(mat_factory, seed=True))
        for mod in (runner, snapshots):
            self._patch(mod, "snapshot", snap_factory)
        self._patch(snapshots, "snapshot_deltalite", snap_factory)
        for fn in ("write", "merge"):
            self._patch(deltalite, fn, self._simple("deltalite.write"))
        self._patch(SparkSession, "sql", sql_factory)

    def uninstall(self) -> None:
        while self._installed:
            owner, attr, orig = self._installed.pop()
            setattr(owner, attr, orig)

    def _table_bytes(self, dlt, config: dict, database, name: str) -> int:
        if dlt.uses_deltalite(self.spark, config):
            root = dlt.table_path(self.spark, database, name)
        else:
            root = os.path.join(self.warehouse, f"{database}.db" if database else "", name.lower())
        return _dir_bytes(root)

    # --- results ----------------------------------------------------------
    def _spark_stages(self) -> tuple[dict[int, list[int]], dict]:
        """{span id: job ids} for traced jobs, and per-stage metrics."""
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self.sc._jsc.sc().statusStore()
        jobs_by_span: dict[int, list[int]] = {}
        stage_ids: set[int] = set()
        failed_jobs = 0
        for job in conv.asJava(store.jobsList(None)):
            group = job.jobGroup()
            if not group.isDefined() or not str(group.get()).startswith("pb:"):
                continue
            jobs_by_span.setdefault(int(str(group.get())[3:]), []).append(job.jobId())
            stage_ids.update(int(s) for s in conv.asJava(job.stageIds()))
            failed_jobs += str(job.status()) == "FAILED"
        stages = {
            "stages": 0, "tasks": 0, "failed_tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "failed_jobs": failed_jobs,
        }
        empty = self.sc._gateway.new_array(jvm.double, 0)
        for st in conv.asJava(store.stageList(None, False, False, empty, None)):
            if st.stageId() not in stage_ids or str(st.status()) == "SKIPPED":
                continue
            stages["stages"] += 1
            stages["tasks"] += st.numCompleteTasks()
            stages["failed_tasks"] += st.numFailedTasks()
            stages["executor_run_s"] += st.executorRunTime() / 1e3
            stages["executor_cpu_s"] += st.executorCpuTime() / 1e9
            stages["gc_s"] += st.jvmGcTime() / 1e3
            stages["shuffle_read_bytes"] += st.shuffleReadBytes()
            stages["shuffle_write_bytes"] += st.shuffleWriteBytes()
            stages["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return jobs_by_span, stages

    def _sql_executions(self, job_ids: set[int]) -> int:
        """SQL executions (SQL status store) that ran any traced job."""
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        store = self.spark._jsparkSession.sharedState().statusStore()
        return sum(
            1 for ex in conv.asJava(store.executionsList())
            if any(int(j) in job_ids for j in conv.asJava(ex.jobs()).keySet())
        )

    def summary(self, traced_wall_s: float, cores: int, per: float = 1.0) -> dict[str, float]:
        """Per-layer metrics over every recorded span, each total divided
        by ``per`` (the number of units of work the spans cover)."""
        spans = self.spans
        by_id = {s.id: s for s in spans}
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def named(name):
            return [s for s in spans if s.name == name]

        def descendants(sp):
            stack, out = list(children.get(sp.id, [])), []
            while stack:
                c = stack.pop()
                out.append(c)
                stack.extend(children.get(c.id, []))
            return out

        def under(sp, name):
            p = sp.parent
            while p is not None:
                if by_id[p].name == name:
                    return True
                p = by_id[p].parent
            return False

        jobs_by_span, stages = self._spark_stages()
        m: dict[str, float] = {}
        build = named("operators.build")
        m["operators.build_s"] = sum(s.seconds for s in build)
        m["operators.action_s"] = sum(s.seconds for s in named("operators.action"))
        build_ids = {s.id for s in build}
        m["operators.eager_jobs"] = sum(
            len(j) for sid, j in jobs_by_span.items()
            if sid in build_ids or (sid in by_id and under(by_id[sid], "operators.build"))
        )
        m["project.load_s"] = sum(s.seconds for s in named("project.load"))
        m["jinja.parse_s"] = sum(s.seconds for s in named("jinja.parse"))
        compiles = named("jinja.compile")
        m["jinja.compile_s"] = sum(s.seconds for s in compiles)
        nodes = named("runner.node")
        m["runner.nodes"] = len(nodes)
        in_node = sum(1 for c in compiles if under(c, "runner.node"))
        m["jinja.compiles_per_node"] = in_node / len(nodes) if nodes else 0.0
        m["runner.node_self_s"] = sum(
            n.seconds - _union_seconds([
                (d.start, d.end) for d in descendants(n)
                if d.name in ("jinja.compile", "materialize", "snapshots")
            ])
            for n in nodes
        )
        sqls = named("sql")
        m["sql.calls"] = len(sqls)
        m["sql.busy_s"] = sum(s.seconds for s in sqls)
        for kind in SQL_KINDS:
            ks = [s for s in sqls if s.attrs["kind"] == kind]
            m[f"sql.{kind}.calls"] = len(ks)
            m[f"sql.{kind}.busy_s"] = sum(s.seconds for s in ks)
        mats = named("materialize")
        m["materialize.calls"] = len(mats)
        m["materialize.busy_s"] = sum(s.seconds for s in mats)
        for kind in MAT_KINDS:
            ks = [s for s in mats if s.attrs.get("action") == kind]
            m[f"materialize.{kind}.calls"] = len(ks)
            m[f"materialize.{kind}.busy_s"] = sum(s.seconds for s in ks)
        m["materialize.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in mats)
        m["materialize.files_written"] = sum(s.attrs.get("files", 0) for s in mats)
        snaps = named("snapshots")
        m["snapshots.calls"] = len(snaps)
        m["snapshots.busy_s"] = sum(s.seconds for s in snaps)
        checks = named("checks")
        m["checks.queries"] = sum(s.attrs.get("queries", 0) for s in checks)
        m["checks.busy_s"] = sum(s.seconds for s in checks)
        writers = mats + snaps
        m["deltalite.commits"] = sum(s.attrs.get("commits", 0) for s in writers)
        m["deltalite.write_s"] = sum(s.seconds for s in named("deltalite.write"))
        m["deltalite.log_bytes"] = sum(s.attrs.get("log_bytes", 0) for s in writers)
        incr = [s for s in mats if s.attrs.get("action") == "incremental" and s.attrs["phase"] == "day"]
        table_bytes = sum(s.attrs.get("table_bytes", 0) for s in incr)
        m["incr.rewrite_ratio"] = (
            sum(s.attrs.get("bytes", 0) for s in incr) / table_bytes if table_bytes else 0.0
        )
        for key, val in stages.items():
            m[f"spark.{key}"] = val
        m["spark.jobs"] = sum(len(j) for j in jobs_by_span.values())
        m["spark.core_busy_ratio"] = (
            stages["executor_run_s"] / (traced_wall_s * cores) if traced_wall_s else 0.0
        )
        m["spark.sql_executions"] = self._sql_executions(
            {j for js in jobs_by_span.values() for j in js})
        m["trace.spans"] = len(spans)
        ratios = {"jinja.compiles_per_node", "incr.rewrite_ratio", "spark.core_busy_ratio"}
        return {k: (v if k in ratios else v / per) for k, v in m.items()}

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)
