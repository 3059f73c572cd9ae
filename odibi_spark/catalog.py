"""System catalog: run/node/table metadata persisted as small parquet
tables (reference: odibi/catalog.py:146 CatalogManager with
``meta_pipelines/meta_nodes/meta_runs/meta_tables/meta_metrics/
meta_state`` Delta tables; live example examples/odibi-metrics/data/
_system_catalog/).

On a cluster these become Delta tables with MERGE upserts; here the
parquet key-value/append forms keep identical schemas.

Every meta-table write is one ``ParquetTarget`` commit. The tables hold
O(runs x nodes) rows, so on a local root the per-run bookkeeping stays
on the driver and launches no Spark job: appends and the
``meta_daily_stats`` fold commit pyarrow tables, and the schema
snapshot's read-latest and the fold read with ``io/append.read_rows``
(through Spark on a URI root). The query accessors (``runs()``, ...)
and maintenance stay Spark DataFrames; ``cleanup`` and ``optimize``
raise ``CommitConflict`` when an append lands during them. The fold,
``cleanup`` and ``rebuild_daily_stats`` take turns on a lock file.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from odibi_spark.io.append import _is_local
from odibi_spark.patterns.merge_target import CommitConflict, ParquetTarget


RUN_SCHEMA = (
    "run_id string, pipeline string, node string, status string, "
    "rows_written bigint, error string, duration_s double, "
    "started_at double, finished_at double"
)
TABLE_SCHEMA = (
    "table_path string, pipeline string, node string, format string, "
    "schema_json string, updated_at double"
)
# per-run observability metrics, long/narrow form (reference treats
# run metrics as first-class catalog rows: odibi/catalog.py:844
# meta_metrics + derived_updater.py rollups)
METRIC_SCHEMA = (
    "run_id string, pipeline string, node string, metric string, "
    "value double, recorded_at double"
)
DAILY_STATS_SCHEMA = (
    "date string, pipeline string, runs bigint, successes bigint, "
    "failures bigint, total_rows bigint, total_duration_s double"
)
# deployed pipeline/node definitions (reference: odibi/catalog.py:872
# meta_pipelines, :888 meta_nodes — version_hash keys staleness)
PIPELINE_SCHEMA = (
    "pipeline string, version_hash string, n_nodes bigint, "
    "config_json string, deployed_at double"
)
NODE_SCHEMA = (
    "pipeline string, node string, version_hash string, "
    "depends_on_json string, config_json string, deployed_at double"
)
# versioned schema snapshots with per-version drift columns
# (reference: odibi/catalog.py:903 meta_schemas — schema_version,
# schema_hash, columns JSON, columns_added/removed/type_changed;
# track_schema at :3248 appends only on hash change)
SCHEMA_SNAPSHOT_SCHEMA = (
    "table_path string, schema_version bigint, schema_hash string, "
    "columns_json string, captured_at double, pipeline string, "
    "node string, run_id string, columns_added string, "
    "columns_removed string, columns_type_changed string"
)
# the meta_<name> tables that optimize() compacts and sync_to() copies
META_TABLES = (
    "runs", "metrics", "tables", "daily_stats",
    "pipelines", "nodes", "schema_snapshots", "state",
)


def _table_row(
    table_path: str, pipeline: str, node: str, df: DataFrame, format: str,
) -> tuple:
    schema_json = json.dumps(
        {f.name: f.dataType.simpleString() for f in df.schema.fields}
    )
    return (table_path, pipeline, node, format, schema_json, time.time())


def _metric_rows(
    run_id: str, pipeline: str, node: str, metrics: dict[str, float],
    recorded_at: float,
) -> list[tuple]:
    return [
        (run_id, pipeline, node, k, float(v), recorded_at)
        for k, v in metrics.items()
    ]


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    def _append(self, name: str, rows: list[tuple], schema: str) -> None:
        """Append ``rows`` in one commit; two pipelines recording into
        the same catalog at once both land, the loser of the publish
        staging again (the reference's catalog retries concurrent Delta
        commits the same way — odibi/state/__init__.py:43-107)."""
        from odibi_spark.io.append import rows_table

        ParquetTarget(self.spark, self._table_path(name)).append(rows_table(rows, schema))

    def record_run(
        self,
        *,
        run_id: str,
        pipeline: str,
        results: dict,
        started_at: float,
        finished_at: float,
    ) -> None:
        rows = [
            (
                run_id, pipeline, name, r.status,
                r.rows_written, r.error, r.duration_s,
                started_at, finished_at,
            )
            for name, r in results.items()
        ]
        self._append("runs", rows, RUN_SCHEMA)

    def record_table(
        self, *, table_path: str, pipeline: str, node: str, df: DataFrame,
        format: str = "parquet",
    ) -> None:
        self._append(
            "tables", [_table_row(table_path, pipeline, node, df, format)],
            TABLE_SCHEMA,
        )

    def record_metrics(
        self, *, run_id: str, pipeline: str, node: str,
        metrics: dict[str, float],
    ) -> None:
        """Append per-run metrics in long/narrow (metric, value) form —
        one catalog table serves every metric family (row counts,
        durations, validation failure counts) without schema churn,
        the reference's meta_metrics posture (odibi/catalog.py:844)."""
        self._append(
            "metrics", _metric_rows(run_id, pipeline, node, metrics, time.time()),
            METRIC_SCHEMA,
        )

    def update_daily_stats(
        self,
        *,
        pipeline: str,
        results: dict,
        started_at: float,
        finished_at: float,
    ) -> DataFrame:
        """Fold ONE run into the ``meta_daily_stats`` derived rollup
        (reference: odibi/catalog.py:1085, PK (date, pipeline_name),
        upserted by derived_updater on pipeline completion) with
        merge_sum semantics: the run's measures are added to its
        (date, pipeline) row, or start a new row.

        The table is O(days x pipelines) rows, so the fold runs on the
        driver: read with ``read_rows``, add in Python, commit the
        result as a pyarrow table in one ``ParquetTarget`` version.
        Read -> fold -> commit holds the table's lock, so concurrent
        folds (layer-parallel schedulers, replays of different runs),
        ``cleanup`` and ``rebuild_daily_stats`` take turns instead of
        losing updates. Returns the table read with its known schema
        (no inference job)."""
        import pyarrow as pa

        from odibi_spark.io.append import parse_ddl, read_rows

        ok = all(r.status == "success" for r in results.values())
        date = time.strftime("%Y-%m-%d", time.gmtime(started_at))
        run = {
            "runs": 1,
            "successes": 1 if ok else 0,
            "failures": 0 if ok else 1,
            "total_rows": int(sum(r.rows_written or 0 for r in results.values())),
            "total_duration_s": float(round(finished_at - started_at, 3)),
        }
        path = self._table_path("daily_stats")
        target = ParquetTarget(self.spark, path)
        with self._lock("daily_stats"):
            rows = read_rows(self.spark, path, DAILY_STATS_SCHEMA) if target.live() else []
            for row in rows:
                if (row["date"], row["pipeline"]) == (date, pipeline):
                    for m, v in run.items():
                        row[m] += v
                    break
            else:
                rows.append({"date": date, "pipeline": pipeline, **run})
            target.overwrite(pa.Table.from_pylist(rows, schema=parse_ddl(DAILY_STATS_SCHEMA)))
            # listed under the lock: the next writer's commit waits for it
            return self.spark.read.schema(DAILY_STATS_SCHEMA).parquet(path)

    def deploy(self, config) -> str:
        """Record a pipeline's definition in the catalog (reference CLI
        ``deploy`` verb: odibi/cli/main.py:439 — definitions become
        queryable metadata). Appends one meta_pipelines row + one
        meta_nodes row per node, keyed by a content hash of the config
        so repeated deploys of identical YAML are detectable (latest
        row per (pipeline, version_hash) wins on read). Returns the
        version hash."""
        import hashlib

        cfg_json = config.model_dump_json()
        vh = hashlib.sha256(cfg_json.encode()).hexdigest()[:16]
        now = time.time()
        self._append(
            "pipelines",
            [(config.name, vh, len(config.nodes), cfg_json, now)],
            PIPELINE_SCHEMA,
        )
        self._append(
            "nodes",
            [
                (
                    config.name, n.name, vh,
                    json.dumps(n.depends_on), n.model_dump_json(), now,
                )
                for n in config.nodes
            ],
            NODE_SCHEMA,
        )
        return vh

    def pipelines(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/meta_pipelines")

    def nodes(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/meta_nodes")

    def snapshot_schema(
        self,
        table_path: str,
        df: DataFrame,
        *,
        pipeline: str | None = None,
        node: str | None = None,
        run_id: str | None = None,
    ) -> dict:
        """Versioned schema snapshot with drift detection (reference
        ``track_schema``, odibi/catalog.py:3248 + meta_schemas schema
        at :903): hash the canonical {column: type} map; when it
        differs from the latest recorded version, append ONE row to
        ``meta_schema_snapshots`` carrying the bumped version and the
        computed drift (columns added / removed / type-changed as
        sorted JSON arrays). An unchanged schema appends nothing.

        Returns {"changed", "version"} (+ "previous_version" and the
        drift lists when changed). The read-latest runs on the driver
        (``read_rows``), and the row commits on the version that read
        noted: when another snapshot committed in between, the commit
        conflicts and the snapshot is read and computed again, so two
        snapshots never share a version number."""
        import hashlib

        from odibi_spark.io.append import read_rows, rows_table

        cols = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        canon = json.dumps(cols, sort_keys=True)
        schema_hash = hashlib.md5(canon.encode()).hexdigest()
        path = self._table_path("schema_snapshots")
        target = ParquetTarget(self.spark, path)
        while True:
            target.live()  # notes the version the commit builds on
            prev = max(
                (
                    r for r in read_rows(self.spark, path, SCHEMA_SNAPSHOT_SCHEMA)
                    if r["table_path"] == table_path
                ),
                key=lambda r: r["schema_version"],
                default=None,
            )
            if prev is not None and prev["schema_hash"] == schema_hash:
                return {"changed": False, "version": int(prev["schema_version"])}
            if prev is not None:
                prev_cols = json.loads(prev["columns_json"])
                added = sorted(set(cols) - set(prev_cols))
                removed = sorted(set(prev_cols) - set(cols))
                changed = sorted(
                    c for c in cols if c in prev_cols and cols[c] != prev_cols[c]
                )
                version = int(prev["schema_version"]) + 1
            else:
                added, removed, changed = sorted(cols), [], []
                version = 1
            row = rows_table(
                [(
                    table_path, version, schema_hash, canon, time.time(),
                    pipeline, node, run_id,
                    json.dumps(added), json.dumps(removed), json.dumps(changed),
                )],
                SCHEMA_SNAPSHOT_SCHEMA,
            )
            try:
                target.commit(lambda staged: target._write(row, staged), remove=[])
            except CommitConflict:  # a snapshot committed after the read
                continue
            return {
                "changed": True,
                "version": version,
                "previous_version": int(prev["schema_version"]) if prev else None,
                "columns_added": added,
                "columns_removed": removed,
                "columns_type_changed": changed,
            }

    def sync_table(
        self,
        *,
        table_path: str,
        pipeline: str,
        node: str,
        df: DataFrame,
        format: str = "parquet",
        run_id: str | None = None,
    ) -> dict:
        """Table-registration sync (reference catalog post-write sync:
        register the table row AND track its schema in one call):
        appends the ``meta_tables`` registration row and takes a
        versioned ``meta_schema_snapshots`` drift snapshot. Returns
        the snapshot result."""
        self.record_table(
            table_path=table_path, pipeline=pipeline, node=node,
            df=df, format=format,
        )
        return self.snapshot_schema(
            table_path, df, pipeline=pipeline, node=node, run_id=run_id,
        )

    def schema_snapshots(self, table_path: str | None = None) -> DataFrame:
        """The versioned snapshot log as a queryable meta table."""
        df = self.spark.read.parquet(f"{self.root}/meta_schema_snapshots")
        if table_path is not None:
            df = df.filter(df.table_path == table_path)
        return df

    def schema_drift(self, table_path: str | None = None) -> DataFrame:
        """Schema DRIFT history: every snapshot beyond each table's
        first version — i.e. the moments a table's shape actually
        changed, with what changed (reference CLI ``schema history``
        drift view). Ordered newest-first."""
        from pyspark.sql import functions as F

        return (
            self.schema_snapshots(table_path)
            .filter(F.col("schema_version") > 1)
            .select(
                "table_path", "schema_version", "captured_at",
                "pipeline", "node", "run_id",
                "columns_added", "columns_removed", "columns_type_changed",
            )
            .orderBy(F.desc("captured_at"))
        )

    def schema_history(self, table_path: str | None = None) -> DataFrame:
        """Recorded schema versions over time (reference meta_schemas,
        odibi/catalog.py:903; CLI ``schema history``): meta_tables
        appends one row with schema_json per successful catalogued
        write, so the history IS the append log — deduplicated to
        schema-change points, ordered oldest-first per table."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        t = self.tables()
        if table_path is not None:
            t = t.filter(t.table_path == table_path)
        w = Window.partitionBy("table_path").orderBy("updated_at")
        return (
            t.withColumn("__prev", F.lag("schema_json").over(w))
            .filter(
                F.col("__prev").isNull()
                | (F.col("__prev") != F.col("schema_json"))
            )
            .select("table_path", "schema_json", "updated_at")
            .orderBy("table_path", "updated_at")
        )

    def schema_diff(self, table_path: str) -> dict:
        """Diff the last two recorded schema versions of a table
        (reference CLI ``schema diff``). Returns {added, removed,
        changed, from_at, to_at}; a table with fewer than two recorded
        versions diffs against an empty schema."""
        hist = self.schema_history(table_path).collect()
        if not hist:
            raise ValueError(f"no recorded schema for '{table_path}'")
        prev = json.loads(hist[-2].schema_json) if len(hist) > 1 else {}
        cur = json.loads(hist[-1].schema_json)
        return {
            "table_path": table_path,
            "added": {c: t for c, t in cur.items() if c not in prev},
            "removed": {c: t for c, t in prev.items() if c not in cur},
            "changed": {
                c: {"from": prev[c], "to": cur[c]}
                for c in cur
                if c in prev and prev[c] != cur[c]
            },
            "from_at": hist[-2].updated_at if len(hist) > 1 else None,
            "to_at": hist[-1].updated_at,
        }

    @property
    def derived_guard(self):
        """Exactly-once claim lifecycle for derived-table folds
        (reference: odibi/derived_updater.py meta_derived_applied_runs
        guard; open-format twin patterns/derived_guard.py): each claim
        is a sequence of versioned records under
        ``meta_derived_applied_runs/claims/``, each state change one
        exclusive publish of the next version, as a ``ParquetTarget``
        commit publishes ``_log/<n>.json`` on the same root. Rows are
        queryable via
        ``derived_guard.claims(spark)`` — the meta-table surface."""
        from odibi_spark.patterns.derived_guard import DerivedGuard

        if not hasattr(self, "_derived_guard"):
            self._derived_guard = DerivedGuard(
                f"{self.root}/meta_derived_applied_runs"
            )
        return self._derived_guard

    def state_backend(self):
        """HWM state stored IN the catalog as ``meta_state`` — the
        reference's catalog state backend posture
        (odibi/state/__init__.py catalog-Delta backend; schema
        odibi/catalog.py meta_state key/value). Pass to incremental
        nodes/`run_incremental_dedup` like any other StateBackend."""
        from odibi_spark.state.hwm import ParquetStateBackend

        return ParquetStateBackend(self.spark, f"{self.root}/meta_state")

    def state(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/meta_state")

    def sla_status(
        self, expected_every_hours: dict[str, float],
        *, now: float | None = None,
    ) -> DataFrame:
        """Freshness SLA snapshot (reference: meta_sla_status,
        odibi/catalog.py table list + derived_updater): for each
        pipeline with a declared cadence, the hours since its last
        SUCCESSFUL run and whether that breaches the expectation.
        A pipeline with a declared SLA but no successful run ever is a
        breach (hours_since_success = NULL, breached = true). Derived
        from pipeline_health on demand — cannot drift."""
        from pyspark.sql import functions as F

        ref = float(now if now is not None else time.time())
        sla = self.spark.createDataFrame(
            [(p, float(h)) for p, h in expected_every_hours.items()],
            "pipeline string, expected_every_hours double",
        )
        health = self.pipeline_health(now=ref).select(
            "pipeline", "last_success_at"
        )
        hours = (F.lit(ref) - F.col("last_success_at")) / F.lit(3600.0)
        return (
            sla.join(health, "pipeline", "left")
            .select(
                "pipeline",
                "expected_every_hours",
                F.round(hours, 3).alias("hours_since_success"),
                F.coalesce(
                    hours > F.col("expected_every_hours"), F.lit(True)
                ).alias("breached"),
            )
        )

    # -- maintenance (reference: odibi/cli/system.py — the `odibi
    # system` verb family: cleanup / rebuild-summaries / optimize /
    # sync, executed here on the open-format catalog) ----------------

    #: retention-eligible tables → (age column, kind). Definition
    #: tables (meta_pipelines/meta_nodes/meta_schema_snapshots/meta_state) are
    #: never retention-deleted: they are current-state, not history.
    #: meta_tables is BOTH: its append log is the schema history (old
    #: rows retention-eligible) but its newest row per table_path is
    #: the current-state registry, so cleanup() always exempts that
    #: latest row — the reference's cleanup never touches the table
    #: registry at all (odibi/cli/system.py trims only daily_stats/
    #: failures/observability).
    RETENTION_TABLES = {
        "runs": ("finished_at", "epoch"),
        "metrics": ("recorded_at", "epoch"),
        "tables": ("updated_at", "epoch"),
        "daily_stats": ("date", "date_str"),
    }

    def _table_path(self, name: str) -> str:
        return f"{self.root}/meta_{name}"

    def _exists(self, name: str) -> bool:
        return ParquetTarget(self.spark, self._table_path(name)).live()

    @contextlib.contextmanager
    def _lock(self, name: str):
        """Hold ``meta_<name>.lock`` (``fcntl.flock``: threads and
        processes take turns) on a local root."""
        if not _is_local(self.root):
            yield
            return
        os.makedirs(self.root, exist_ok=True)
        with open(self._table_path(name) + ".lock", "a") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            yield

    def cleanup(
        self,
        retention_days: int | dict[str, int],
        *,
        now: float | None = None,
        dry_run: bool = False,
    ) -> dict[str, dict]:
        """Delete catalog history older than the retention window
        (reference: system.py:385-448 `_cleanup_command` with
        per-table RetentionConfig cutoffs + --dry-run counts).

        ``retention_days`` is a single window for every history table
        or a {table: days} mapping (tables absent from the mapping are
        skipped). Returns {table: {expired, kept, deleted}} — with
        ``dry_run`` nothing is rewritten and deleted is 0.
        """
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        ref = float(now if now is not None else time.time())
        report: dict[str, dict] = {}
        for name, (col, kind) in self.RETENTION_TABLES.items():
            if isinstance(retention_days, dict):
                if name not in retention_days:
                    continue
                days = retention_days[name]
            else:
                days = retention_days
            # daily_stats has a second writer, the fold
            with self._lock(name) if name == "daily_stats" else contextlib.nullcontext():
                target = ParquetTarget(self.spark, self._table_path(name))
                if not target.live():
                    continue
                df = target.read()
                if kind == "epoch":
                    expired_pred = F.col(col) < F.lit(ref - days * 86400.0)
                else:  # date_str yyyy-mm-dd compares lexicographically
                    cutoff = time.strftime(
                        "%Y-%m-%d", time.gmtime(ref - days * 86400.0)
                    )
                    expired_pred = F.col(col) < F.lit(cutoff)
                if name == "tables":
                    # the newest row per table_path IS the registry (and
                    # schema_history's latest version) — exempt it so a
                    # table that simply hasn't been written within the
                    # window keeps its current-state entry
                    w = Window.partitionBy("table_path").orderBy(
                        F.col(col).desc_nulls_last()
                    )
                    df = df.withColumn("__rk", F.row_number().over(w))
                    expired_pred = expired_pred & (F.col("__rk") > 1)
                expired = df.filter(expired_pred).count()
                kept = df.filter(~expired_pred | F.col(col).isNull())
                if name == "tables":
                    kept = kept.drop("__rk")
                n_kept = kept.count()
                entry = {"expired": expired, "kept": n_kept, "deleted": 0}
                if expired and not dry_run:
                    target.overwrite(kept.coalesce(1))
                    entry["deleted"] = expired
                report[name] = entry
        return report

    def rebuild_daily_stats(self) -> DataFrame:
        """Recompute ``meta_daily_stats`` from ``meta_runs`` from
        scratch (reference: system.py:212 `rebuild-summaries` —
        derived tables can drift from their facts if a writer died
        mid-upsert; the repair is a full recompute). Produces exactly
        what folding every run through ``update_daily_stats`` would
        have: per-run rollup first (a run is successful when EVERY
        node row succeeded), then the (date, pipeline) grain.

        Retention interaction: runs older than meta_runs' retention
        window cannot be rebuilt, so existing daily_stats rows whose
        date predates the earliest surviving run are PRESERVED (merged
        back in) rather than silently discarded — otherwise a cleanup
        with {runs: 30, daily_stats: 365} followed by a rebuild would
        destroy 11 months of stats its own retention said to keep."""
        from pyspark.sql import functions as F

        per_run = self.runs().groupBy("run_id", "pipeline").agg(
            F.min("started_at").alias("started_at"),
            F.max("finished_at").alias("finished_at"),
            F.min((F.col("status") == "success").cast("int")).alias("ok"),
            F.sum(F.coalesce("rows_written", F.lit(0))).alias("rows"),
        )
        rebuilt = (
            per_run.withColumn(
                # UTC-pinned via pure epoch arithmetic so rebuild and
                # update_daily_stats (time.gmtime, always UTC) assign
                # a run to the SAME date whatever the session timezone
                "date",
                F.date_add(
                    F.to_date(F.lit("1970-01-01")),
                    F.floor(F.col("started_at") / 86400).cast("int"),
                ).cast("string"),
            )
            .groupBy("date", "pipeline")
            .agg(
                F.count(F.lit(1)).alias("runs"),
                F.sum("ok").alias("successes"),
                (F.count(F.lit(1)) - F.sum("ok")).alias("failures"),
                F.sum("rows").alias("total_rows"),
                F.sum(
                    F.round(F.col("finished_at") - F.col("started_at"), 3)
                ).alias("total_duration_s"),
            )
        )
        target = ParquetTarget(self.spark, self._table_path("daily_stats"))
        with self._lock("daily_stats"):
            oldest = per_run.agg(F.min("started_at")).first()[0] if target.live() else None
            if oldest is not None:
                floor_date = time.strftime("%Y-%m-%d", time.gmtime(oldest))
                preserved = target.read().filter(F.col("date") < floor_date)
                rebuilt = preserved.unionByName(rebuilt)
            target.overwrite(rebuilt.coalesce(1))
            return self.daily_stats()

    def optimize(self, *, target_file_bytes: int = 32 * 1024 * 1024) -> dict:
        """Compact every meta table's small files (reference:
        system.py:328 `optimize` — OPTIMIZE + VACUUM on the Delta
        catalog; here the open-format bin-packing twin). Append-heavy
        tables (runs/metrics) accrete one file per pipeline run."""
        from odibi_spark.io.compact import compact_small_files

        out = {}
        for name in META_TABLES:
            if self._exists(name):
                out[name] = compact_small_files(
                    self.spark, self._table_path(name),
                    target_file_bytes=target_file_bytes,
                )
        return out

    def sync_to(self, target_root: str) -> dict[str, int]:
        """Copy every present meta table to another catalog root
        (reference: system.py:143 `sync` between catalog backends).
        Full-refresh copy: each table is small, and overwrite keeps
        the target consistent even after source retention deletes.
        Each copy is one ``ParquetTarget`` commit on the target table,
        so its log survives and a writer that read it before conflicts."""
        out = {}
        for name in META_TABLES:
            source = ParquetTarget(self.spark, self._table_path(name))
            if not source.live():
                continue
            df = source.read()
            ParquetTarget(self.spark, f"{target_root.rstrip('/')}/meta_{name}").overwrite(df.coalesce(1))
            out[name] = df.count()
        return out

    def runs(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/meta_runs")

    def tables(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/meta_tables")

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/meta_metrics")

    def daily_stats(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/meta_daily_stats")

    def pipeline_health(self, *, now: float | None = None) -> DataFrame:
        """Per-pipeline health snapshot (reference: odibi/catalog.py
        meta_pipeline_health, maintained by derived_updater upserts).
        Computed on demand from meta_runs instead of maintained as a
        second table — meta_runs is O(runs x nodes) small, one
        aggregate is cheaper and can never drift from its source.
        A run is successful when EVERY node row of it succeeded."""
        from pyspark.sql import functions as F

        ref = float(now if now is not None else time.time())
        runs = self.runs().groupBy("run_id", "pipeline").agg(
            F.min(
                (F.col("status") == "success").cast("int")
            ).alias("ok"),
            F.max("finished_at").alias("finished_at"),
            F.sum("rows_written").alias("rows_written"),
            F.max("duration_s").alias("duration_s"),
        )
        week = ref - 7 * 86400.0
        month = ref - 30 * 86400.0
        ok_at = lambda since: (  # noqa: E731
            F.sum(F.when(F.col("finished_at") >= since,
                         F.col("ok")).otherwise(F.lit(0))),
            F.sum(F.when(F.col("finished_at") >= since,
                         F.lit(1)).otherwise(F.lit(0))),
        )
        ok7, n7 = ok_at(week)
        ok30, n30 = ok_at(month)
        return runs.groupBy("pipeline").agg(
            F.count(F.lit(1)).alias("total_runs"),
            F.sum("ok").alias("total_successes"),
            (F.count(F.lit(1)) - F.sum("ok")).alias("total_failures"),
            (ok7 / F.nullif(n7, F.lit(0))).alias("success_rate_7d"),
            (ok30 / F.nullif(n30, F.lit(0))).alias("success_rate_30d"),
            F.sum(
                F.when(F.col("finished_at") >= month, F.col("rows_written"))
            ).alias("total_rows_30d"),
            F.max(
                F.when(F.col("ok") == 1, F.col("finished_at"))
            ).alias("last_success_at"),
            F.max(
                F.when(F.col("ok") == 0, F.col("finished_at"))
            ).alias("last_failure_at"),
            F.max("finished_at").alias("last_run_at"),
        )


def run_pipeline_with_catalog(pipeline, *, catalog: Catalog, parallel: bool = False):
    """Run a Pipeline and record per-node results + lineage metadata
    (reference post-run: catalog sync + lineage emit, SURVEY §3.1.6).

    The bookkeeping after ``pipeline.run`` commits one version per
    catalog table per run (all nodes' rows in one append), and on a local root
    launches no Spark job (see the module docstring)."""
    run_id = str(uuid.uuid4())
    t0 = time.time()
    results = pipeline.run(parallel=parallel)
    t1 = time.time()
    name = pipeline.config.name
    catalog.record_run(
        run_id=run_id, pipeline=name, results=results,
        started_at=t0, finished_at=t1,
    )
    # per-node observability metrics: rows/duration plus one row per
    # validation test's failure count and pass flag
    metric_rows: list[tuple] = []
    recorded_at = time.time()
    for node_name, r in results.items():
        metrics: dict[str, float] = {
            "rows_written": float(r.rows_written or 0),
            "duration_s": float(r.duration_s or 0.0),
        }
        for v in r.validation or []:
            metrics[f"validation.{v.name}.failed_rows"] = float(v.failed_rows)
            metrics[f"validation.{v.name}.passed"] = 1.0 if v.passed else 0.0
        metric_rows += _metric_rows(run_id, name, node_name, metrics, recorded_at)
    if metric_rows:
        catalog._append("metrics", metric_rows, METRIC_SCHEMA)
    # exactly-once derived fold (r13, reference derived_updater.py
    # claim lifecycle): a replayed/retried run_id must not double-
    # count into the meta_daily_stats rollup — the guard's first
    # claimant folds, every later replay sees the claim and skips
    catalog.derived_guard.apply_once(
        "meta_daily_stats", run_id,
        lambda: catalog.update_daily_stats(
            pipeline=name, results=results, started_at=t0, finished_at=t1,
        ),
    )
    # table registration + versioned schema snapshot per written node
    # (sync_table's two steps, with the registrations in one append) —
    # meta_schema_snapshots gains a drift row whenever a run changes a
    # table's shape (reference track_schema per catalogued write)
    written = [
        (node, pipeline.context.get(node.name))
        for node in pipeline.config.nodes
        if node.write and node.write.path and results[node.name].status == "success"
    ]
    if written:
        catalog._append(
            "tables",
            [
                _table_row(node.write.path, name, node.name, df, node.write.format)
                for node, df in written
            ],
            TABLE_SCHEMA,
        )
    for node, df in written:
        catalog.snapshot_schema(
            node.write.path, df, pipeline=name, node=node.name, run_id=run_id,
        )
    return run_id, results
