"""Catalog maintenance — the `system` verb family: retention cleanup,
derived-table rebuild, compaction, sync (reference: odibi/cli/system.py)."""

import json
import time

import pytest

from odibi_spark.catalog import Catalog


class R:
    def __init__(self, status="success", rows=10):
        self.status = status
        self.rows_written = rows
        self.error = None
        self.duration_s = 1.0


def _seed(spark, root, now):
    """Two runs: one 100 days old, one fresh; metrics for both."""
    cat = Catalog(spark, root)
    cat.record_run(
        run_id="old", pipeline="p", results={"a": R(), "b": R()},
        started_at=now - 100 * 86400, finished_at=now - 100 * 86400 + 10,
    )
    cat.record_run(
        run_id="new", pipeline="p", results={"a": R(), "b": R("failed")},
        started_at=now - 60, finished_at=now - 30,
    )
    cat.record_metrics(
        run_id="new", pipeline="p", node="a", metrics={"rows": 10.0}
    )
    cat.update_daily_stats(
        pipeline="p", results={"a": R()},
        started_at=now - 100 * 86400, finished_at=now - 100 * 86400 + 10,
    )
    cat.update_daily_stats(
        pipeline="p", results={"a": R()},
        started_at=now - 60, finished_at=now - 30,
    )
    return cat


class TestCleanup:
    def test_dry_run_counts_but_keeps(self, spark, tmp_path):
        now = time.time()
        cat = _seed(spark, str(tmp_path / "_sys"), now)
        report = cat.cleanup(90, now=now, dry_run=True)
        assert report["runs"]["expired"] == 2  # 2 node rows of the old run
        assert report["runs"]["deleted"] == 0
        assert cat.runs().count() == 4

    def test_cleanup_deletes_only_expired(self, spark, tmp_path):
        now = time.time()
        cat = _seed(spark, str(tmp_path / "_sys"), now)
        report = cat.cleanup(90, now=now)
        assert report["runs"]["deleted"] == 2
        remaining = cat.runs()
        assert remaining.count() == 2
        assert {r.run_id for r in remaining.collect()} == {"new"}
        # daily_stats: the 100-day-old date row went away too
        assert report["daily_stats"]["deleted"] == 1
        assert cat.daily_stats().count() == 1
        # metrics were all fresh
        assert report["metrics"]["expired"] == 0
        assert cat.metrics().count() == 1

    def test_per_table_retention_mapping_skips_absent(self, spark, tmp_path):
        now = time.time()
        cat = _seed(spark, str(tmp_path / "_sys"), now)
        report = cat.cleanup({"runs": 90}, now=now)
        assert set(report) == {"runs"}
        assert cat.daily_stats().count() == 2  # untouched

    def test_cleanup_everything_leaves_readable_table(self, spark, tmp_path):
        now = time.time()
        cat = _seed(spark, str(tmp_path / "_sys"), now)
        cat.cleanup(0, now=now + 86400)
        assert cat.runs().count() == 0  # empty but still readable
        assert "run_id" in cat.runs().columns

    def test_cleanup_keeps_latest_registry_row_per_table(self, spark, tmp_path):
        """meta_tables is current-state: the newest row per table_path
        survives ANY retention window (ADVICE r8 #1 — cleanup must not
        delete the registry / entire schema history of a table that
        simply hasn't been written lately)."""
        from odibi_spark.catalog import TABLE_SCHEMA

        now = time.time()
        cat = Catalog(spark, str(tmp_path / "_sys3"))
        old, older = now - 100 * 86400, now - 200 * 86400
        cat._append("tables", [
            ("/t/a", "p", "n", "parquet", '{"x":"int"}', older),
            ("/t/a", "p", "n", "parquet", '{"x":"bigint"}', old),
            ("/t/b", "p", "n", "parquet", '{"y":"string"}', older),
        ], TABLE_SCHEMA)
        report = cat.cleanup({"tables": 90}, now=now)
        # only /t/a's superseded older row is deletable
        assert report["tables"]["deleted"] == 1
        rows = {(r.table_path, r.schema_json) for r in cat.tables().collect()}
        assert rows == {("/t/a", '{"x":"bigint"}'), ("/t/b", '{"y":"string"}')}
        # schema_history still reports the current version of both
        hist = cat.schema_history().collect()
        assert {r.table_path for r in hist} == {"/t/a", "/t/b"}


class TestConcurrentWriters:
    def test_two_pipelines_record_runs_concurrently(self, spark, tmp_path):
        """Two threads recording runs + metrics into the SAME catalog
        root concurrently: every row must land (VERDICT r7 task 6 —
        Spark append-mode staging is single-writer; an append commit
        that loses the publish stages again on the newer version)."""
        import threading

        cat = Catalog(spark, str(tmp_path / "_cc"))
        now = time.time()
        errors: list[Exception] = []

        def writer(pipeline: str) -> None:
            try:
                for i in range(6):
                    cat.record_run(
                        run_id=f"{pipeline}-{i}", pipeline=pipeline,
                        results={"a": R()}, started_at=now - 60,
                        finished_at=now - 30,
                    )
                    cat.record_metrics(
                        run_id=f"{pipeline}-{i}", pipeline=pipeline,
                        node="a", metrics={"rows": float(i)},
                    )
            except Exception as ex:  # pragma: no cover - failure path
                errors.append(ex)

        threads = [
            threading.Thread(target=writer, args=(p,)) for p in ("p1", "p2")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        assert cat.runs().count() == 12
        assert cat.metrics().count() == 12
        got = {(r.pipeline, r.run_id) for r in cat.runs().collect()}
        assert got == {
            (p, f"{p}-{i}") for p in ("p1", "p2") for i in range(6)
        }

    def test_concurrent_daily_stats_folds_lose_no_update(self, spark, tmp_path):
        """Four threads fold a run into the SAME (date, pipeline) row of
        an existing meta_daily_stats at once: read -> fold -> swap is
        serialized by the table's lock, so every fold lands and none
        reads a table another thread is swapping away."""
        import threading

        root = str(tmp_path / "_ds")
        now = time.time()
        Catalog(spark, root).update_daily_stats(
            pipeline="p", results={"a": R()}, started_at=now - 60,
            finished_at=now - 30,
        )
        barrier = threading.Barrier(4)
        errors: list[Exception] = []

        def fold() -> None:
            try:
                barrier.wait()
                Catalog(spark, root).update_daily_stats(
                    pipeline="p", results={"a": R()}, started_at=now - 60,
                    finished_at=now - 30,
                )
            except Exception as ex:  # pragma: no cover - failure path
                errors.append(ex)

        threads = [threading.Thread(target=fold) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        rows = Catalog(spark, root).daily_stats().collect()
        assert len(rows) == 1
        assert rows[0].runs == 5 and rows[0].successes == 5
        assert rows[0].total_rows == 50


    def test_fold_during_rebuild_loses_no_run(self, spark, tmp_path, monkeypatch):
        """A daily-stats fold injected between a rebuild's read and its
        commit waits for the rebuild (both hold the table's lock), so
        the table keeps one row per (date, pipeline) and counts every
        run: the two recorded ones the rebuild read, plus the folded
        one."""
        import threading

        from pyspark.sql.readwriter import DataFrameWriter

        root = str(tmp_path / "_race")
        now = time.time()
        cat = Catalog(spark, root)
        for run_id in ("r1", "r2"):
            cat.record_run(
                run_id=run_id, pipeline="p", results={"a": R()},
                started_at=now - 60, finished_at=now - 30,
            )
        cat.update_daily_stats(
            pipeline="p", results={"a": R()}, started_at=now - 60,
            finished_at=now - 30,
        )
        errors: list[Exception] = []

        def fold() -> None:
            try:
                Catalog(spark, root).update_daily_stats(
                    pipeline="p", results={"a": R()}, started_at=now - 60,
                    finished_at=now - 30,
                )
            except Exception as ex:  # pragma: no cover - failure path
                errors.append(ex)

        folder = threading.Thread(target=fold)
        real_parquet = DataFrameWriter.parquet

        def write_then_fold(writer, path, *args, **kwargs):
            real_parquet(writer, path, *args, **kwargs)
            if "meta_daily_stats" in path and not folder.is_alive():
                folder.start()
                folder.join(timeout=1)  # blocks on the lock while it is held

        monkeypatch.setattr(DataFrameWriter, "parquet", write_then_fold)
        cat.rebuild_daily_stats()
        folder.join(timeout=120)
        monkeypatch.undo()
        assert not folder.is_alive() and not errors, errors
        rows = cat.daily_stats().collect()
        assert len(rows) == 1
        assert rows[0].runs == 3 and rows[0].successes == 3


    def test_daily_stats_on_a_uri_root(self, spark, tmp_path):
        """A catalog root given as a URI folds into the URI's table
        (through Spark): a rebuilt row is kept and each fold counts."""
        root = f"file://{tmp_path}/_uri"
        now = time.time()
        cat = Catalog(spark, root)
        cat.record_run(
            run_id="r1", pipeline="p", results={"a": R()},
            started_at=now - 60, finished_at=now - 30,
        )
        assert cat.rebuild_daily_stats().first().runs == 1
        cat.update_daily_stats(
            pipeline="p", results={"a": R()}, started_at=now - 60,
            finished_at=now - 30,
        )
        rows = cat.daily_stats().collect()
        assert len(rows) == 1 and rows[0].runs == 2


class TestRebuild:
    def test_rebuild_matches_incremental_fold(self, spark, tmp_path):
        """A drifted (here: deleted) daily_stats table rebuilt from
        meta_runs equals what the per-run incremental folds produced."""
        now = time.time()
        cat = _seed(spark, str(tmp_path / "_sys"), now)
        before = {
            (r.date, r.pipeline): r.asDict()
            for r in cat.daily_stats().collect()
        }
        rebuilt = {
            (r.date, r.pipeline): r.asDict()
            for r in cat.rebuild_daily_stats().collect()
        }
        assert set(rebuilt) == set(before)
        for key, row in rebuilt.items():
            # seed folded only the "a" node per daily_stats call but
            # recorded runs with two nodes — rows differ there by
            # construction; runs/successes/failures must agree
            assert row["runs"] == before[key]["runs"]

    def test_rebuild_from_scratch(self, spark, tmp_path):
        now = time.time()
        root = str(tmp_path / "_sys2")
        cat = Catalog(spark, root)
        cat.record_run(
            run_id="r1", pipeline="p", results={"a": R(), "b": R("failed")},
            started_at=now - 60, finished_at=now - 30,
        )
        out = {r.pipeline: r.asDict() for r in cat.rebuild_daily_stats().collect()}
        assert out["p"]["runs"] == 1
        assert out["p"]["successes"] == 0  # one node failed => run failed
        assert out["p"]["failures"] == 1
        assert out["p"]["total_duration_s"] == pytest.approx(30.0, abs=0.01)

    def test_rebuild_date_is_utc_whatever_session_timezone(self, spark, tmp_path):
        """update_daily_stats dates via time.gmtime (always UTC);
        rebuild must agree even on a session not pinned to UTC
        (ADVICE r8 #2), else the repair itself reintroduces drift."""
        # 2024-06-15T01:00:00Z — still 2024-06-14 in LA
        at = 1718413200.0
        cat = Catalog(spark, str(tmp_path / "_sys4"))
        cat.record_run(
            run_id="r1", pipeline="p", results={"a": R()},
            started_at=at, finished_at=at + 5,
        )
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            rows = cat.rebuild_daily_stats().collect()
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
        assert [r.date for r in rows] == ["2024-06-15"]  # UTC, not LA

    def test_rebuild_preserves_stats_older_than_runs_window(self, spark, tmp_path):
        """After per-table retention {runs: 90} trims old runs, a
        rebuild keeps the daily_stats rows whose dates predate the
        oldest surviving run instead of overwriting them away
        (ADVICE r8 #3)."""
        now = time.time()
        cat = _seed(spark, str(tmp_path / "_sys5"), now)
        old_dates = {r.date for r in cat.daily_stats().collect()}
        assert len(old_dates) == 2
        cat.cleanup({"runs": 90}, now=now)  # old run gone, stats kept
        assert cat.runs().count() == 2
        rebuilt = {r.date: r.asDict() for r in cat.rebuild_daily_stats().collect()}
        assert set(rebuilt) == old_dates  # 100-day-old row preserved
        # the fresh date was genuinely rebuilt from the surviving run
        fresh = max(old_dates)
        assert rebuilt[fresh]["runs"] == 1


class TestOptimizeAndSync:
    def test_optimize_compacts_many_small_run_files(self, spark, tmp_path):
        now = time.time()
        root = str(tmp_path / "_sys")
        cat = Catalog(spark, root)
        for i in range(6):  # each record_run appends its own file(s)
            cat.record_run(
                run_id=f"r{i}", pipeline="p", results={"a": R()},
                started_at=now - 60, finished_at=now - 30,
            )
        n_before = cat.runs().count()
        stats = cat.optimize()
        assert stats["runs"]["compacted"] is True
        assert stats["runs"]["files_after"] < stats["runs"]["files_before"]
        assert cat.runs().count() == n_before  # lossless

    def test_sync_copies_all_present_tables(self, spark, tmp_path):
        now = time.time()
        cat = _seed(spark, str(tmp_path / "_src"), now)
        counts = cat.sync_to(str(tmp_path / "_dst"))
        assert counts["runs"] == 4
        dst = Catalog(spark, str(tmp_path / "_dst"))
        assert dst.runs().count() == 4
        assert dst.daily_stats().count() == 2

    def test_optimize_and_sync_cover_schema_snapshots(self, spark, tmp_path):
        now = time.time()
        cat = _seed(spark, str(tmp_path / "_src"), now)
        for cols in ("a long", "a long, b string"):  # two snapshot files
            cat.snapshot_schema("t", spark.createDataFrame([], cols))
        counts = cat.sync_to(str(tmp_path / "_dst"))
        assert counts["schema_snapshots"] == 2
        dst = Catalog(spark, str(tmp_path / "_dst"))
        assert dst.schema_snapshots("t").count() == 2
        stats = cat.optimize()
        assert stats["schema_snapshots"]["files_before"] == 2
        assert cat.schema_snapshots("t").count() == 2

    def test_sync_is_one_commit_on_the_target(self, spark, tmp_path):
        """The target's daily stats were folded twice (versions 1 and
        2): a sync publishes version 3 over them, and a writer that read
        version 2 before the sync conflicts instead of committing over
        the synced rows."""
        import pyarrow as pa

        from odibi_spark.catalog import DAILY_STATS_SCHEMA
        from odibi_spark.io.append import parse_ddl
        from odibi_spark.patterns.merge_target import (
            CommitConflict, ParquetTarget,
        )

        now = time.time()
        src = _seed(spark, str(tmp_path / "_src"), now)
        _seed(spark, str(tmp_path / "_dst"), now)
        path = str(tmp_path / "_dst" / "meta_daily_stats")
        stale = ParquetTarget(spark, path)
        stale.live()
        assert stale.version == 2
        src.sync_to(str(tmp_path / "_dst"))
        assert ParquetTarget(spark, path)._latest_version() == 3
        with pytest.raises(CommitConflict):
            stale.overwrite(pa.Table.from_pylist([], schema=parse_ddl(DAILY_STATS_SCHEMA)))
        assert Catalog(spark, str(tmp_path / "_dst")).daily_stats().count() == 2

    def test_cli_system_cleanup_and_rebuild(self, spark, tmp_path, capsys):
        from odibi_spark.cli import main

        now = time.time()
        root = str(tmp_path / "_sys")
        _seed(spark, root, now)
        assert main([
            "system", "cleanup", "--root", root,
            "--retention-days", "90", "--dry-run",
        ]) == 0
        out = json.loads(capsys.readouterr().out)
        assert out["dry_run"] is True
        assert out["tables"]["runs"]["expired"] == 2
        assert main(["system", "rebuild-summaries", "--root", root]) == 0
        out = json.loads(capsys.readouterr().out)
        assert out["daily_stats_rows"] == 2
        assert main(["system", "sync", "--root", root]) == 2  # no --target
