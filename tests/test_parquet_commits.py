"""Every parquet write the library makes is one ``ParquetTarget`` commit:
``write_sink``'s plain modes, the quarantine appends, the catalog's
appends and the parquet HWM state each publish one ``_log/<n>.json``.
Faults and races are injected in process."""

import os
import re
import time
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from odibi_spark.io import write_sink
from odibi_spark.patterns.merge_target import (
    CommitConflict,
    ParquetTarget,
    _list_data,
    _LocalFiles,
)

KV = "k int, v string"


def _versions(path: str) -> list[int]:
    return sorted(int(n.split(".")[0]) for n in os.listdir(os.path.join(path, "_log")))


def _assert_log_is_the_table(path: str) -> None:
    """Versions run densely from 1, and the data files on disk are
    exactly the ones the records leave live."""
    n = len(_versions(path))
    assert _versions(path) == list(range(1, n + 1))
    t = ParquetTarget(None, path)
    live: set[str] = set()
    for v in range(1, n + 1):
        rec = t.record(v)
        live = (live - set(rec["remove"])) | set(rec["add"])
    assert live == {rel for rel, _ in _list_data(_LocalFiles(), path)}
    assert not os.listdir(os.path.join(path, "_staging"))


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


class TestWriteSinkCommits:
    def test_stale_writer_conflicts_after_an_overwrite(self, spark, tmp_path):
        """A target read at version 2, then a plain overwrite: the stale
        target's commit conflicts instead of landing beside the
        overwrite's rows, and the log keeps every version."""
        p = str(tmp_path / "t")
        write_sink(spark.createDataFrame([(1, "a"), (2, "b")], KV), path=p, mode="upsert", keys=["k"])
        write_sink(spark.createDataFrame([(2, "B")], KV), path=p, mode="upsert", keys=["k"])
        stale = ParquetTarget(spark, p)
        stale.read()
        assert stale.version == 2
        write_sink(spark.createDataFrame([(9, "z")], KV), path=p, mode="overwrite")
        with pytest.raises(CommitConflict):
            stale.overwrite(spark.createDataFrame([(1, "stale")], KV))
        write_sink(spark.createDataFrame([(10, "y")], KV), path=p, mode="append")
        assert _versions(p) == [1, 2, 3, 4]
        assert ParquetTarget(spark, p)._latest_version() == 4
        assert _rows(spark, p) == [(9, "z"), (10, "y")]
        _assert_log_is_the_table(p)

    def test_failed_overwrite_keeps_the_previous_rows(self, spark, tmp_path):
        p = str(tmp_path / "t")
        write_sink(spark.createDataFrame([(1, "a"), (2, "b")], KV), path=p, mode="overwrite")
        bad = spark.range(1, 4).select(
            F.col("id").cast("int").alias("k"),
            F.when(F.col("id") == 3, F.raise_error(F.lit("injected"))).otherwise(F.lit("x")).alias("v"),
        )
        with pytest.raises(Exception, match="injected"):
            write_sink(bad, path=p, mode="overwrite")
        assert _rows(spark, p) == [(1, "a"), (2, "b")]
        assert _versions(p) == [1]
        assert not os.listdir(os.path.join(p, "_staging"))  # the partial files go

    def test_error_and_ignore_decide_on_existing_data(self, spark, tmp_path):
        p, q = str(tmp_path / "t"), str(tmp_path / "new")
        write_sink(spark.createDataFrame([(1, "a")], KV), path=p, mode="error")
        with pytest.raises(FileExistsError):
            write_sink(spark.createDataFrame([(2, "b")], KV), path=p, mode="error")
        write_sink(spark.createDataFrame([(2, "b")], KV), path=p, mode="ignore")
        assert _rows(spark, p) == [(1, "a")]
        assert _versions(p) == [1]
        write_sink(spark.createDataFrame([(2, "b")], KV), path=q, mode="ignore")
        assert _rows(spark, q) == [(2, "b")]
        assert _versions(q) == [1]

    def test_a_file_path_raises_before_any_staging(self, spark, tmp_path):
        """A table path that is a regular file raises in every mode,
        naming the path, before the stage runs: no Spark job, the file
        is untouched and nothing is written beside it."""
        f = tmp_path / "t.parquet"
        pq.write_table(pa.table({"k": [1], "v": ["a"]}), f)
        before = f.read_bytes()
        df = spark.createDataFrame([(2, "b")], KV)
        sc = spark.sparkContext
        sc.setJobGroup("file-path", "write onto a file")
        try:
            for mode in ("overwrite", "append", "error", "ignore", "upsert", "append_once"):
                with pytest.raises(NotADirectoryError, match=re.escape(f"'{f}' is a file: a table needs a directory")):
                    write_sink(df, path=str(f), mode=mode, keys=["k"])
            assert sc.statusTracker().getJobIdsForGroup("file-path") == []
        finally:
            sc.setJobGroup("", "")
        assert f.read_bytes() == before
        assert os.listdir(tmp_path) == ["t.parquet"]

    def test_partitioned_append_and_overwrite_are_one_record_each(self, spark, tmp_path):
        p = str(tmp_path / "t")
        kvp = "k int, part string"
        write_sink(spark.createDataFrame([(1, "x"), (2, "y")], kvp), path=p, mode="overwrite", partition_by=["part"])
        write_sink(spark.createDataFrame([(3, "x"), (4, "z")], kvp), path=p, mode="append", partition_by=["part"])
        t = ParquetTarget(spark, p, ["part"])
        assert t.record(2)["remove"] == []
        assert {a.split("/")[0] for a in t.record(2)["add"]} == {"part=x", "part=z"}
        write_sink(spark.createDataFrame([(5, "y")], kvp), path=p, mode="overwrite", partition_by=["part"])
        assert _versions(p) == [1, 2, 3]
        assert sorted(t.record(3)["remove"]) == sorted(t.record(1)["add"] + t.record(2)["add"])
        assert sorted(d for d in os.listdir(p) if "=" in d) == ["part=y"]
        assert [(r.k, r.part) for r in spark.read.parquet(p).collect()] == [(5, "y")]
        _assert_log_is_the_table(p)


class TestBlindAppend:
    def test_losing_table_append_is_staged_again(self, tmp_path, monkeypatch):
        """A pyarrow append whose publish loses to a concurrent append
        lands on the next version: both rows, a dense log. Needs no
        Spark."""
        p = str(tmp_path / "meta")
        mine = ParquetTarget(None, p)
        real, raced = ParquetTarget._publish, []

        def racing(self, record):
            if self is mine and not raced:
                raced.append(record["version"])
                ParquetTarget(None, p).append(pa.table({"k": [2]}))
            real(self, record)

        monkeypatch.setattr(ParquetTarget, "_publish", racing)
        record = mine.append(pa.table({"k": [1]}))
        assert raced == [1] and record["version"] == 2
        assert sorted(ds.dataset(p).to_table()["k"].to_pylist()) == [1, 2]
        _assert_log_is_the_table(p)

    def test_losing_dataframe_append_raises_and_adds_nothing(self, spark, tmp_path, monkeypatch):
        p = str(tmp_path / "t")
        write_sink(spark.createDataFrame([(1, "a")], KV), path=p, mode="overwrite")
        mine = ParquetTarget(spark, p)
        real = ParquetTarget._publish

        def racing(self, record):
            if self is mine:
                write_sink(spark.createDataFrame([(2, "b")], KV), path=p, mode="append")
            real(self, record)

        monkeypatch.setattr(ParquetTarget, "_publish", racing)
        with pytest.raises(CommitConflict):
            mine.append(spark.createDataFrame([(3, "c")], KV))
        assert _rows(spark, p) == [(1, "a"), (2, "b")]
        assert _versions(p) == [1, 2]
        _assert_log_is_the_table(p)


class TestCatalogAndStateCommits:
    def test_each_append_publishes_one_record(self, spark, tmp_path):
        from odibi_spark.catalog import Catalog

        root = str(tmp_path / "cat")
        cat = Catalog(spark, root)
        ok = SimpleNamespace(status="success", rows_written=1, error=None, duration_s=0.1)
        now = time.time()
        for i in range(2):
            cat.record_run(run_id=f"r{i}", pipeline="p", results={"a": ok}, started_at=now, finished_at=now)
            cat.record_metrics(run_id=f"r{i}", pipeline="p", node="a", metrics={"rows": 1.0})
            cat.state_backend().set(f"key{i}", str(i))
        df = spark.createDataFrame([(1,)], "x bigint")
        cat.sync_table(table_path="/t", pipeline="p", node="a", df=df)
        for name, n in {"runs": 2, "metrics": 2, "state": 2, "tables": 1, "schema_snapshots": 1}.items():
            path = f"{root}/meta_{name}"
            assert _versions(path) == list(range(1, n + 1)), name
            _assert_log_is_the_table(path)
        assert cat.state_backend().get("key1") == "1"

    def test_snapshot_race_takes_the_next_version(self, spark, tmp_path, monkeypatch):
        """A second snapshot of the same table lands between the first
        one's read and its commit: the first reads again and records
        version 2 with the drift from the second's schema."""
        import odibi_spark.io.append as append
        from odibi_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "cat"))
        narrow = spark.createDataFrame([(1,)], "x bigint")
        wide = spark.createDataFrame([(1, "a")], "x bigint, y string")
        real, injected = append.read_rows, []

        def racing(spark_, path, ddl):
            rows = real(spark_, path, ddl)
            if path.endswith("meta_schema_snapshots") and not injected:
                injected.append(True)
                assert cat.snapshot_schema("/t", wide)["version"] == 1
            return rows

        monkeypatch.setattr(append, "read_rows", racing)
        got = cat.snapshot_schema("/t", narrow)
        assert injected
        assert (got["version"], got["previous_version"]) == (2, 1)
        assert got["columns_removed"] == ["y"] and got["columns_added"] == []
        versions = {r.schema_version: r.columns_json for r in cat.schema_snapshots("/t").collect()}
        assert versions == {1: '{"x": "bigint", "y": "string"}', 2: '{"x": "bigint"}'}
        assert cat.snapshot_schema("/t", narrow) == {"changed": False, "version": 2}


def test_quarantine_appends_are_one_record_each(spark, tmp_path):
    """The validation quarantine and the fact pattern's quarantine
    append through ``write_sink``: one record per run."""
    import pandas as pd

    from odibi_spark.plans.pipeline import Pipeline

    pd.DataFrame({"k": [1, 2], "sk": [10, 20]}).to_parquet(tmp_path / "dim.parquet")
    pd.DataFrame({"oid": [1, 2, 2, 3], "k": [1, 2, 2, 1], "v": [1, 2, 2, 99]}).to_parquet(tmp_path / "fact.parquet")
    y = f"""
name: q
nodes:
  - name: dim
    read: {{path: "{tmp_path}/dim.parquet"}}
  - name: fact
    depends_on: [dim]
    read: {{path: "{tmp_path}/fact.parquet"}}
    validation:
      tests:
        - {{name: v_small, type: range, column: v, max: 10, quarantine: true}}
      quarantine_path: "{tmp_path}/vq"
    pattern:
      type: fact
      grain: [oid]
      quarantine_path: "{tmp_path}/fq"
      lookups:
        - {{dimension: dim, fact_keys: [k], dim_keys: [k], surrogate_key: sk, output_col: dim_sk}}
    write: {{path: "{tmp_path}/out"}}
"""
    for run in (1, 2):
        r = Pipeline.from_yaml(y, spark).run()
        assert r["fact"].status == "success", r["fact"].error
        for q in ("vq", "fq"):
            assert _versions(str(tmp_path / q)) == list(range(1, run + 1)), q
            _assert_log_is_the_table(str(tmp_path / q))
        assert _versions(str(tmp_path / "out")) == list(range(1, run + 1))
    assert spark.read.parquet(str(tmp_path / "vq")).count() == 2  # oid 3, once a run
    assert spark.read.parquet(str(tmp_path / "fq")).count() == 4  # oid 2 twice, twice
