"""Open-format table-version diff diagnostics (r15; reference parity:
odibi/diagnostics/delta.py get_delta_diff/detect_drift)."""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from odibi_spark.diagnostics import (
    detect_table_drift,
    frame_diff,
    partition_diff,
    table_snapshot_diff,
)


def _snapshots(spark, tmp_path):
    """Snapshot A: keys 1..20. Snapshot B: key 7 deleted, key 21-22
    inserted, key 4's value updated."""
    rows_a = [(i, i % 3, float(i)) for i in range(1, 21)]
    rows_b = [
        (i, i % 3, 99.0 if i == 4 else float(i))
        for i in range(1, 23) if i != 7
    ]
    a = spark.createDataFrame(rows_a, "id long, grp int, val double")
    b = spark.createDataFrame(rows_b, "id long, grp int, val double")
    pa, pb = str(tmp_path / "snap_a"), str(tmp_path / "snap_b")
    a.coalesce(1).write.parquet(pa)
    b.coalesce(1).write.parquet(pb)
    return a, b, pa, pb


class TestTableSnapshotDiff:
    def test_shallow_counts_and_schema(self, spark, tmp_path):
        _, _, pa, pb = _snapshots(spark, tmp_path)
        res = table_snapshot_diff(spark, pa, pb)
        assert (res.rows_a, res.rows_b, res.rows_change) == (20, 21, 1)
        assert res.schema_added == [] and res.schema_removed == []
        assert res.rows_added is None  # shallow: no row diff ran

    def test_file_counts_skip_the_commit_log(self, spark, tmp_path):
        """A table written by commits keeps its ``_log`` records beside
        the data: the file and byte deltas count data files only."""
        import os

        from odibi_spark.patterns.merge_target import ParquetTarget

        _, b, _, pb = _snapshots(spark, tmp_path)
        pm = str(tmp_path / "committed")
        t = ParquetTarget(spark, pm)
        t.write_initial(b.coalesce(1))
        t.overwrite(b.coalesce(1))
        assert len(os.listdir(os.path.join(pm, "_log"))) == 2
        res = table_snapshot_diff(spark, pb, pm)

        def data_bytes(p):
            return sum(os.path.getsize(os.path.join(p, f))
                       for f in os.listdir(p) if f.endswith(".parquet"))

        assert res.files_change == 0
        assert res.size_change_bytes == data_bytes(pm) - data_bytes(pb)

    def test_deep_key_diff(self, spark, tmp_path):
        _, _, pa, pb = _snapshots(spark, tmp_path)
        res = table_snapshot_diff(spark, pa, pb, keys=["id"], deep=True)
        assert (res.rows_added, res.rows_removed, res.rows_updated) == (
            2, 1, 1,
        )
        assert {r["id"] for r in res.sample_added} == {21, 22}
        assert {r["id"] for r in res.sample_removed} == {7}
        assert {r["id"] for r in res.sample_updated} == {4}
        assert res.sample_updated[0]["val"] == 99.0  # new state carried

    def test_deep_keyless_fallback_exceptall(self, spark, tmp_path):
        _, _, pa, pb = _snapshots(spark, tmp_path)
        res = table_snapshot_diff(spark, pa, pb, deep=True)
        # update shows up as one added + one removed row in set terms
        assert (res.rows_added, res.rows_removed) == (3, 2)
        assert res.rows_updated is None

    def test_schema_drift_detected(self, spark, tmp_path):
        a = spark.createDataFrame([(1, "x")], "id long, v string")
        b = spark.createDataFrame([(1, 2.0, True)], "id long, v double, w boolean")
        pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
        a.write.parquet(pa)
        b.write.parquet(pb)
        res = table_snapshot_diff(spark, pa, pb)
        assert res.schema_added == ["w"]
        assert res.schema_type_changed == ["v"]
        msg = detect_table_drift(spark, pa, pb)
        assert "Schema drift" in msg

    def test_row_drift_threshold(self, spark, tmp_path):
        _, _, pa, pb = _snapshots(spark, tmp_path)
        assert detect_table_drift(spark, pa, pb, threshold_pct=50.0) is None
        msg = detect_table_drift(spark, pa, pb, threshold_pct=1.0)
        assert "Row count drift" in msg


class TestPartitionDiff:
    def test_per_partition_rollup(self, spark, tmp_path):
        a, b, _, _ = _snapshots(spark, tmp_path)
        out = partition_diff(
            a, b, keys=["id"], partition_expr="grp",
            partition_alias="grp", compare_cols=["val"],
        ).collect()
        by_grp = {r["grp"]: r for r in out}
        # key 7 (grp 1) deleted; keys 21 (grp 0), 22 (grp 1) inserted;
        # key 4 (grp 1) updated
        assert by_grp[1]["deletes"] == 1
        assert by_grp[1]["updates"] == 1
        assert by_grp[0]["inserts"] == 1
        assert by_grp[1]["inserts"] == 1
        for g, r in by_grp.items():
            assert r["rows_change"] == r["rows_b"] - r["rows_a"]

    def test_carry_cols_ride_without_affecting_hash(self, spark, tmp_path):
        a, b, _, _ = _snapshots(spark, tmp_path)
        out = frame_diff(
            a, b, keys=["id"], compare_cols=["val"], carry_cols=["grp"]
        ).collect()
        kinds = {r["id"]: r["_change_type"] for r in out}
        assert kinds == {
            7: "delete", 21: "insert", 22: "insert", 4: "update"
        }
        # delete carries OLD grp value
        assert {r["grp"] for r in out if r["id"] == 7} == {7 % 3}


class TestTableDiffCli:
    def test_cli_json_output(self, spark, tmp_path):
        _, _, pa, pb = _snapshots(spark, tmp_path)
        proc = subprocess.run(
            [sys.executable, "-m", "odibi_spark.cli", "table-diff",
             pa, pb, "--keys", "id", "--partition-expr", "grp"],
            capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        out = json.loads(proc.stdout)
        assert out["rows_change"] == 1
        assert out["rows_added"] == 2
        assert len(out["partitions"]) == 3

    def test_cli_drift_verdict_exit_code(self, spark, tmp_path, capsys):
        from odibi_spark.cli import main

        _, _, pa, pb = _snapshots(spark, tmp_path)
        rc = main(["table-diff", pa, pb, "--drift-threshold-pct", "1.0"])
        assert rc == 3
        out = capsys.readouterr().out.strip().splitlines()[-1]
        assert "Row count drift" in json.loads(out)["drift"]
