"""Z-order layout: Morton math correctness + a real data-skipping
proof from parquet footers (no Delta required)."""

import glob

import pytest
from pyspark.sql import functions as F

from odibi_spark.io import read_table


def _data_files(spark, path):
    """(relative path, bytes) of a table's data files, as a read sees
    them (a published commit is finished first)."""
    from odibi_spark.patterns.merge_target import ParquetTarget

    t = ParquetTarget(spark, path)
    t.live()
    return t.files


def _on_disk(path):
    """The parquet files directly under ``path`` as they lie on disk,
    without finishing any commit."""
    import os

    return {f for f in os.listdir(path) if f.endswith(".parquet")}


class TestMortonMath:
    def test_interleave_bits_known_values(self, spark):
        from odibi_spark.operators.layout import interleave_bits

        df = spark.createDataFrame(
            [(0, 0), (1, 0), (0, 1), (1, 1), (3, 5)], ["x", "y"]
        )
        got = {
            (r.x, r.y): r.z
            for r in df.withColumn(
                "z", interleave_bits([F.col("x"), F.col("y")], bits=4)
            ).collect()
        }
        # bit i of x -> z bit 2i; bit i of y -> z bit 2i+1
        assert got[(0, 0)] == 0
        assert got[(1, 0)] == 1
        assert got[(0, 1)] == 2
        assert got[(1, 1)] == 3
        # x=3 (0b011), y=5 (0b101): z = 1+2+4+32 = 0b100111
        assert got[(3, 5)] == 0b100111

    def test_interleave_rejects_long_overflow(self, spark):
        from odibi_spark.operators.layout import interleave_bits

        with pytest.raises(ValueError, match="exceeds"):
            interleave_bits([F.lit(1)] * 4, bits=16)

    def test_uniform_bucket_bounds(self, spark):
        from odibi_spark.operators.layout import uniform_bucket

        df = spark.range(0, 101).selectExpr("CAST(id AS DOUBLE) AS v")
        got = {
            r.v: r.b
            for r in df.withColumn(
                "b", uniform_bucket(F.col("v"), 0.0, 100.0, 4)
            ).collect()
        }
        assert got[0.0] == 0 and got[24.0] == 0
        assert got[25.0] == 1 and got[99.0] == 3
        assert got[100.0] == 3  # hi value clamps into the top bucket

    def test_zorder_key_empty_and_allnull_inputs(self, spark):
        """No min/max stats (empty frame, all-NULL column) must
        degrade to a constant key, not crash the write."""
        from odibi_spark.operators.layout import zorder_key

        empty = spark.createDataFrame([], "a INT, b INT")
        assert zorder_key(empty, ["a", "b"], bits=4).count() == 0
        nulls = spark.createDataFrame(
            [(1, None), (2, None)], "a INT, b INT"
        )
        got = [r.z_key for r in zorder_key(nulls, ["a", "b"], bits=4).collect()]
        assert len(got) == 2  # b contributes a constant 0 bucket

    def test_zorder_key_rejects_string_columns(self, spark):
        import pytest as _pytest

        from odibi_spark.operators.layout import zorder_key

        df = spark.createDataFrame([(1, "x")], "a INT, s STRING")
        with _pytest.raises(ValueError, match="non-orderable-numeric"):
            zorder_key(df, ["a", "s"])

    def test_write_sink_zorder_conflicts_raise(self, spark, tmp_path):
        import pytest as _pytest

        from odibi_spark.io import write_sink

        df = spark.range(10).selectExpr("id AS a", "id AS b")
        with _pytest.raises(ValueError, match="conflicting"):
            write_sink(
                df, path=str(tmp_path / "x"), zorder_by=["a"], sort_by=["b"]
            )
        with _pytest.raises(ValueError, match="merge modes needs Delta"):
            write_sink(
                df, path=str(tmp_path / "y"), zorder_by=["a"],
                mode="upsert", keys=["a"],
            )

    def test_quantile_mode_balances_skewed_columns(self, spark):
        """Zipf-ish skew: uniform cells dump most rows into one bucket
        (layout stops pruning on the other column); quantile cells
        stay population-balanced."""
        from odibi_spark.operators.layout import zorder_key

        # value ~ heavy-tailed: 90% of rows in [0,10), tail to 10_000
        df = spark.range(0, 5000).selectExpr(
            "id",
            "CASE WHEN id % 10 < 9 THEN CAST(id % 10 AS DOUBLE) "
            "ELSE CAST((id % 100) * 100 AS DOUBLE) END AS v",
        )

        def max_share(mode):
            keyed = zorder_key(df, ["v"], bits=4, bucket_mode=mode)
            counts = [
                r.n
                for r in keyed.groupBy("z_key")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ]
            return max(counts) / sum(counts)

        assert max_share("uniform") > 0.5
        assert max_share("quantile") < 0.3

    def test_quantile_mode_empty_input_safe(self, spark):
        from odibi_spark.operators.layout import zorder_key

        empty = spark.createDataFrame([], "a INT")
        assert (
            zorder_key(empty, ["a"], bucket_mode="quantile").count() == 0
        )

    def test_unknown_bucket_mode_raises(self, spark):
        import pytest as _pytest

        from odibi_spark.operators.layout import zorder_key

        df = spark.range(5).toDF("a")
        with _pytest.raises(ValueError, match="bucket_mode"):
            zorder_key(df, ["a"], bucket_mode="zipf")

    def test_zorder_key_handles_date_columns(self, spark):
        from odibi_spark.operators.layout import zorder_key

        df = spark.createDataFrame(
            [(1, "2024-01-01"), (2, "2024-06-30")], ["k", "d_s"]
        ).select("k", F.to_date("d_s").alias("d"))
        out = zorder_key(df, ["k", "d"], bits=8)
        vals = [r.z_key for r in out.collect()]
        assert len(vals) == 2 and vals[0] != vals[1]


class TestDataSkipping:
    """The point of the layout: row-group min/max footers must prune
    on EVERY clustering column, not just a sort leader."""

    @staticmethod
    def _rowgroups_matching(path_glob: str, col: str, value) -> tuple[int, int]:
        """Shared footer-stats yardstick (operators/layout.py)."""
        from odibi_spark.operators.layout import rowgroups_matching

        return rowgroups_matching(path_glob, col, value)

    def test_zorder_prunes_both_dimensions(self, spark, tmp_path):
        from odibi_spark.operators.layout import write_zordered

        ev = read_table(spark, "/root/testdata/sf0.01", "events").select(
            "user_id", F.col("ts").cast("double").alias("t"), "value"
        )
        z_path = str(tmp_path / "zordered")
        lin_path = str(tmp_path / "linear")
        # small row groups so one file holds many prunable units
        opts = {"parquet.block.size": str(8 * 1024)}
        write_zordered(
            ev, z_path, ["user_id", "t"], n_files=2, options=opts
        )
        (
            ev.repartitionByRange(2, F.asc("t"))
            .sortWithinPartitions(F.asc("t"))
            .write.mode("overwrite")
            .options(**opts)
            .parquet(lin_path)
        )
        # a MID-RANGE user: a boundary user would only match row groups
        # whose min/max equals it, understating the linear layout's
        # (lack of) pruning
        uid = int(ev.selectExpr("percentile(user_id, 0.5)").collect()[0][0])
        z_hit, z_tot = self._rowgroups_matching(
            f"{z_path}/part-*.parquet", "user_id", uid
        )
        l_hit, l_tot = self._rowgroups_matching(
            f"{lin_path}/part-*.parquet", "user_id", uid
        )
        assert z_tot >= 8, f"need multiple row groups, got {z_tot}"
        # time-sorted layout cannot prune on user_id (every row group
        # spans most of the user range); z-order must
        assert l_hit / l_tot > 0.8, (l_hit, l_tot)
        assert z_hit / z_tot < 0.5, (z_hit, z_tot)
        # and the z-ordered layout still prunes on time
        tmid = ev.selectExpr("percentile(t, 0.5)").collect()[0][0]
        zt_hit, zt_tot = self._rowgroups_matching(
            f"{z_path}/part-*.parquet", "t", tmid
        )
        assert zt_hit / zt_tot < 0.6, (zt_hit, zt_tot)

    def test_write_sink_zorder_by_parquet(self, spark, tmp_path):
        """write_sink(zorder_by=...) on parquet must apply the Morton
        layout (not silently ignore the option): file-level user_id
        ranges must be tighter than a single all-spanning file."""
        from odibi_spark.io import write_sink

        ev = read_table(spark, "/root/testdata/sf0.01", "events").select(
            "event_id", "user_id", F.col("ts").cast("double").alias("t")
        )
        p = str(tmp_path / "sinkz")
        write_sink(
            ev, path=p, format="parquet", zorder_by=["user_id", "t"],
            coalesce_partitions=4,
            options={"parquet.block.size": str(8 * 1024)},
        )
        back = spark.read.parquet(p)
        assert back.count() == ev.count()
        uid = int(ev.selectExpr("percentile(user_id, 0.5)").collect()[0][0])
        hit, tot = self._rowgroups_matching(f"{p}/part-*.parquet", "user_id", uid)
        assert tot >= 8 and hit / tot < 0.6, (hit, tot)

    def test_roundtrip_preserves_rows(self, spark, tmp_path):
        from odibi_spark.operators.layout import write_zordered

        ev = read_table(spark, "/root/testdata/sf0.001", "events").select(
            "event_id", "user_id", "value"
        )
        p = str(tmp_path / "z2")
        write_zordered(ev, p, ["user_id", "value"], n_files=3)
        back = spark.read.parquet(p)
        assert back.count() == ev.count()
        assert "z_key" not in back.columns and "__z" not in back.columns
        a = sorted(r.event_id for r in back.select("event_id").collect())
        b = sorted(r.event_id for r in ev.select("event_id").collect())
        assert a == b


class TestCompaction:
    def test_compacts_many_small_files(self, spark, tmp_path):
        from odibi_spark.io.compact import compact_small_files

        p = str(tmp_path / "frag")
        df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS k")
        df.repartition(20).write.parquet(p)
        before = _data_files(spark, p)
        assert len(before) == 20
        total = sum(sz for _, sz in before)
        stats = compact_small_files(
            spark, p, target_file_bytes=max(total // 3, 1),
            sort_within_by=["id"],
        )
        assert stats["compacted"] and stats["files_before"] == 20
        assert stats["files_after"] <= 4
        back = spark.read.parquet(p)
        assert back.count() == 10_000
        assert back.agg({"id": "sum"}).collect()[0][0] == 49_995_000

    def test_rejects_delta_table_path(self, spark, tmp_path):
        """A _delta_log directory must abort compaction outright
        (ADVICE r5): it is exactly the '_'-prefixed entry the data-file
        listing skips, and rewriting parquet behind a transaction log
        corrupts the table for every reader."""
        import pytest as _pytest

        from odibi_spark.io.compact import compact_small_files

        p = str(tmp_path / "delta")
        spark.range(0, 100).repartition(4).write.parquet(p)
        (tmp_path / "delta" / "_delta_log").mkdir()
        with _pytest.raises(ValueError, match="Delta table"):
            compact_small_files(spark, p, target_file_bytes=1 << 20)

    def test_crash_between_rename_and_delete_recovers(self, spark, tmp_path, monkeypatch):
        """A compaction that dies after its compacted files moved in but
        before the small files it replaces were deleted (duplicates on
        disk) is finished by the next read: no row lost or doubled."""
        from odibi_spark.io.compact import compact_small_files
        from odibi_spark.patterns import merge_target

        p = str(tmp_path / "crashy")
        spark.range(0, 1_000).repartition(4).write.parquet(p)

        def crash(fs, path):
            raise RuntimeError("crash mid-delete")

        monkeypatch.setattr(merge_target._LocalFiles, "delete", crash)
        with pytest.raises(RuntimeError, match="mid-delete"):
            compact_small_files(spark, p, target_file_bytes=1 << 20)
        monkeypatch.undo()
        assert len(_on_disk(p)) == 5  # 4 originals + 1 compacted
        assert merge_target.ParquetTarget(spark, p).read().count() == 1_000
        assert len(_on_disk(p)) == 1
        # nothing left to finish: the next compaction is a no-op
        assert not compact_small_files(spark, p, target_file_bytes=1 << 20)["compacted"]
        assert spark.read.parquet(p).count() == 1_000

    def test_torn_record_is_ignored(self, spark, tmp_path):
        """A version record cut off mid-write (only its temp file exists)
        is not a version: compaction proceeds from the table as it is
        and publishes version 1 itself."""
        import json
        import os

        from odibi_spark.io.compact import compact_small_files

        p = tmp_path / "trunc"
        spark.range(0, 200).repartition(4).write.parquet(str(p))
        os.makedirs(p / "_log")
        (p / "_log" / ".1.json.dead.tmp").write_text('{"version": 1, "add": ["part-0')
        stats = compact_small_files(spark, str(p), target_file_bytes=1 << 20)
        assert stats["compacted"]
        assert json.loads((p / "_log" / "1.json").read_text())["rows"] == 200
        assert spark.read.parquet(str(p)).count() == 200

    def test_failed_move_keeps_originals(self, spark, tmp_path, monkeypatch):
        """A move that fails while the record is applied aborts before a
        single original is deleted; the next read retries the move and
        lands on the committed version."""
        import os

        from odibi_spark.io.compact import compact_small_files
        from odibi_spark.patterns import merge_target

        p = str(tmp_path / "atomic")
        spark.range(0, 200).repartition(4).write.parquet(p)
        originals = _on_disk(p)

        def fail(fs, src, dst):
            raise OSError("rename failed")

        monkeypatch.setattr(merge_target._LocalFiles, "move", fail)
        with pytest.raises(OSError, match="rename failed"):
            compact_small_files(spark, p, target_file_bytes=1 << 20)
        monkeypatch.undo()
        assert _on_disk(p) == originals
        assert len(os.listdir(os.path.join(p, "_staging"))) == 1
        assert merge_target.ParquetTarget(spark, p).read().count() == 200
        assert len(_on_disk(p)) == 1

    def test_compaction_racing_a_merge_conflicts(self, spark, tmp_path, monkeypatch):
        """A merge that commits between the compaction's staged write and
        its commit makes the compaction raise a conflict; the table then
        holds exactly the merge's rows, none twice."""
        from pyspark.sql.readwriter import DataFrameWriter

        from odibi_spark.io.compact import compact_small_files
        from odibi_spark.patterns.merge import merge_apply
        from odibi_spark.patterns.merge_target import CommitConflict

        p = str(tmp_path / "raced")
        spark.range(0, 40).selectExpr("id", "'v0' AS v").repartition(4).write.parquet(p)
        batch = spark.range(30, 50).selectExpr("id", "'v1' AS v")
        real_save = DataFrameWriter.save

        def save_then_merge(writer, *args, **kwargs):
            real_save(writer, *args, **kwargs)
            merge_apply(spark, batch, target_path=p, keys=["id"])

        monkeypatch.setattr(DataFrameWriter, "save", save_then_merge)
        with pytest.raises(CommitConflict):
            compact_small_files(spark, p, target_file_bytes=1 << 20)
        monkeypatch.undo()
        got = sorted((r.id, r.v) for r in spark.read.parquet(p).collect())
        want = [(i, "v0") for i in range(30)] + [(i, "v1") for i in range(30, 50)]
        assert got == want

    def test_noop_when_already_compact(self, spark, tmp_path):
        from odibi_spark.io.compact import compact_small_files

        p = str(tmp_path / "ok")
        spark.range(0, 100).coalesce(1).write.parquet(p)
        stats = compact_small_files(spark, p, target_file_bytes=10)
        assert not stats["compacted"]
        assert spark.read.parquet(p).count() == 100


class TestMaintainCli:
    def test_cli_compacts(self, spark, tmp_path, capsys):
        import json as _json

        from odibi_spark.cli import main

        p = str(tmp_path / "t")
        spark.range(0, 5000).selectExpr("id", "id % 5 AS k").repartition(
            10
        ).write.parquet(p)
        rc = main(["maintain", p, "--target-mb", "1"])
        assert rc == 0
        stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["compacted"] and stats["files_after"] < 10
        assert spark.read.parquet(p).count() == 5000

    def test_cli_zorder_rewrite(self, spark, tmp_path, capsys):
        import json as _json

        from odibi_spark.cli import main

        p = str(tmp_path / "z")
        spark.range(0, 5000).selectExpr(
            "id AS a", "(id * 37) % 1000 AS b"
        ).repartition(6).write.parquet(p)
        rc = main(["maintain", p, "--target-mb", "1", "--zorder-by", "a,b"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["cols"] == ["a", "b"] and out["zordered_files"] >= 1
        back = spark.read.parquet(p)
        assert back.count() == 5000
        assert set(back.columns) == {"a", "b"}


class TestCompactionSafety:
    def test_leaves_large_files_untouched(self, spark, tmp_path):
        """Delta-OPTIMIZE semantics: only under-sized files rewrite;
        files already at target size keep their identity."""
        from odibi_spark.io.compact import compact_small_files

        p = str(tmp_path / "mix")
        # one 'large' file + many small ones
        spark.range(0, 50_000).selectExpr("id").coalesce(1).write.parquet(p)
        big_before = {
            f for f, sz in _data_files(spark, p) if sz > 50_000
        }
        spark.range(50_000, 51_000).selectExpr("id").repartition(
            10
        ).write.mode("append").parquet(p)
        stats = compact_small_files(spark, p, target_file_bytes=100_000)
        assert stats["compacted"]
        after = dict(_data_files(spark, p))
        # the large file survived by NAME (never rewritten)
        assert big_before <= set(after)
        assert spark.read.parquet(p).count() == 51_000

    def test_partitioned_layout_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from odibi_spark.io.compact import compact_small_files

        p = str(tmp_path / "parts")
        spark.range(0, 100).selectExpr(
            "id", "id % 2 AS part"
        ).write.partitionBy("part").parquet(p)
        with _pytest.raises(ValueError, match="subdirectory"):
            compact_small_files(spark, p, target_file_bytes=10)

    def test_cli_zorder_rejects_partitioned(self, spark, tmp_path):
        import pytest as _pytest

        from odibi_spark.cli import main

        p = str(tmp_path / "pz")
        spark.range(0, 100).selectExpr(
            "id AS a", "id % 2 AS part"
        ).write.partitionBy("part").parquet(p)
        with _pytest.raises(ValueError, match="subdirectory"):
            main(["maintain", p, "--zorder-by", "a"])


class TestAutoOptimizeParquet:
    def test_append_mode_auto_compacts(self, spark, tmp_path):
        """auto_optimize on a parquet write runs the open compaction
        (the reference's Delta-only knob, open-format impl)."""
        from odibi_spark.io import write_sink

        p = str(tmp_path / "ao")
        for _ in range(6):
            write_sink(
                spark.range(0, 2000).selectExpr("id").repartition(4),
                path=p, mode="append",
            )
        assert len(_data_files(spark, p)) == 24
        write_sink(
            spark.range(0, 2000).selectExpr("id").repartition(4),
            path=p, mode="append", auto_optimize=True,
        )
        assert len(_data_files(spark, p)) < 28
        assert spark.read.parquet(p).count() == 14_000


class TestPartitionedZorder:
    def test_zorder_within_partitions(self, spark, tmp_path):
        """partition_by + zorder_by: each hive partition dir's row
        groups must prune on the zorder columns (Delta's partitioned
        OPTIMIZE ZORDER semantics)."""
        from odibi_spark.io import write_sink

        ev = read_table(spark, "/root/testdata/sf0.01", "events").select(
            "event_id", "user_id", F.col("ts").cast("double").alias("t"),
            (F.col("event_id") % 2).alias("shard"),
        )
        p = str(tmp_path / "pz")
        write_sink(
            ev, path=p, partition_by=["shard"],
            zorder_by=["user_id", "t"], coalesce_partitions=4,
            options={"parquet.block.size": str(8 * 1024)},
        )
        back = spark.read.parquet(p)
        assert back.count() == ev.count()
        uid = int(ev.selectExpr("percentile(user_id, 0.5)").collect()[0][0])
        # within ONE partition directory, most row groups skip
        hit, tot = TestDataSkipping._rowgroups_matching(
            f"{p}/shard=0/part-*.parquet", "user_id", uid
        )
        assert tot >= 8 and hit / tot < 0.6, (hit, tot)


class TestAutoOptimizeGuards:
    def test_overwrite_and_partitioned_skip_compaction(self, spark, tmp_path):
        """auto_optimize must not tax overwrites, must not crash on
        partitioned layouts, and must not undo a fresh Morton layout."""
        from odibi_spark.io import write_sink

        # overwrite: file count stays exactly what coalesce set
        p1 = str(tmp_path / "ow")
        write_sink(
            spark.range(1000).selectExpr("id").repartition(4),
            path=p1, mode="overwrite", auto_optimize=True,
        )
        assert len(_data_files(spark, p1)) == 4
        # partitioned append: succeeds (no reject_partitioned crash)
        p2 = str(tmp_path / "pt")
        write_sink(
            spark.range(1000).selectExpr("id", "id % 2 AS s"),
            path=p2, mode="append", partition_by=["s"], auto_optimize=True,
        )
        assert spark.read.parquet(p2).count() == 1000
        # zorder write: layout files survive (coalesce_partitions=3)
        p3 = str(tmp_path / "zz")
        write_sink(
            spark.range(1000).selectExpr("id AS a", "id % 7 AS b"),
            path=p3, zorder_by=["a", "b"], coalesce_partitions=3,
            auto_optimize=True,
        )
        assert len(_data_files(spark, p3)) == 3
