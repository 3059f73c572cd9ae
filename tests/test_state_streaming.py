"""Incremental state (HWM) + streaming tests."""

import pytest
from pyspark.sql import Row, functions as F

from odibi_spark.state import JsonStateBackend, ParquetStateBackend
from odibi_spark.state.hwm import capture_hwm, incremental_filter, rolling_window_filter
from odibi_spark.streaming import (
    foreach_batch_merge,
    start_stream_write,
    streaming_sessionize,
    windowed_aggregate,
)


def ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


class TestHWM:
    def test_json_backend_roundtrip(self, tmp_path):
        b = JsonStateBackend(str(tmp_path / "state.json"))
        assert b.get("k") is None
        b.set("k", "2024-01-01 00:00:00")
        assert b.get("k") == "2024-01-01 00:00:00"

    def test_json_backend_thread_race_keeps_every_key(self, tmp_path):
        """8 threads setting distinct keys on one file: every key
        survives and no writer raises (a shared tmp file and an
        unlocked read-modify-write lost keys and failed os.replace)."""
        import sys
        import threading

        b = JsonStateBackend(str(tmp_path / "race.json"))
        errors: list[BaseException] = []
        start = threading.Barrier(8)

        def writer(i: int) -> None:
            try:
                start.wait(timeout=30)
                for j in range(20):
                    b.set(f"w{i}_{j}", str(j))
            except BaseException as ex:  # recorded, asserted below
                errors.append(ex)

        threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert not errors
        for i in range(8):
            for j in range(20):
                assert b.get(f"w{i}_{j}") == str(j)

    def test_parquet_backend_roundtrip(self, spark, tmp_path):
        b = ParquetStateBackend(spark, str(tmp_path / "state_pq"))
        b.set("hwm", "v1")
        b.set("hwm", "v2")
        b.set("other", "x")
        assert b.get("hwm") == "v2" and b.get("other") == "x"

    def test_parquet_backend_concurrent_writers(self, spark, tmp_path):
        """Two threads setting DIFFERENT keys concurrently must both
        land (VERDICT r7 task 6 — the pre-fix read-modify-overwrite
        lost one writer's keys; appends with unique filenames cannot).
        """
        import threading

        b = ParquetStateBackend(spark, str(tmp_path / "state_cc"))
        errors: list[Exception] = []

        def writer(prefix: str) -> None:
            try:
                for i in range(8):
                    b.set(f"{prefix}{i}", f"v{i}")
            except Exception as ex:  # pragma: no cover - failure path
                errors.append(ex)

        threads = [
            threading.Thread(target=writer, args=(p,)) for p in ("a", "b")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        for p in ("a", "b"):
            for i in range(8):
                assert b.get(f"{p}{i}") == f"v{i}"

    def test_parquet_backend_same_key_race_is_last_seq_wins(self, spark, tmp_path):
        import threading

        b = ParquetStateBackend(spark, str(tmp_path / "state_race"))
        barrier = threading.Barrier(2)

        def writer(val: str) -> None:
            barrier.wait()
            b.set("k", val)

        threads = [
            threading.Thread(target=writer, args=(v,)) for v in ("x", "y")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        # one of the two values, never a crash or a missing key
        assert b.get("k") in {"x", "y"}

    def test_parquet_backend_uri_path_goes_through_spark(self, spark, tmp_path):
        """A path with a URI scheme is read (and appended) through Spark,
        not pyarrow: an absent table reads as empty, then values land."""
        b = ParquetStateBackend(spark, f"file://{tmp_path}/state_uri")
        assert b.get("hwm") is None
        b.set("hwm", "v1")
        b.set("hwm", "v2")
        assert b.get("hwm") == "v2"

    def test_parquet_backend_reads_pre_append_layout(self, spark, tmp_path):
        """Stores written by the old overwrite layout (no seq column)
        still read, and a new set() supersedes them."""
        path = str(tmp_path / "state_old")
        spark.createDataFrame(
            [("hwm", "old")], "key string, value string"
        ).coalesce(1).write.mode("overwrite").parquet(path)
        b = ParquetStateBackend(spark, path)
        assert b.get("hwm") == "old"
        b.set("hwm", "new")
        assert b.get("hwm") == "new"

    def test_incremental_cycle(self, spark, tmp_path):
        b = JsonStateBackend(str(tmp_path / "s.json"))
        batch1 = spark.createDataFrame(
            [Row(id=1, at=ts("2024-01-01 10:00:00")), Row(id=2, at=ts("2024-01-02 10:00:00"))]
        )
        out1 = incremental_filter(batch1, column="at", hwm=b.get("t"))
        assert out1.count() == 2  # first run: full load
        b.set("t", capture_hwm(out1, "at"))

        batch2 = spark.createDataFrame(
            [
                Row(id=2, at=ts("2024-01-02 10:00:00")),  # already seen
                Row(id=3, at=ts("2024-01-03 10:00:00")),  # new
            ]
        )
        out2 = incremental_filter(batch2, column="at", hwm=b.get("t"))
        assert [r.id for r in out2.collect()] == [3]

    def test_watermark_lag_readmits_late_rows(self, spark, tmp_path):
        b = JsonStateBackend(str(tmp_path / "s2.json"))
        b.set("t", "2024-01-02 10:00:00")
        batch = spark.createDataFrame(
            [Row(id=1, at=ts("2024-01-02 09:30:00"))]  # late arrival
        )
        strict = incremental_filter(batch, column="at", hwm=b.get("t"))
        assert strict.count() == 0
        lagged = incremental_filter(
            batch, column="at", hwm=b.get("t"), watermark_lag="1 HOUR"
        )
        assert lagged.count() == 1

    def test_numeric_hwm_column(self, spark, tmp_path):
        """ADVICE r1 (medium): a numeric HWM must compare numerically —
        CAST('2' AS TIMESTAMP) is NULL and would silently read 0 rows."""
        b = JsonStateBackend(str(tmp_path / "s3.json"))
        b.set("t", "2")
        batch = spark.createDataFrame([Row(id=1), Row(id=2), Row(id=3)])
        out = incremental_filter(batch, column="id", hwm=b.get("t"))
        assert [r.id for r in out.collect()] == [3]
        with pytest.raises(ValueError, match="temporal"):
            incremental_filter(
                batch, column="id", hwm=b.get("t"), watermark_lag="1 HOUR"
            )

    def test_rolling_window(self, spark):
        df = spark.createDataFrame([Row(at=ts("2020-01-01 00:00:00"))]).withColumn(
            "now_at", F.current_timestamp()
        )
        old = rolling_window_filter(df, column="at", lookback="7 DAYS")
        recent = rolling_window_filter(df, column="now_at", lookback="7 DAYS")
        assert old.count() == 0 and recent.count() == 1


class TestStreaming:
    @pytest.fixture()
    def stream_src(self, spark, tmp_path):
        src = str(tmp_path / "src")
        from odibi_spark.io import read_table

        ev = read_table(spark, "/root/testdata/sf0.001", "events")
        ev.write.mode("overwrite").parquet(src)
        schema = ev.schema.simpleString().removeprefix("struct<").removesuffix(">")
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in ev.schema.fields)
        return spark.readStream.schema(ddl).parquet(src), ev

    def test_stream_to_parquet_availablenow(self, spark, tmp_path, stream_src):
        stream, batch = stream_src
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = start_stream_write(
            stream, path=out, checkpoint=ckpt, trigger={"availableNow": True},
        )
        q.awaitTermination()
        assert spark.read.parquet(out).count() == batch.count()

    def test_windowed_aggregate_memory_sink(self, spark, tmp_path, stream_src):
        stream, batch = stream_src
        agg = windowed_aggregate(
            stream, ts_col="ts", window="1 hour", watermark="2 hours",
            group_cols=["event_type"],
            aggs={"n": "count(*)", "total": "sum(value)"},
        )
        q = start_stream_write(
            agg, format="memory", output_mode="append",
            query_name="win_agg", checkpoint=str(tmp_path / "c2"),
            trigger={"availableNow": True},
        )
        q.awaitTermination()
        got = spark.sql("SELECT * FROM win_agg")
        # append mode emits only watermark-closed windows; batch data is
        # finite so all but the tail close
        assert got.count() > 0
        assert {"window", "event_type", "n", "total"} == set(got.columns)

    def test_foreach_batch_merge_upsert(self, spark, tmp_path, stream_src):
        stream, batch = stream_src
        target = str(tmp_path / "merged")
        q = foreach_batch_merge(
            stream, target_path=target, keys=["event_id"],
            checkpoint=str(tmp_path / "c3"),
        )
        q.awaitTermination()
        assert spark.read.parquet(target).count() == batch.count()
        # replaying the same source through a fresh stream dedupes on keys
        q2 = foreach_batch_merge(
            spark.readStream.schema(batch.schema).parquet(str(tmp_path / "src")),
            target_path=target, keys=["event_id"], checkpoint=str(tmp_path / "c4"),
        )
        q2.awaitTermination()
        assert spark.read.parquet(target).count() == batch.count()

    def test_stream_stream_interval_join_inner_equals_batch(
        self, spark, tmp_path, stream_src
    ):
        from odibi_spark.streaming import streaming_interval_join

        _, batch = stream_src
        clicks_b = batch.filter("event_type = 'click'").select(
            F.col("event_id").alias("click_id"), "user_id", "ts"
        )
        buys_b = batch.filter("event_type = 'purchase'").select(
            "user_id", F.col("ts").alias("buy_ts"), "value"
        )
        clicks_b.write.parquet(str(tmp_path / "clicks"))
        buys_b.write.parquet(str(tmp_path / "buys"))
        clicks = spark.readStream.schema(
            "click_id BIGINT, user_id BIGINT, ts TIMESTAMP"
        ).parquet(str(tmp_path / "clicks"))
        buys = spark.readStream.schema(
            "user_id BIGINT, buy_ts TIMESTAMP, value DOUBLE"
        ).parquet(str(tmp_path / "buys"))
        joined = streaming_interval_join(
            clicks, buys, keys=["user_id"], left_ts="ts",
            right_ts="buy_ts", within="1 hour",
        )
        q = start_stream_write(
            joined, format="memory", output_mode="append",
            query_name="ssj", checkpoint=str(tmp_path / "cj"),
            trigger={"availableNow": True},
        )
        q.awaitTermination()
        got = spark.sql("SELECT * FROM ssj")
        expected = clicks_b.join(buys_b, "user_id").filter(
            "buy_ts >= ts AND buy_ts <= ts + INTERVAL 1 HOUR"
        )
        assert got.count() == expected.count() > 0
        assert got.exceptAll(expected.select(*got.columns)).count() == 0

    def test_stream_stream_interval_join_left_outer_emits_unmatched(
        self, spark, tmp_path
    ):
        import pandas as pd

        from odibi_spark.streaming import streaming_interval_join

        lsrc, rsrc = tmp_path / "l", tmp_path / "r"
        lsrc.mkdir(), rsrc.mkdir()
        ts = lambda s: pd.to_datetime(s).astype("datetime64[us]")
        # left: one matched key, one unmatched key, plus a far-future
        # sentinel in a SECOND file so a later micro-batch advances the
        # watermark past the real rows and flushes the outer result
        pd.DataFrame(
            {"k": [1, 2], "lts": ts(["2024-01-01 10:00", "2024-01-01 10:00"])}
        ).to_parquet(lsrc / "a.parquet")
        pd.DataFrame({"k": [99], "lts": ts(["2024-06-01 00:00"])}).to_parquet(
            lsrc / "b.parquet"
        )
        pd.DataFrame(
            {"k": [1, 99], "rts": ts(["2024-01-01 10:30", "2024-06-01 00:00"])}
        ).to_parquet(rsrc / "a.parquet")
        left = (
            spark.readStream.schema("k BIGINT, lts TIMESTAMP")
            .option("maxFilesPerTrigger", "1").parquet(str(lsrc))
        )
        right = spark.readStream.schema("k BIGINT, rts TIMESTAMP").parquet(
            str(rsrc)
        )
        joined = streaming_interval_join(
            left, right, keys=["k"], left_ts="lts", right_ts="rts",
            within="1 hour", how="leftOuter",
        )
        q = start_stream_write(
            joined, format="memory", output_mode="append",
            query_name="ssj_outer", checkpoint=str(tmp_path / "co"),
            trigger={"availableNow": True},
        )
        q.awaitTermination()
        rows = {
            (r.k, r.rts is None)
            for r in spark.sql("SELECT * FROM ssj_outer").collect()
        }
        assert (1, False) in rows  # matched within the hour
        assert (2, True) in rows  # unmatched, emitted null-padded

    def test_stream_static_enrichment_join(self, spark, tmp_path, stream_src):
        """Stream-static join: a file stream enriched against a static
        dimension — no watermark needed (the static side is re-read per
        micro-batch; on a cluster it broadcasts under the threshold)."""
        stream, batch = stream_src
        dim = (
            batch.select("event_type").distinct()
            .withColumn("type_len", F.length("event_type"))
        )
        enriched = stream.join(dim, "event_type")
        q = start_stream_write(
            enriched, format="memory", output_mode="append",
            query_name="enrich", checkpoint=str(tmp_path / "ce"),
            trigger={"availableNow": True},
        )
        q.awaitTermination()
        got = spark.sql("SELECT * FROM enrich")
        assert got.count() == batch.count()  # every event matched its dim
        assert "type_len" in got.columns

    def test_streaming_sessionize(self, spark, tmp_path, stream_src):
        stream, _ = stream_src
        sess = streaming_sessionize(
            stream, ts_col="ts", gap="30 minutes", watermark="1 hour",
            group_cols=["user_id"], aggs={"n": "count(*)"},
        )
        q = start_stream_write(
            sess, format="memory", output_mode="append", query_name="sess",
            checkpoint=str(tmp_path / "c5"), trigger={"availableNow": True},
        )
        q.awaitTermination()
        assert spark.sql("SELECT * FROM sess").count() > 0


class TestStatefulOperators:
    def _run(self, spark, stream, out, ckpt, output_mode="append"):
        from odibi_spark.streaming.core import start_stream_write

        if output_mode == "update":
            # update-mode stateful output: parquet sink is append-only,
            # so land each micro-batch's updates via foreachBatch
            def appender(batch, _epoch):
                batch.write.mode("append").parquet(out)

            q = start_stream_write(
                stream, checkpoint=ckpt, output_mode="update",
                foreach_batch=appender, trigger={"availableNow": True},
            )
        else:
            q = start_stream_write(
                stream, path=out, checkpoint=ckpt, output_mode=output_mode,
                trigger={"availableNow": True},
            )
        q.awaitTermination()

    def test_dedup_within_watermark(self, spark, tmp_path):
        import pandas as pd

        from odibi_spark.streaming.core import (
            start_stream_write,
            streaming_dedup_within_watermark,
        )

        src = tmp_path / "src"
        src.mkdir()
        pd.DataFrame(
            {
                "k": [1, 1, 2, 2, 3],
                "ts": pd.to_datetime(
                    ["2024-01-01 10:00", "2024-01-01 10:01", "2024-01-01 10:00",
                     "2024-01-01 10:02", "2024-01-01 10:05"]
                ).astype("datetime64[us]"),  # ns parquet is unreadable for Spark
            }
        ).to_parquet(src / "a.parquet")
        stream = spark.readStream.schema("k BIGINT, ts TIMESTAMP").parquet(str(src))
        dedup = streaming_dedup_within_watermark(
            stream, keys=["k"], ts_col="ts", watermark="10 minutes"
        )
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
        self._run(spark, dedup, out, ckpt)
        got = spark.read.parquet(out)
        assert got.count() == 3  # one row per key survives
        assert {r.k for r in got.collect()} == {1, 2, 3}

    def test_stateful_running_stats_across_restarts(self, spark, tmp_path):
        """State must survive a query restart via the checkpoint: the
        second run's means include the first run's rows."""
        import pandas as pd

        from odibi_spark.streaming.core import stateful_running_stats

        src = tmp_path / "src"
        src.mkdir()
        pd.DataFrame({"user": ["a", "a", "b"], "v": [1.0, 3.0, 10.0]}).to_parquet(
            src / "batch1.parquet"
        )
        stream = spark.readStream.schema("user STRING, v DOUBLE").parquet(str(src))
        stats = stateful_running_stats(stream, keys=["user"], value_col="v")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
        self._run(spark, stats, out, ckpt, output_mode="update")
        first = {r.user: (r.n, r.mean) for r in spark.read.parquet(out).collect()}
        assert first["a"] == (2, 2.0) and first["b"] == (1, 10.0)

        pd.DataFrame({"user": ["a", "b"], "v": [5.0, 20.0]}).to_parquet(
            src / "batch2.parquet"
        )
        stream2 = spark.readStream.schema("user STRING, v DOUBLE").parquet(str(src))
        stats2 = stateful_running_stats(stream2, keys=["user"], value_col="v")
        self._run(spark, stats2, out, ckpt, output_mode="update")
        rows = spark.read.parquet(out).collect()
        latest = {}
        for r in rows:  # keep the highest-n emission per user
            if r.user not in latest or r.n > latest[r.user][0]:
                latest[r.user] = (r.n, r.mean)
        assert latest["a"] == (3, 3.0)     # (1+3+5)/3
        assert latest["b"] == (2, 15.0)    # (10+20)/2


    def test_stateful_ewma_matches_one_shot_batch(self, spark, tmp_path):
        """Streaming EWMA split across two micro-batches must emit
        byte-identical values to a single batch pass (state seeds the
        recursion across the boundary), and survive a restart."""
        import pandas as pd

        from odibi_spark.operators.analytics import ewma_frames
        from odibi_spark.streaming.core import stateful_ewma

        src = tmp_path / "esrc"
        src.mkdir()
        wave1 = pd.DataFrame(
            {"user": ["a", "a", "b"], "ts": [1, 2, 1], "v": [10.0, 20.0, 5.0]}
        )
        wave2 = pd.DataFrame(
            {"user": ["a", "b"], "ts": [3, 2], "v": [50.0, 7.0]}
        )
        wave1.to_parquet(src / "w1.parquet")

        def run_wave():
            stream = spark.readStream.schema(
                "user STRING, ts BIGINT, v DOUBLE"
            ).parquet(str(src))
            ew = stateful_ewma(
                stream, keys=["user"], ts_col="ts", value_col="v",
                alpha=0.5,
            )
            self._run(
                spark, ew, str(tmp_path / "eout"), str(tmp_path / "eck"),
                output_mode="update",
            )

        run_wave()
        wave2.to_parquet(src / "w2.parquet")
        run_wave()  # restart: state reloaded from the checkpoint

        got = {
            (r.user, r.ts): r.ewma
            for r in spark.read.parquet(str(tmp_path / "eout")).collect()
        }
        full = spark.createDataFrame(pd.concat([wave1, wave2]))
        exp = {
            (r.user, r.ts): r.ewma
            for r in ewma_frames(
                full, group_by=["user"], ts_col="ts", value_col="v",
                alpha=0.5,
            ).collect()
        }
        assert got == exp  # exact equality: same recursion, seeded


    def test_stateful_ewma_key_order_differs_from_schema(self, spark, tmp_path):
        """keys=['k2','k1'] with schema order (k1, k2, ...): key values
        must land in THEIR columns, not schema-position columns."""
        import pandas as pd

        from odibi_spark.streaming.core import stateful_ewma

        src = tmp_path / "korder"
        src.mkdir()
        pd.DataFrame(
            {"k1": ["x"], "k2": ["y"], "ts": [1], "v": [2.0]}
        ).to_parquet(src / "b1.parquet")
        stream = spark.readStream.schema(
            "k1 STRING, k2 STRING, ts BIGINT, v DOUBLE"
        ).parquet(str(src))
        ew = stateful_ewma(
            stream, keys=["k2", "k1"], ts_col="ts", value_col="v",
            alpha=0.5,
        )
        self._run(
            spark, ew, str(tmp_path / "ko_out"), str(tmp_path / "ko_ck"),
            output_mode="update",
        )
        r = spark.read.parquet(str(tmp_path / "ko_out")).collect()[0]
        assert r.k1 == "x" and r.k2 == "y"


class TestStreamingShardWriter:
    """Streaming token-balanced shard production with exactly-once
    replay (VERDICT r4 task 4)."""

    SCHEMA = "doc_id long, text string, toks int"

    def _write_wave(self, spark, src, lo, hi):
        spark.createDataFrame(
            [(i, f"doc number {i} body", 10) for i in range(lo, hi)],
            self.SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)

    def _run(self, spark, src, out, ckpt):
        from odibi_spark.streaming.core import streaming_shard_writer

        q = streaming_shard_writer(
            spark.readStream.schema(self.SCHEMA).parquet(src),
            path=out, checkpoint=ckpt, token_col="toks",
            tokens_per_shard=64, order_col="doc_id", id_col="doc_id",
        )
        q.awaitTermination()

    def test_two_waves_then_crash_replay(self, spark, tmp_path):
        import glob
        import os

        src = str(tmp_path / "src")
        out = str(tmp_path / "shards")
        ckpt = str(tmp_path / "ckpt")

        # wave 1: 20 docs -> epoch 0
        self._write_wave(spark, src, 0, 20)
        self._run(spark, src, out, ckpt)
        back = spark.read.json(out)
        assert back.count() == 20
        assert back.select("doc_id").distinct().count() == 20
        assert sorted(glob.glob(out + "/batch_id=*")) == [out + "/batch_id=0"]
        # token balance within the epoch: 64-token shards of 10-tok docs
        sizes = [
            r["count"]
            for r in back.groupBy("batch_id", "shard_id").count().collect()
        ]
        assert all(6 <= s <= 7 for s in sizes), sizes

        # wave 2: 10 more docs -> epoch 1 only (no reprocessing of wave 1)
        self._write_wave(spark, src, 20, 30)
        self._run(spark, src, out, ckpt)
        back = spark.read.json(out)
        assert back.count() == 30
        assert back.select("doc_id").distinct().count() == 30

        # crash between output and checkpoint commit: drop the newest
        # commit marker so the engine REPLAYS epoch 1 on restart
        commits = sorted(
            p for p in glob.glob(ckpt + "/commits/*") if not p.endswith(".crc")
        )
        os.remove(commits[-1])
        crc = os.path.join(
            os.path.dirname(commits[-1]), "." + os.path.basename(commits[-1]) + ".crc"
        )
        if os.path.exists(crc):
            os.remove(crc)
        self._run(spark, src, out, ckpt)
        back = spark.read.json(out)
        # replay overwrote batch_id=1 in place: nothing lost, nothing doubled
        assert back.count() == 30
        assert back.select("doc_id").distinct().count() == 30
        assert (
            back.groupBy("doc_id").count().filter("count > 1").count() == 0
        )


class TestStreamingIncrementalDedup:
    """Live dedup against the shared signature store, exactly-once
    under epoch replay."""

    SCHEMA = "doc_id long, text string"
    DOCS = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "an entirely different document about spark pipelines here",
        3: "the quick brown fox jumps over the lazy dog tonight",  # ~dup of 1
        4: "yet another unrelated text with its own words only",
        5: "the quick brown fox leaps over the lazy dog tonight",  # ~dup of 3
    }

    def _write(self, spark, src, ids):
        spark.createDataFrame(
            [(i, self.DOCS[i]) for i in ids], self.SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)

    def _run(self, spark, src, paths):
        from odibi_spark.streaming.core import streaming_incremental_dedup

        q = streaming_incremental_dedup(
            spark.readStream.schema(self.SCHEMA).parquet(src),
            target_path=paths["out"], store_path=paths["store"],
            checkpoint=paths["ckpt"], n=2, threshold=0.4,
        )
        q.awaitTermination()

    def test_waves_dedup_and_replay(self, spark, tmp_path):
        import glob
        import os

        src = str(tmp_path / "src")
        paths = {k: str(tmp_path / k) for k in ("out", "store", "ckpt")}

        self._write(spark, src, [1, 2, 3])
        self._run(spark, src, paths)
        kept = {r.doc_id for r in spark.read.parquet(paths["out"]).collect()}
        assert kept == {1, 2}  # 3 is a near-dup of 1

        # wave 2: 5 matches only 3 (dropped, but its signature is in
        # the store) -> still caught; 4 is clean
        self._write(spark, src, [4, 5])
        self._run(spark, src, paths)
        kept = {r.doc_id for r in spark.read.parquet(paths["out"]).collect()}
        assert kept == {1, 2, 4}

        # crash-replay epoch 1: drop its commit marker, rerun
        commits = sorted(
            p for p in glob.glob(paths["ckpt"] + "/commits/*")
            if not p.endswith(".crc")
        )
        os.remove(commits[-1])
        crc = os.path.join(
            os.path.dirname(commits[-1]),
            "." + os.path.basename(commits[-1]) + ".crc",
        )
        if os.path.exists(crc):
            os.remove(crc)
        self._run(spark, src, paths)
        kept = {r.doc_id for r in spark.read.parquet(paths["out"]).collect()}
        assert kept == {1, 2, 4}  # replay converged, nothing doubled/lost
        # store holds exactly one signature row per doc (layout v2:
        # sigs + persisted bands sub-tables)
        from odibi_spark.llm.incremental import SignatureStore

        store = SignatureStore(spark, paths["store"])
        assert store.read().count() == 5
        bands = store.read_bands()
        assert bands.select("id").distinct().count() == 5


class TestStreamingCmsHeavyHitters:
    def test_foreach_batch_cms_fold_equals_one_shot(self, spark, tmp_path):
        """Streaming heavy-hitter state: each micro-batch folds its CMS
        into the parquet running sketch via foreachBatch +
        cms_incremental; because CMS folding is exact cell arithmetic,
        the final sketch is BIT-IDENTICAL to a one-shot build over the
        whole stream (the property the DataSketches estimates lack)."""
        from pyspark.sql import Row, functions as F

        from odibi_spark.llm import cms
        from odibi_spark.patterns.aggregation import cms_incremental

        src = str(tmp_path / "src")
        rows = [Row(tok=f"t{i % 7}") for i in range(200)]
        batch = spark.createDataFrame(rows)
        batch.repartition(4).write.mode("overwrite").parquet(src)

        state_path = str(tmp_path / "cms_state")

        def fold(bdf, bid):
            cms_incremental(
                bdf.sparkSession, bdf,
                target_path=state_path, key_col="tok",
                width=32, depth=3, seed=13, batch_id=bid,
            )

        q = (
            spark.readStream.schema("tok string").parquet(src)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .option("maxFilesPerTrigger", "2")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        from odibi_spark.patterns.aggregation import cms_state_read

        state = cms_state_read(spark, state_path)
        one_shot = cms.cms_build(batch, "tok", width=32, depth=3, seed=13)
        assert sorted(map(tuple, state.collect())) == sorted(
            map(tuple, one_shot.collect())
        )
        est = {
            r.tok: r.est_cnt
            for r in cms.cms_query(
                state,
                spark.createDataFrame([Row(tok=f"t{i}") for i in range(7)]),
                "tok", width=32, depth=3, seed=13,
            ).collect()
        }
        truth = {r.tok: r["count"] for r in batch.groupBy("tok").count().collect()}
        assert all(est[t] >= truth[t] for t in truth)


class TestStreamingHwmIncrementalDedup:
    """HWM-stateful streaming ingest (r12): epoch pointer guard,
    crash-window replay convergence, and the flagged (not filtered)
    output discipline — llm.incremental.streaming_hwm_incremental_dedup
    / incremental_dedup_batch."""

    SCHEMA = "doc_id long, text string"
    DOCS = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "an entirely different document about spark pipelines here",
        3: "the quick brown fox jumps over the lazy dog tonight",
        4: "yet another unrelated text with its own words only",
    }

    def _paths(self, tmp_path):
        return {k: str(tmp_path / k) for k in ("out", "store", "state")}

    def _batch(self, spark, ids):
        return spark.createDataFrame(
            [(i, self.DOCS[i]) for i in ids], self.SCHEMA
        )

    def _fold(self, spark, p, ids, epoch):
        from odibi_spark.llm.incremental import (
            SignatureStore, incremental_dedup_batch,
        )
        from odibi_spark.state.hwm import JsonStateBackend

        return incremental_dedup_batch(
            self._batch(spark, ids), epoch,
            SignatureStore(spark, p["store"]),
            JsonStateBackend(p["state"] + ".json"),
            output_path=p["out"], n=2, threshold=0.4,
        )

    def test_two_epochs_flag_across_store(self, spark, tmp_path):
        p = self._paths(tmp_path)
        assert self._fold(spark, p, [1, 2], 0) is True
        assert self._fold(spark, p, [3, 4], 1) is True
        got = {
            r.doc_id: r.is_dup
            for r in spark.read.parquet(p["out"]).collect()
        }
        # 3 matches 1 ACROSS the store boundary; output keeps all rows
        assert got == {1: False, 2: False, 3: True, 4: False}

    def test_committed_epoch_is_skipped(self, spark, tmp_path):
        p = self._paths(tmp_path)
        assert self._fold(spark, p, [1, 2], 0) is True
        # full replay of a committed epoch: guard short-circuits
        assert self._fold(spark, p, [1, 2], 0) is False
        from odibi_spark.llm.incremental import SignatureStore

        assert SignatureStore(spark, p["store"]).read().count() == 2

    def test_crash_window_replay_converges(self, spark, tmp_path):
        """Simulate a crash AFTER durable effects but BEFORE the epoch
        pointer commit: rewind the pointer and replay — store, output,
        and flags must converge byte-identically, nothing doubled."""
        import json

        p = self._paths(tmp_path)
        self._fold(spark, p, [1, 2], 0)
        self._fold(spark, p, [3, 4], 1)
        state_file = p["state"] + ".json"
        st = json.load(open(state_file))
        st["dedup_hwm__epoch"] = "0"   # pointer rewound...
        st["dedup_hwm"] = "2"          # ...and the HWM with it
        json.dump(st, open(state_file, "w"))
        assert self._fold(spark, p, [3, 4], 1) is True  # replays
        got = {
            r.doc_id: r.is_dup
            for r in spark.read.parquet(p["out"]).collect()
        }
        assert got == {1: False, 2: False, 3: True, 4: False}
        from odibi_spark.llm.incremental import SignatureStore

        store = SignatureStore(spark, p["store"])
        assert store.read().count() == 4  # one signature row per doc
        assert json.load(open(state_file))["dedup_hwm__epoch"] == "1"
