"""Writers that replace their own partitions commit one ``ParquetTarget``
version each (``replace_partitions``): the ANN index's codes, the
streaming near-dup ingest's flagged output, the live dedup corpus and
the signature store, and ``SemanticQuery.materialize`` through
``write_sink``. Every file Spark writes for them lands under the
table's ``_staging/`` first, a replay replaces its own files, and a
plan that fails leaves the previous rows."""

import glob
import json
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from odibi_spark.patterns import merge_target
from odibi_spark.patterns.merge_target import ParquetTarget


def _versions(path: str) -> list[int]:
    return sorted(
        int(n.split(".")[0]) for n in os.listdir(os.path.join(path, "_log"))
        if n.endswith(".json")
    )


def _newest(path: str) -> dict:
    return ParquetTarget(None, path).record(_versions(path)[-1])


@pytest.fixture()
def spark_writes(monkeypatch):
    """Every path a ``DataFrameWriter`` writes through ``parquet`` or
    ``save`` while the test runs."""
    paths: list[str] = []
    real_parquet, real_save = DataFrameWriter.parquet, DataFrameWriter.save

    def parquet(self, path, *args, **kwargs):
        paths.append(path)
        return real_parquet(self, path, *args, **kwargs)

    def save(self, path=None, *args, **kwargs):
        paths.append(path)
        return real_save(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(DataFrameWriter, "save", save)
    return paths


def _all_staged(paths: list[str], *roots: str) -> bool:
    """Each path lies under one of the tables' ``_staging/``."""
    return bool(paths) and all(
        any(p.startswith(f"{root}/_staging/") for root in roots) for p in paths
    )


class TestReplacePartitions:
    KG = "k int, g string"

    def _stage(self, spark, rows):
        df = spark.createDataFrame(rows, self.KG)
        return lambda staged: df.write.partitionBy("g").parquet(staged)

    def test_replaces_only_the_partitions_it_writes(self, spark, tmp_path):
        p = str(tmp_path / "t")
        t = ParquetTarget(spark, p)
        first = t.replace_partitions(self._stage(spark, [(1, "a"), (2, "b")]))
        assert first["remove"] == []
        second = ParquetTarget(spark, p).replace_partitions(self._stage(spark, [(3, "b")]))
        assert second["remove"] == [f for f in first["add"] if f.startswith("g=b/")]
        rows = sorted((r.k, r.g) for r in spark.read.parquet(p).collect())
        assert rows == [(1, "a"), (3, "b")]

    def test_a_stage_without_rows_replaces_nothing(self, spark, tmp_path):
        p = str(tmp_path / "t")
        ParquetTarget(spark, p).replace_partitions(self._stage(spark, [(1, "a")]))
        empty = ParquetTarget(spark, p).replace_partitions(self._stage(spark, []))
        assert empty["remove"] == []
        assert [(r.k, r.g) for r in spark.read.parquet(p).collect()] == [(1, "a")]

    def test_matches_the_outermost_partition_below_a_sub_table(self, tmp_path):
        """``sigs/batch_id=1/bucket=2/x`` belongs to ``sigs/batch_id=1``:
        a restage of batch 1 that lands in other buckets still replaces
        every file of the batch, and only in that sub-table."""
        assert merge_target._partition_dir("sigs/batch_id=1/bucket=2/x.parquet") == "sigs/batch_id=1"
        assert merge_target._partition_dir("epoch=3/x.parquet") == "epoch=3"
        assert merge_target._partition_dir("x.parquet") is None
        assert merge_target._partition_dir("sigs/x.parquet") is None


def test_a_named_append_lists_no_data_files(tmp_path, monkeypatch):
    """A pyarrow append reads the version and sweeps staging; it walks
    the table's data files neither before nor after its commit."""
    p = str(tmp_path / "meta")
    ParquetTarget(None, p).append(pa.table({"k": [1]}))
    walks = []
    real = merge_target._list_data

    def counted(fs, root, prefix=""):
        if root == p:
            walks.append(root)
        return real(fs, root, prefix)

    monkeypatch.setattr(merge_target, "_list_data", counted)
    record = ParquetTarget(None, p).append(pa.table({"k": [2]}))
    assert walks == []
    assert (record["version"], record["remove"]) == (2, [])


class TestAnnIndexCodes:
    GEO = dict(nlist=2, nprobe=1, m=4, k=4, dim=8)

    def _vectors(self, spark, n=12):
        v = np.random.default_rng(5).standard_normal((n, 8))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(v)],
            "vec_id long, embedding array<float>",
        )

    def test_append_is_a_commit_and_a_replay_replaces_it(self, spark, tmp_path, spark_writes):
        from odibi_spark.llm.ann_store import AnnIndexStore

        df = self._vectors(spark)
        store = AnnIndexStore(spark, str(tmp_path / "idx"), **self.GEO)
        store.build(df, "vec_id", "embedding")
        codes = str(tmp_path / "idx" / "codes")
        store.append(df, "vec_id", "embedding", batch_id="b1")
        store.append(df.filter("vec_id < 4"), "vec_id", "embedding", batch_id="b2")
        first = ParquetTarget(None, codes).record(1)
        store.append(df, "vec_id", "embedding", batch_id="b1")  # replay
        assert _versions(codes) == [1, 2, 3]
        assert sorted(_newest(codes)["remove"]) == sorted(first["add"])
        assert _all_staged(spark_writes, codes)
        assert store.read_codes().count() == 12 + 4


class TestStreamingHwmDedupOutput:
    SCHEMA = "doc_id long, text string"
    DOCS = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "an entirely different document about spark pipelines here",
        3: "the quick brown fox jumps over the lazy dog tonight",
        4: "yet another unrelated text with its own words only",
    }

    def _fold(self, spark, tmp_path, ids, epoch):
        from odibi_spark.llm.incremental import SignatureStore, incremental_dedup_batch
        from odibi_spark.state.hwm import JsonStateBackend

        return incremental_dedup_batch(
            spark.createDataFrame([(i, self.DOCS[i]) for i in ids], self.SCHEMA),
            epoch,
            SignatureStore(spark, str(tmp_path / "store")),
            JsonStateBackend(str(tmp_path / "state.json")),
            output_path=str(tmp_path / "out"), n=2, threshold=0.4,
        )

    def _flags(self, spark, tmp_path):
        return {r.doc_id: (r.is_dup, r.epoch) for r in spark.read.parquet(str(tmp_path / "out")).collect()}

    def _rewind(self, tmp_path, **values):
        state_file = tmp_path / "state.json"
        st = json.loads(state_file.read_text())
        st.update(values)
        state_file.write_text(json.dumps(st))

    def test_epochs_commit_and_a_replay_replaces_its_partition(self, spark, tmp_path, spark_writes):
        out, store = str(tmp_path / "out"), str(tmp_path / "store")
        assert self._fold(spark, tmp_path, [1, 2], 0)
        assert self._fold(spark, tmp_path, [3, 4], 1)
        epoch1 = _newest(out)
        assert epoch1["remove"] == [] and all(f.startswith("epoch=1/") for f in epoch1["add"])
        assert _all_staged(spark_writes, out, store)
        # a crash after every write but before the pointer and the HWM
        self._rewind(tmp_path, dedup_hwm__epoch="0", dedup_hwm="2")
        assert self._fold(spark, tmp_path, [3, 4], 1)
        assert _versions(out) == [1, 2, 3]
        assert sorted(_newest(out)["remove"]) == sorted(epoch1["add"])
        assert self._flags(spark, tmp_path) == {1: (False, 0), 2: (False, 0), 3: (True, 1), 4: (False, 1)}

    def test_a_replay_with_an_empty_delta_removes_nothing(self, spark, tmp_path):
        """A crash between the HWM and the epoch pointer: the replay's
        delta is empty, and its commits leave the epoch's rows."""
        out, store = str(tmp_path / "out"), str(tmp_path / "store")
        self._fold(spark, tmp_path, [1, 2], 0)
        self._fold(spark, tmp_path, [3, 4], 1)
        self._rewind(tmp_path, dedup_hwm__epoch="0")
        assert self._fold(spark, tmp_path, [3, 4], 1)
        assert _versions(out) == [1, 2, 3]
        assert (_newest(out)["add"], _newest(out)["remove"]) == ([], [])
        assert _newest(store)["remove"] == []
        assert self._flags(spark, tmp_path) == {1: (False, 0), 2: (False, 0), 3: (True, 1), 4: (False, 1)}


class TestLiveDedupCorpus:
    SCHEMA = "doc_id long, text string"
    DOCS = TestStreamingHwmDedupOutput.DOCS

    def _run(self, spark, tmp_path):
        from odibi_spark.streaming.core import streaming_incremental_dedup

        q = streaming_incremental_dedup(
            spark.readStream.schema(self.SCHEMA).parquet(str(tmp_path / "src")),
            target_path=str(tmp_path / "out"), store_path=str(tmp_path / "store"),
            checkpoint=str(tmp_path / "ckpt"), n=2, threshold=0.4,
        )
        q.awaitTermination()

    def _replay_last_epoch(self, tmp_path):
        """Drop the newest checkpoint commit marker (and its checksum)."""
        marker = max(
            (p for p in glob.glob(str(tmp_path / "ckpt" / "commits" / "*")) if not p.endswith(".crc")),
            key=lambda p: int(os.path.basename(p)),
        )
        os.remove(marker)
        crc = os.path.join(os.path.dirname(marker), f".{os.path.basename(marker)}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    def _kept(self, spark, tmp_path):
        return sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())

    def _land(self, spark, tmp_path):
        spark.createDataFrame(
            [(i, self.DOCS[i]) for i in (1, 2, 3)], self.SCHEMA
        ).coalesce(1).write.parquet(str(tmp_path / "src"))

    def test_an_epoch_commits_and_its_replay_replaces_it(self, spark, tmp_path, spark_writes):
        out, store = str(tmp_path / "out"), str(tmp_path / "store")
        self._land(spark, tmp_path)
        del spark_writes[:]
        self._run(spark, tmp_path)
        first = _newest(out)
        assert first["add"] and all(f.startswith("batch_id=0/") for f in first["add"])
        assert _all_staged(spark_writes, out, store)
        assert self._kept(spark, tmp_path) == [1, 2]

        self._replay_last_epoch(tmp_path)
        self._run(spark, tmp_path)
        assert _versions(out) == [1, 2]
        assert sorted(_newest(out)["remove"]) == sorted(first["add"])
        assert self._kept(spark, tmp_path) == [1, 2]

    def test_a_replay_whose_plan_fails_keeps_the_corpus(self, spark, tmp_path, monkeypatch):
        from odibi_spark.llm import incremental

        self._land(spark, tmp_path)
        self._run(spark, tmp_path)
        real = incremental.flag_incremental_dups

        def failing(*args, **kwargs):
            flagged, sigs = real(*args, **kwargs)
            return flagged.withColumn("is_dup", F.raise_error(F.lit("boom")).isNull()), sigs

        monkeypatch.setattr(incremental, "flag_incremental_dups", failing)
        self._replay_last_epoch(tmp_path)
        with pytest.raises(Exception, match="boom"):
            self._run(spark, tmp_path)
        assert self._kept(spark, tmp_path) == [1, 2]


class TestMaterialize:
    def _query(self, spark):
        from odibi_spark.semantics import Metric, SemanticModel, SemanticQuery

        spark.createDataFrame([("NA", 1.0), ("EU", 2.0)], "region string, amount double") \
            .createOrReplaceTempView("mat_sales")
        m = SemanticModel(source="mat_sales")
        m.add_metric(Metric(name="revenue", expr="SUM(amount)"))
        return SemanticQuery(m)

    def test_materialize_is_one_commit(self, spark, tmp_path, spark_writes):
        p = str(tmp_path / "mat")
        assert self._query(spark).materialize(spark, "revenue", path=p).collect()[0].revenue == 3.0
        assert _versions(p) == [1]
        assert _all_staged(spark_writes, p)

    def test_a_failed_plan_keeps_the_rows(self, spark, tmp_path, monkeypatch):
        from odibi_spark.semantics import SemanticQuery

        p = str(tmp_path / "mat")
        q = self._query(spark)
        q.materialize(spark, "revenue", path=p)
        monkeypatch.setattr(
            SemanticQuery, "execute",
            lambda self, spark_, query: spark_.range(1).select(F.raise_error(F.lit("boom")).alias("revenue")),
        )
        with pytest.raises(Exception, match="boom"):
            q.materialize(spark, "revenue", path=p)
        assert [r.revenue for r in spark.read.parquet(p).collect()] == [3.0]
