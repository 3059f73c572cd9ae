"""Round-16 optimization tests: the meta-first / concurrent-write
SignatureStore append, the duplicate_span_signals restructure
(projection totals + duplicated-gram-only join), and the binary
internal keys (unhex(md5)) in the rewrite operators."""

import json
import os

import pytest
from pyspark.sql import functions as F


DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3, "one two three four five six seven eight nine ten eleven"),
    (4, "short doc"),
    (5, None),
    (6, ""),
    (7, "alpha beta gamma delta epsilon zeta eta theta different tail"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


class TestSpanSignalsRestructure:
    """total_spans is now a pure projection and dup counting joins only
    the duplicated-gram subset — values must be identical to the old
    join-everything shape (the DuckDB oracle pins the workload; these
    pin the operator edges)."""

    def test_values_match_bruteforce(self, spark):
        from odibi_spark.llm.dedup import duplicate_span_signals

        out = {
            r.doc_id: (r.total_spans, r.dup_spans, r.dup_span_ratio)
            for r in duplicate_span_signals(
                _docs(spark), ngram=8, min_docs=2
            ).collect()
        }
        # brute force in python
        import hashlib

        grams: dict[str, set[int]] = {}
        per_doc: dict[int, list[str]] = {}
        for i, t in DOCS:
            w = (t or "").strip().split(" ") if t is not None else None
            gs = []
            if t is not None and len(w) >= 8:
                for j in range(len(w) - 7):
                    g = hashlib.md5(
                        " ".join(w[j:j + 8]).encode()
                    ).hexdigest()
                    gs.append(g)
                    grams.setdefault(g, set()).add(i)
            per_doc[i] = gs
        for i, _ in DOCS:
            total = len(per_doc[i])
            dup = sum(1 for g in per_doc[i] if len(grams[g]) >= 2)
            ratio = (dup / total) if total else 0.0
            assert out[i] == (total, dup, ratio), i

    def test_schema_types(self, spark):
        from odibi_spark.llm.dedup import duplicate_span_signals

        sch = dict(
            duplicate_span_signals(_docs(spark)).dtypes
        )
        assert sch["total_spans"] == "bigint"
        assert sch["dup_spans"] == "bigint"
        assert sch["dup_span_ratio"] == "double"

    def test_no_text_or_full_gram_table_in_final_join(self, spark):
        """Plan canary (update on Spark upgrades): the duplicated-gram
        side is filtered BEFORE the span join, so the join's right
        side is the ndocs>=min_docs subset, not the full gram table."""
        from odibi_spark.llm.dedup import duplicate_span_signals

        plan = duplicate_span_signals(
            _docs(spark)
        )._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftSemi" in plan
        assert plan.count("count(distinct") <= 2  # one agg (+-AQE rendering)


class TestBinaryInternalKeys:
    def test_boilerplate_rewrite_unchanged(self, spark):
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        df = spark.createDataFrame(
            [
                (1, "keep one\nshared footer\nkeep two"),
                (2, "other body\nshared footer"),
                (3, "unique\nlines\nonly"),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: (r.text, r.n_kept_lines, r.n_boilerplate_lines)
            for r in remove_boilerplate_lines(df, min_docs=2).collect()
        }
        assert out[1] == ("keep one\nkeep two", 2, 1)
        assert out[2] == ("other body", 1, 1)
        assert out[3] == ("unique\nlines\nonly", 3, 0)

    def test_remove_duplicate_spans_unchanged(self, spark):
        from odibi_spark.llm.dedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [(i, t) for i, t in DOCS if t],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: (r.text, r.n_kept_tokens, r.n_removed_tokens)
            for r in remove_duplicate_spans(
                df, ngram=8, min_docs=2
            ).collect()
        }
        # doc 1 is the keeper (lowest id, pos); docs 2 and 7 lose the
        # covered tokens of their duplicated 8-gram occurrences
        assert out[1][0].startswith("alpha beta gamma")
        assert out[1][1] == 10 and out[1][2] == 0
        assert out[2] == ("", 0, 10)
        # doc 7 shares only the first 8-gram (alpha..theta) with 1/2
        assert out[7] == ("different tail", 2, 8)


class TestAppendOrderingR16:
    """One commit per append, with concurrent sigs/bands writes in the
    stage: content, layout pinning and crash windows."""

    def _sigs(self, spark, ids=range(1, 9)):
        from odibi_spark.llm.dedup import minhash_signatures

        df = spark.createDataFrame(
            [(i, f"document number {i} with shared words and body {i}")
             for i in ids],
            "doc_id long, text string",
        )
        return minhash_signatures(df, "doc_id", n=2)

    @staticmethod
    def _meta(path):
        """The newest commit record's meta."""
        log = os.path.join(path, "_log")
        newest = max(int(f.split(".")[0]) for f in os.listdir(log))
        return json.load(open(os.path.join(log, f"{newest}.json")))["meta"]

    def test_store_content_matches_reads(self, spark, tmp_path):
        from odibi_spark.llm.incremental import SignatureStore

        store = SignatureStore(spark, str(tmp_path / "s"))
        sigs = self._sigs(spark).localCheckpoint(eager=True)
        store.append(sigs, "b1")
        # one record per append, carrying geometry + resolved buckets
        assert os.listdir(tmp_path / "s" / "_log") == ["1.json"]
        meta = self._meta(tmp_path / "s")
        assert meta["n_buckets"] == store.n_buckets == 8
        got = {r.id for r in store.read().collect()}
        assert got == {r.id for r in sigs.collect()}
        bands = store.read_bands()
        assert bands.count() == sigs.count() * 8
        store.append(self._sigs(spark, ids=range(9, 12)), "b2")
        assert sorted(os.listdir(tmp_path / "s" / "_log")) == [
            "1.json", "2.json",
        ]
        assert self._meta(tmp_path / "s") == meta

    def test_meta_without_data_window_restamps(
        self, spark, tmp_path, monkeypatch
    ):
        """A first append that fails at the publish leaves no geometry
        behind: the replay with a DIFFERENT geometry stamps its own
        rather than adopting the crashed one."""
        from odibi_spark.llm.incremental import SignatureStore
        from odibi_spark.patterns.merge_target import ParquetTarget

        crashed = SignatureStore(
            spark, str(tmp_path / "s"), bands=16, rows_per_band=2,
            n_buckets=99,
        )

        def publish_fails(self, record):
            raise OSError("injected: publish failed")

        with monkeypatch.context() as m:
            m.setattr(ParquetTarget, "_publish", publish_fails)
            with pytest.raises(OSError, match="injected"):
                crashed.append(self._sigs(spark).localCheckpoint(eager=True), "b1")
        assert not crashed.exists()
        replay = SignatureStore(
            spark, str(tmp_path / "s"), bands=8, rows_per_band=4,
        )
        sigs = self._sigs(spark).localCheckpoint(eager=True)
        replay.append(sigs, "b1")
        meta = self._meta(tmp_path / "s")
        assert meta["bands"] == 8 and meta["rows_per_band"] == 4
        assert meta["n_buckets"] == replay.n_buckets == 8
        assert replay.read_bands().count() == sigs.count() * 8

    def test_direct_append_adopts_persisted_buckets(self, spark, tmp_path):
        """Second append from a FRESH store object that never called
        check_config must adopt the pinned bucket modulus instead of
        resolving its own adaptive one."""
        from odibi_spark.llm.incremental import SignatureStore

        first = SignatureStore(spark, str(tmp_path / "s"), n_buckets=16)
        first.append(
            self._sigs(spark).localCheckpoint(eager=True), "b1"
        )
        second = SignatureStore(spark, str(tmp_path / "s"))
        assert second.n_buckets is None
        second.append(
            self._sigs(spark, ids=range(9, 14)).localCheckpoint(eager=True),
            "b2",
        )
        assert second.n_buckets == 16
        assert self._meta(tmp_path / "s")["n_buckets"] == 16
        # all bands of both batches live under the one modulus
        assert {
            d for d in os.listdir(tmp_path / "s" / "bands")
            if d.startswith("batch_id=")
        } == {"batch_id=b1", "batch_id=b2"}

    def test_bytes_aware_adaptive_buckets(self, spark, tmp_path):
        """r16 (VERDICT r15 #8): the adaptive modulus sizes buckets on
        estimated bytes (rows x band-row width), not rows alone, and
        the meta records the sizing inputs."""
        from odibi_spark.llm.incremental import (
            _adaptive_buckets, _band_row_bytes, SignatureStore,
        )

        # row-width scaling: double the width -> double the buckets
        assert _adaptive_buckets(20_000_000, 20) == 20
        assert _adaptive_buckets(20_000_000, 40) == 40
        # portable band keys are ~wider than xxhash64 keys
        assert _band_row_bytes(True, "portable", 4) > _band_row_bytes(
            True, "xxhash64", 4
        )
        assert _band_row_bytes(False, "xxhash64", 4) > _band_row_bytes(
            True, "xxhash64", 4
        )
        store = SignatureStore(spark, str(tmp_path / "s"))
        store.append(self._sigs(spark).localCheckpoint(eager=True), "b1")
        meta = self._meta(tmp_path / "s")
        assert meta["band_row_bytes"] == _band_row_bytes(True, "xxhash64", 4)
        assert meta["bucket_target_bytes"] == 20_000_000

    def test_sigs_without_meta_rebuild_path_still_serial(
        self, spark, tmp_path, monkeypatch
    ):
        """Fault inside the stage of a first append: the sigs write
        lands in staging and the bands write raises. No signature is
        live without its bands and geometry, so nothing needs a
        rebuild: the replay commits version 1 with every band row."""
        from odibi_spark.llm.incremental import SignatureStore

        path = str(tmp_path / "s")
        crashed = SignatureStore(spark, path)

        def bands_write_fails(signatures, batch_id, root):
            raise OSError("injected: bands write failed")

        monkeypatch.setattr(crashed, "_write_bands", bands_write_fails)
        s1 = self._sigs(spark).localCheckpoint(eager=True)
        with pytest.raises(OSError, match="injected"):
            crashed.append(s1, "b1")
        assert not crashed.exists()
        assert not os.path.exists(os.path.join(path, "sigs"))
        assert not os.path.exists(os.path.join(path, "_log"))
        replay = SignatureStore(spark, path)
        replay.append(s1, "b1")
        assert os.listdir(os.path.join(path, "_log")) == ["1.json"]
        assert replay.read().count() == s1.count()
        assert replay.read_bands().count() == s1.count() * 8

    def test_bands_without_sigs_window_drops_stale_bands(
        self, spark, tmp_path, monkeypatch
    ):
        """Fault inside the stage where the concurrent bands write
        landed in staging and the sigs write raised. The replay's smaller batch
        resolves a different adaptive modulus; no band row may stay
        bucketed under the crashed one."""
        import odibi_spark.llm.incremental as inc

        # bucket target small enough that the batch size moves the modulus
        monkeypatch.setattr(inc, "BUCKET_TARGET_BYTES", 100)
        path = str(tmp_path / "s")
        crashed = inc.SignatureStore(spark, path)

        def sigs_write_fails(signatures, batch_id, root):
            raise OSError("injected: sigs write failed")

        monkeypatch.setattr(crashed, "_write_sigs", sigs_write_fails)
        with pytest.raises(OSError, match="injected"):
            crashed.append(self._sigs(spark).localCheckpoint(eager=True), "b1")
        assert not crashed.exists()
        assert not os.path.exists(os.path.join(path, "bands"))

        replay = inc.SignatureStore(spark, path)
        s2 = self._sigs(spark, ids=range(1, 6)).localCheckpoint(eager=True)
        replay.append(s2, "b1")
        assert replay.n_buckets != crashed.n_buckets
        n = self._meta(path)["n_buckets"]
        bands = spark.read.parquet(os.path.join(path, "bands"))
        assert bands.count() == s2.count() * 8
        stale = bands.filter(
            F.col("bucket") != F.pmod(F.xxhash64("bh"), F.lit(n)).cast("int")
        )
        assert stale.count() == 0
