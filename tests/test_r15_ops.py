"""Round-15 operators: IVF-PQ composed index (ivf_pq_topk) and the
persisted ANN index lifecycle (AnnIndexStore / run_incremental_ann)."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from odibi_spark.llm import similarity
from odibi_spark.llm.ann_store import AnnIndexStore, run_incremental_ann
from odibi_spark.state.hwm import JsonStateBackend


def _vec_df(spark, vecs, start_id=0):
    rows = [
        (i + start_id, [float(x) for x in v]) for i, v in enumerate(vecs)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _unit_vecs(n, dim=64, seed=11):
    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, dim))
    return V / np.linalg.norm(V, axis=1, keepdims=True)


class TestIvfPqTopk:
    def test_contract_and_determinism(self, spark):
        df = _vec_df(spark, _unit_vecs(60))
        out = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", nlist=4, nprobe=2, m=8, k=8,
            query_filter="vec_id < 5",
        )
        rows = out.collect()
        assert out.columns == ["query_id", "nbr_id", "adc_dist", "rank"]
        assert {r["query_id"] for r in rows} <= set(range(5))
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r["rank"])
        for ranks in per_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
        again = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", nlist=4, nprobe=2, m=8, k=8,
            query_filter="vec_id < 5",
        ).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    def test_full_probe_matches_flat_pq(self, spark):
        # nprobe = nlist: routing prunes nothing, so IVF-PQ must equal
        # flat PQ-ADC under the same codebooks
        df = _vec_df(spark, _unit_vecs(40))
        cb = similarity.pq_train(df, "vec_id", "embedding", m=8, k=8)
        flat = similarity.pq_adc_topk(
            df, "vec_id", "embedding", m=8, k=8,
            query_filter="vec_id < 5", codebooks=cb,
        ).collect()
        ivfpq = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", nlist=4, nprobe=4, m=8, k=8,
            query_filter="vec_id < 5", codebooks=cb,
        ).collect()
        assert sorted(map(tuple, flat)) == sorted(map(tuple, ivfpq))

    def test_candidates_are_equijoin_not_crossjoin(self, spark):
        df = _vec_df(spark, _unit_vecs(40))
        out = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", nlist=4, nprobe=1, m=8, k=8,
            query_filter="vec_id < 5",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_recall_floor_at_recommended_point(self, spark):
        # the r15 grid point (m=16, k=64) with generous probing must
        # beat the r14 flat-PQ 8x16 floor by a wide margin
        df = _vec_df(spark, _unit_vecs(120, seed=3))
        exact = similarity.cosine_topk(
            df, "vec_id", "embedding", query_filter="vec_id < 20", k=5
        )
        approx = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", nlist=4, nprobe=2, m=16, k=64,
            query_filter="vec_id < 20",
        )
        r = (
            similarity.ann_recall(exact, approx)
            .agg(F.avg("recall").alias("r"))
            .first()["r"]
        )
        assert r >= 0.4


class TestPqEngineEquivalence:
    """The numpy kernels must be BIT-identical to the expression
    path: same sequential IEEE fold order, same first-min ties, same
    JVM-side rounding — so the size gate never changes results and
    the DuckDB oracles hold for both paths."""

    def _df(self, spark, n=50):
        return _vec_df(spark, _unit_vecs(n, seed=23))

    def test_pq_train_identical(self, spark):
        df = self._df(spark)
        a = similarity.pq_train(df, "vec_id", "embedding", m=8, k=8,
                                engine="expr")
        b = similarity.pq_train(df, "vec_id", "embedding", m=8, k=8,
                                engine="numpy")
        assert a == b  # exact float equality, not approx

    def test_pq_encode_identical(self, spark):
        df = self._df(spark)
        cb = similarity.pq_train(df, "vec_id", "embedding", m=8, k=8)
        a = sorted(
            (r["id"], tuple(r["pq_codes"]))
            for r in similarity.pq_encode(
                df, "vec_id", "embedding", cb, engine="expr"
            ).collect()
        )
        b = sorted(
            (r["id"], tuple(r["pq_codes"]))
            for r in similarity.pq_encode(
                df, "vec_id", "embedding", cb, engine="numpy"
            ).collect()
        )
        assert a == b

    def test_pq_adc_topk_identical(self, spark):
        df = self._df(spark)
        cb = similarity.pq_train(df, "vec_id", "embedding", m=8, k=8)
        a = similarity.pq_adc_topk(
            df, "vec_id", "embedding", m=8, k=8, codebooks=cb,
            query_filter="vec_id < 8", engine="expr",
        ).collect()
        b = similarity.pq_adc_topk(
            df, "vec_id", "embedding", m=8, k=8, codebooks=cb,
            query_filter="vec_id < 8", engine="numpy",
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_ivf_pq_topk_identical(self, spark):
        df = self._df(spark)
        a = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", nlist=4, nprobe=2, m=8, k=8,
            query_filter="vec_id < 8", engine="expr",
        ).collect()
        b = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", nlist=4, nprobe=2, m=8, k=8,
            query_filter="vec_id < 8", engine="numpy",
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_bad_engine_rejected(self, spark):
        with pytest.raises(ValueError, match="engine"):
            similarity._use_pq_expr(8, 8, "fast")

    def test_gate_routes_large_geometry_to_numpy(self):
        assert similarity._use_pq_expr(8, 8)         # 64 cells
        # 128 cells route to numpy since r15: measured 16-28s (expr,
        # dominated by per-invocation codegen of the literal codebook
        # trees) vs 2-3.6s (numpy) for the full pq_adc workload
        assert not similarity._use_pq_expr(8, 16)    # 128 cells
        assert not similarity._use_pq_expr(16, 64)   # 1024 cells
        assert not similarity._use_pq_expr(16, 256)


class TestAnnIndexStore:
    GEO = dict(nlist=4, nprobe=2, m=8, k=8, dim=64)

    def test_two_batch_equals_one_shot(self, spark, tmp_path):
        df = _vec_df(spark, _unit_vecs(60))
        b1 = df.filter("vec_id < 30")
        store = AnnIndexStore(spark, str(tmp_path / "idx"), **self.GEO)
        state = JsonStateBackend(str(tmp_path / "state.json"))
        store.build(b1, "vec_id", "embedding")
        kw = dict(id_col="vec_id", vec_col="embedding")
        n1 = run_incremental_ann(b1, store, state, batch_id="b1", **kw)
        n2 = run_incremental_ann(df, store, state, batch_id="b2", **kw)
        assert (n1, n2) == (30, 30)  # delta-only: batch 2 ingests 30
        got = store.probe(
            df.filter("vec_id < 5"), "vec_id", "embedding", topk=5
        ).collect()
        one_shot = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", query_filter="vec_id < 5",
            nprobe=2, iters=0,
            centroids=store.centroids, codebooks=store.codebooks,
            **{kk: v for kk, v in self.GEO.items()
               if kk in ("nlist", "m", "k", "dim")},
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, one_shot))

    def test_replay_is_idempotent(self, spark, tmp_path):
        df = _vec_df(spark, _unit_vecs(40))
        store = AnnIndexStore(spark, str(tmp_path / "idx"), **self.GEO)
        store.build(df, "vec_id", "embedding")
        store.append(df, "vec_id", "embedding", batch_id="b1")
        before = store.read_codes().count()
        # crashed-run replay: same batch_id overwrites its own
        # partitions, never double-counts
        store.append(df, "vec_id", "embedding", batch_id="b1")
        assert store.read_codes().count() == before == 40

    def test_timestamp_hwm_round_trips_off_utc_driver(
        self, spark, tmp_path, monkeypatch
    ):
        """A TIMESTAMP id's stored HWM is the session-zone (UTC) wall
        clock whatever the driver process's zone, so the second batch
        ingests exactly the rows past it."""
        import time

        df = _vec_df(spark, _unit_vecs(6, dim=8)).withColumn(
            "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("vec_id") * 3600)
        )
        store = AnnIndexStore(
            spark, str(tmp_path / "idx"), nlist=2, nprobe=1, m=4, k=4, dim=8
        )
        state = JsonStateBackend(str(tmp_path / "state.json"))
        store.build(df, "vec_id", "embedding")
        kw = dict(id_col="ts", vec_col="embedding")
        monkeypatch.setenv("TZ", "Asia/Tokyo")
        time.tzset()
        try:
            b1 = df.filter("vec_id <= 3")
            n1 = run_incremental_ann(b1, store, state, batch_id="b1", **kw)
            assert state.get("ann_hwm") == "2024-01-01 03:00:00"
            n2 = run_incremental_ann(df, store, state, batch_id="b2", **kw)
        finally:
            monkeypatch.undo()
            time.tzset()
        assert (n1, n2) == (4, 2)

    def test_geometry_drift_refused(self, spark, tmp_path):
        df = _vec_df(spark, _unit_vecs(40))
        store = AnnIndexStore(spark, str(tmp_path / "idx"), **self.GEO)
        store.build(df, "vec_id", "embedding")
        drifted = AnnIndexStore(
            spark, str(tmp_path / "idx"), nlist=4, nprobe=2,
            m=16, k=8, dim=64,
        )
        with pytest.raises(ValueError, match="different"):
            drifted.check_config()
        with pytest.raises(ValueError, match="different"):
            drifted.append(df, "vec_id", "embedding", batch_id="b2")

    def test_nprobe_is_query_param_not_identity(self, spark, tmp_path):
        df = _vec_df(spark, _unit_vecs(40))
        store = AnnIndexStore(spark, str(tmp_path / "idx"), **self.GEO)
        store.build(df, "vec_id", "embedding")
        store.append(df, "vec_id", "embedding", batch_id="b1")
        other = AnnIndexStore(
            spark, str(tmp_path / "idx"), nlist=4, nprobe=4,
            m=8, k=8, dim=64,
        )
        other.check_config()  # must not raise
        assert other.probe(
            df.filter("vec_id < 3"), "vec_id", "embedding"
        ).count() > 0

    def test_meta_pins_trained_params(self, spark, tmp_path):
        df = _vec_df(spark, _unit_vecs(40))
        store = AnnIndexStore(spark, str(tmp_path / "idx"), **self.GEO)
        store.build(df, "vec_id", "embedding")
        meta = json.load(open(tmp_path / "idx" / "_index_meta.json"))
        assert len(meta["centroids"]) == 4
        assert len(meta["codebooks"]) == 8
        # a fresh process reloads the SAME trained params — encoding
        # is a pure function of the pinned codebooks
        fresh = AnnIndexStore(spark, str(tmp_path / "idx"), **self.GEO)
        fresh.check_config()
        assert fresh.codebooks == store.codebooks
        assert fresh.centroids == store.centroids

    def test_probe_reads_prune_to_probed_cells(self, spark, tmp_path):
        df = _vec_df(spark, _unit_vecs(60))
        store = AnnIndexStore(spark, str(tmp_path / "idx"), **self.GEO)
        store.build(df, "vec_id", "embedding")
        store.append(df, "vec_id", "embedding", batch_id="b1")
        sub = store.read_codes(cells=[0, 1])
        assert set(
            r["cell"] for r in sub.select("cell").distinct().collect()
        ) <= {0, 1}
        # the cell filter is a partition filter, not a row filter:
        # parquet directory pruning at scan time
        plan = sub._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [cell" in plan.replace("\n", " ") or (
            "cell#" in plan and "PartitionFilters" in plan
        )

    def test_probe_without_codes_raises(self, spark, tmp_path):
        df = _vec_df(spark, _unit_vecs(40))
        store = AnnIndexStore(spark, str(tmp_path / "idx"), **self.GEO)
        store.build(df, "vec_id", "embedding")
        with pytest.raises(FileNotFoundError):
            store.probe(df, "vec_id", "embedding")


class TestResidualIvfPq:
    GEO = dict(nlist=4, nprobe=2, m=8, k=8, dim=64)

    def test_residual_contract_and_determinism(self, spark):
        df = _vec_df(spark, _unit_vecs(60, seed=9))
        a = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", query_filter="vec_id < 5",
            residual=True, **self.GEO,
        ).collect()
        b = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", query_filter="vec_id < 5",
            residual=True, **self.GEO,
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert len(a) > 0

    def test_residual_differs_from_raw(self, spark):
        df = _vec_df(spark, _unit_vecs(60, seed=9))
        raw = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", query_filter="vec_id < 5",
            residual=False, **self.GEO,
        ).collect()
        res = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", query_filter="vec_id < 5",
            residual=True, **self.GEO,
        ).collect()
        # different encodings -> different distances (ranks may agree)
        assert {r["adc_dist"] for r in raw} != {r["adc_dist"] for r in res}

    def test_store_residual_is_index_identity(self, spark, tmp_path):
        df = _vec_df(spark, _unit_vecs(40))
        store = AnnIndexStore(
            spark, str(tmp_path / "idx"), residual=True, **self.GEO
        )
        store.build(df, "vec_id", "embedding")
        store.append(df, "vec_id", "embedding", batch_id="b1")
        raw_view = AnnIndexStore(
            spark, str(tmp_path / "idx"), residual=False, **self.GEO
        )
        with pytest.raises(ValueError, match="different"):
            raw_view.check_config()

    def test_store_residual_probe_matches_one_shot(self, spark, tmp_path):
        df = _vec_df(spark, _unit_vecs(40))
        store = AnnIndexStore(
            spark, str(tmp_path / "idx"), residual=True, **self.GEO
        )
        store.build(df, "vec_id", "embedding")
        store.append(df, "vec_id", "embedding", batch_id="b1")
        got = store.probe(
            df.filter("vec_id < 5"), "vec_id", "embedding"
        ).collect()
        one_shot = similarity.ivf_pq_topk(
            df, "vec_id", "embedding", query_filter="vec_id < 5",
            residual=True, centroids=store.centroids,
            codebooks=store.codebooks,
            **{kk: v for kk, v in self.GEO.items() if kk != "nprobe"},
            nprobe=2,
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, one_shot))


class TestBpeEngineEquivalence:
    """The single-task BPE kernel must be BIT-identical to the
    distributed per-round loop: same pair counts, same
    (count desc, left asc, right asc) argmax tie-break (Python
    code-point string order == Spark UTF8 binary order), same greedy
    left-to-right fold — so the vocab-size gate never changes results
    and the DuckDB oracles hold for both paths."""

    CORPUS = [
        (1, "the cat sat on the mat"),
        (2, "the cat ate the rat"),
        (3, "a rat and a cat and a mat"),
        (4, "low lower lowest newer newest"),
        (5, "aaa aa aaaa"),  # overlapping-pair greedy-fold edge
        (6, "Mixed CASE Text with CASE"),
        (7, ""),  # empty doc
        (8, "solo"),
    ]

    def _docs(self, spark):
        return spark.createDataFrame(self.CORPUS, "doc_id long, text string")

    def test_train_identical(self, spark):
        from odibi_spark.llm import text

        docs = self._docs(spark)
        a = [tuple(r) for r in text.bpe_train(
            docs, "text", num_merges=12, engine="spark").collect()]
        b = [tuple(r) for r in text.bpe_train(
            docs, "text", num_merges=12, engine="kernel").collect()]
        assert a == b
        assert len(a) >= 5  # the corpus actually trains merges

    def test_segmented_vocab_identical(self, spark):
        from odibi_spark.llm import text

        docs = self._docs(spark)
        key = lambda df: sorted(  # noqa: E731
            (r["word"], int(r["wc"]), tuple(r["syms"]))
            for r in df.collect()
        )
        a = key(text.bpe_segmented_vocab(
            docs, "text", num_merges=12, engine="spark"))
        b = key(text.bpe_segmented_vocab(
            docs, "text", num_merges=12, engine="kernel"))
        assert a == b

    def test_encode_identical_on_unseen(self, spark):
        from odibi_spark.llm import text

        docs = self._docs(spark)
        merges = text.bpe_train(docs.filter("doc_id <= 4"), num_merges=10)
        unseen = docs.filter("doc_id > 4")
        key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
        a = key(text.bpe_encode(
            unseen, "doc_id", "text", merges=merges, engine="spark"))
        b = key(text.bpe_encode(
            unseen, "doc_id", "text", merges=merges, engine="kernel"))
        assert a == b

    def test_merge_word_fold_semantics(self):
        from odibi_spark.llm.text import _bpe_merge_word_py

        # a a a under (a, a) -> [aa, a], never [aa, aa]
        assert _bpe_merge_word_py(["a", "a", "a"], "a", "a", "aa") == [
            "aa", "a"]
        assert _bpe_merge_word_py(
            ["x", "a", "b", "y", "a", "b"], "a", "b", "ab"
        ) == ["x", "ab", "y", "ab"]
        assert _bpe_merge_word_py([], "a", "b", "ab") == []

    def test_gate_routes_by_vocab_size(self, spark, monkeypatch):
        from odibi_spark.llm import text

        docs = self._docs(spark)
        monkeypatch.setattr(text, "BPE_KERNEL_MAX_VOCAB", 0)
        vocab = text.bpe_vocab(docs, "text").localCheckpoint(eager=True)
        assert not text._use_bpe_kernel(vocab, "auto")
        monkeypatch.setattr(text, "BPE_KERNEL_MAX_VOCAB", 10**9)
        assert text._use_bpe_kernel(vocab, "auto")
        with pytest.raises(ValueError):
            text._use_bpe_kernel(vocab, "bogus")


class TestAdaptiveBandStoreLayout:
    """r15 guide-§6 layout change: a SignatureStore created without an
    explicit n_buckets derives its bucket modulus from the first
    batch's signature count (clamped [8, 4096]), pins it in the meta,
    and later store objects adopt it. Results are unaffected — bucket
    is pruning metadata only."""

    DOCS = [
        (i, f"document number {i} with shared words and token{i} here")
        for i in range(1, 9)
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.DOCS, "doc_id long, text string")

    def test_adaptive_resolution_and_pinning(self, spark, tmp_path):
        import json as _json

        from odibi_spark.llm.dedup import minhash_signatures
        from odibi_spark.llm.incremental import SignatureStore

        store = SignatureStore(spark, str(tmp_path / "s"))
        assert store.n_buckets is None
        sigs = minhash_signatures(self._df(spark), "doc_id", n=2)
        store.append(sigs, "b1")
        assert store.n_buckets == 8  # tiny batch -> min clamp
        meta = _json.load(open(tmp_path / "s" / "_log" / "1.json"))["meta"]
        assert meta["n_buckets"] == 8
        # a later adaptive store object adopts the pinned value even
        # though its own first batch would resolve differently
        s2 = SignatureStore(spark, str(tmp_path / "s"))
        s2.check_config(bands=8, rows_per_band=4, hasher="xxhash64")
        assert s2.n_buckets == 8

    def test_explicit_n_buckets_respected(self, spark, tmp_path):
        import json as _json

        from odibi_spark.llm.dedup import minhash_signatures
        from odibi_spark.llm.incremental import SignatureStore

        store = SignatureStore(spark, str(tmp_path / "e"), n_buckets=16)
        store.append(minhash_signatures(self._df(spark), "doc_id", n=2), "b1")
        meta = _json.load(open(tmp_path / "e" / "_log" / "1.json"))["meta"]
        assert meta["n_buckets"] == 16

    def test_adaptive_clamps(self):
        from odibi_spark.llm.incremental import _adaptive_buckets

        assert _adaptive_buckets(0) == 8
        assert _adaptive_buckets(10_000) == 8
        assert _adaptive_buckets(20_000_000) == 20
        assert _adaptive_buckets(10**13) == 4096

    def test_two_batch_results_unchanged(self, spark, tmp_path):
        """Adaptive layout must produce the same flags as an explicit
        64-bucket store (the pre-r15 default)."""
        from odibi_spark.llm.incremental import SignatureStore
        from odibi_spark.state.hwm import JsonStateBackend
        from odibi_spark.llm.incremental import run_incremental_dedup

        def run(nb):
            d = tmp_path / f"nb_{nb}"
            store = SignatureStore(spark, str(d / "sigs"), n_buckets=nb)
            state = JsonStateBackend(str(d / "state.json"))
            df = self._df(spark)
            kw = dict(threshold=0.2, n=2, num_perm=32, bands=8,
                      id_col="doc_id", text_col="text")
            out = {}
            for bid, part in (("b1", df.filter("doc_id <= 4")), ("b2", df)):
                out.update({
                    r.doc_id: r.is_dup
                    for r in run_incremental_dedup(
                        part, store, state, batch_id=bid, **kw
                    ).collect()
                })
            return out

        assert run(None) == run(64)


class TestLidEngineEquivalence:
    """The single-task lang-id training kernel must be bit-identical
    to the distributed per-epoch loop: integer weight/gradient sums
    are order-free, the residual chain is elementwise double math in
    the same pinned IEEE order, and the update reuses _trunc_div."""

    DOCS = [
        (1, "the cat and the dog went to the market", "en"),
        (2, "le chat et le chien vont au marche ensemble", "fr"),
        (3, "el gato y el perro van al mercado juntos", "es"),
        (4, "der hund und die katze gehen zum markt", "de"),
        (5, "the quick brown fox jumps over the lazy dog", "en"),
        (6, "les enfants jouent dans le jardin avec le ballon", "fr"),
        (7, "los ninos juegan en el jardin con la pelota", "es"),
        (8, "die kinder spielen im garten mit dem ball", "de"),
        (9, "", None),  # featureless + NULL label
        (10, "short", "en"),
    ]

    def _docs(self, spark):
        return spark.createDataFrame(
            self.DOCS, "doc_id long, text string, lang string"
        )

    def test_trained_weights_identical(self, spark):
        from odibi_spark.llm import langid

        docs = self._docs(spark)
        kw = dict(
            classes=["de", "en", "es", "fr"], buckets=256, epochs=3,
            lr=(1, 2),
        )
        a = langid.lang_classifier_train(
            docs, "text", "lang", engine="spark", **kw)
        b = langid.lang_classifier_train(
            docs, "text", "lang", engine="kernel", **kw)
        assert a == b
        # and the training actually moved weights
        assert any(w != 0 for w in a["en"])

    def test_gate_and_engine_validation(self):
        from odibi_spark.llm import langid

        assert langid._use_lid_kernel(0, "auto")
        assert not langid._use_lid_kernel(10**9, "auto")
        assert langid._use_lid_kernel(10**9, "kernel")
        assert not langid._use_lid_kernel(0, "spark")
        with pytest.raises(ValueError):
            langid._use_lid_kernel(0, "bogus")
