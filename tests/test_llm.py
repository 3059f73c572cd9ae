"""LLM-data operator tests: planted duplicates/neighbors must be found."""

import pytest
from pyspark.sql import Row

from odibi_spark.llm import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    other = "completely different words about spark query engines and shuffles here"
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base),        # exact dup of 1
            Row(doc_id=3, text=near),        # near dup of 1
            Row(doc_id=4, text=other),
        ]
    )


def test_exact_dedup_groups(docs):
    groups = dedup.exact_dedup_groups(docs, "doc_id").collect()
    assert len(groups) == 1
    assert groups[0].n_copies == 2 and groups[0].keep_id == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0   # exact dup
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_count_path_matches_array_path(docs):
    """max_df=None takes the aggregation-only verification (r15:
    |intersect| = shared-shingle row count, |union| = na+nb-ni) —
    pin it row-for-row, jaccard included, against the array-verify
    path the max_df branch still uses."""
    counted = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", threshold=0.0, max_df=None
        ).collect()
    }
    # max_df far above any document frequency -> candidate set and
    # verification are the unfiltered exact ones
    arrayed = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", threshold=0.0, max_df=10**6
        ).collect()
    }
    assert counted == arrayed and counted


def test_minhash_lsh_finds_near_dup(docs):
    # bands=16 (r=2): band-collision prob at j=0.6 is 1-(1-0.36)^16 > 0.999
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup_pairs(
            docs, "doc_id", num_perm=32, bands=16, threshold=0.3
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs


def test_simhash_near_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_pairs(docs, "doc_id", max_hamming=16).collect()
    }
    assert pairs[(1, 2)] == 0  # identical text -> identical simhash
    assert (1, 3) in pairs


def test_cosine_topk_self_similarity(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.9, 0.1, 0.0]),   # close to 1
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),   # orthogonal to 1
    ]
    df = spark.createDataFrame(rows)
    out = similarity.cosine_topk(df, "vec_id", "embedding", query_ids=[1], k=2)
    got = [(r.nbr_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(2, 1), (3, 2)]


def test_lsh_ann_bucket_recall(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal(64)
    rows = [Row(vec_id=1, embedding=[float(x) for x in base]),
            Row(vec_id=2, embedding=[float(x) for x in base + 0.01 * rng.standard_normal(64)])]
    rows += [
        Row(vec_id=i, embedding=[float(x) for x in rng.standard_normal(64)])
        for i in range(3, 40)
    ]
    df = spark.createDataFrame(rows)
    out = similarity.lsh_ann_topk(df, "vec_id", "embedding", k=3, num_planes=6)
    nbrs = {r.nbr_id for r in out.filter("query_id = 1").collect()}
    assert 2 in nbrs  # near-identical vector lands in the same bucket


class TestMultiProbeLsh:
    """Query-directed multi-probe SRP (r13, Lv et al. 2007)."""

    def _emb(self, spark, n=60, seed=11):
        import numpy as np

        rng = np.random.default_rng(seed)
        rows = [
            Row(vec_id=i, embedding=[float(x) for x in rng.standard_normal(64)])
            for i in range(n)
        ]
        return spark.createDataFrame(rows)

    def test_probe_set_shape(self, spark):
        df = self._emb(spark)
        probes = similarity.lsh_probe_buckets(
            df, "vec_id", "embedding", num_planes=8, nprobe=4
        )
        per_id = probes.groupBy("id").count().collect()
        assert all(r["count"] == 4 for r in per_id)  # original + 3 flips
        single = similarity.hyperplane_lsh_buckets(
            df, "vec_id", "embedding", num_planes=8
        ).select("id", "bucket")
        # every probe set contains the vector's own bucket, and every
        # flip differs from it in exactly one bit
        joined = probes.join(
            single.withColumnRenamed("bucket", "own"), "id"
        ).selectExpr("id", "bucket", "own", "bit_count(bucket ^ own) AS hd")
        hds = [r.hd for r in joined.collect()]
        assert hds.count(0) == 60 and set(hds) <= {0, 1}

    def test_nprobe1_matches_single_probe_topk(self, spark):
        df = self._emb(spark)
        a = similarity.lsh_ann_topk(
            df, "vec_id", "embedding", k=3, num_planes=6
        )
        b = similarity.lsh_ann_topk(
            df, "vec_id", "embedding", k=3, num_planes=6, nprobe=1
        )
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )

    def test_multiprobe_superset_and_recall_lift(self, spark):
        from pyspark.sql import functions as F

        df = self._emb(spark, n=120)
        exact = similarity.cosine_topk(
            df, "vec_id", "embedding", query_filter="vec_id < 30", k=5
        )

        def recall(nprobe):
            ap = similarity.lsh_ann_topk(
                df, "vec_id", "embedding", k=5, num_planes=8,
                nprobe=nprobe,
            ).filter("query_id < 30")
            return float(
                similarity.ann_recall(exact, ap)
                .agg(F.avg("recall")).first()[0]
            )

        r1, r5 = recall(1), recall(5)
        assert r5 >= r1  # probing more buckets can only add candidates
        assert r5 > 0.0

    def test_nprobe_validation(self, spark):
        df = self._emb(spark, n=5)
        with pytest.raises(ValueError):
            similarity.lsh_probe_buckets(
                df, "vec_id", "embedding", num_planes=4, nprobe=6
            )


def test_text_stats_and_tokens(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="the cat sat on a mat")])
    st = text.with_text_stats(df).collect()[0]
    assert st.n_words == 6 and st.stopword_ratio == pytest.approx(2 / 6)
    tk = text.with_token_counts(df).collect()[0]
    assert tk.ws_tokens == 6 and tk.word_tokens == 6


def test_language_guess(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the house of the king and the queen"),
            Row(doc_id=2, text="le roi et la reine dans le jardin"),
            Row(doc_id=3, text="xyzzy qwerty asdf"),
        ]
    )
    got = {r.doc_id: r.lang_guess for r in text.with_language_guess(df).collect()}
    assert got == {1: "en", 2: "fr", 3: "und"}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="Hello,   World!"), Row(doc_id=2, text="hello world")]
    )
    fps = [r.fingerprint for r in text.with_fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_ivf_ann_recall_vs_bruteforce(spark):
    """IVF with nprobe=nlist degenerates to exact search; with fewer
    probes it still finds planted near-duplicates."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(1, 61):
        rows.append(Row(vec_id=i, embedding=[float(x) for x in rng.standard_normal(16)]))
    # planted near-dup pair
    base = np.array(rows[0].embedding)
    rows.append(Row(vec_id=99, embedding=[float(x) for x in base + 0.01]))
    df = spark.createDataFrame(rows)

    exact = similarity.cosine_topk(df, "vec_id", "embedding", k=3)
    full_probe = similarity.ivf_topk(
        df, "vec_id", "embedding", k=3, nlist=4, nprobe=4, iters=1
    )
    # probing every cell == brute force
    e = {(r.query_id, r.nbr_id, r.rank) for r in exact.collect()}
    f = {(r.query_id, r.nbr_id, r.rank) for r in full_probe.collect()}
    assert e == f

    ann = similarity.ivf_topk(df, "vec_id", "embedding", k=3, nlist=4, nprobe=1, iters=1)
    nbrs = {r.nbr_id for r in ann.filter("query_id = 1").collect()}
    assert 99 in nbrs  # near-identical vector shares the Voronoi cell


def test_ivf_assign_join_path_matches_inline(spark):
    """Plan-size gate (VERDICT r7 task 4): forcing the broadcast-join
    assignment path (inline_limit=0) must produce IDENTICAL
    (id, cell) assignments and kmeans output as the inlined-literal
    path — same dot fold, same lowest-cell tiebreak."""
    import numpy as np

    from odibi_spark.llm.similarity import kmeans_clusters

    rng = np.random.default_rng(7)
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in rng.standard_normal(8)])
        for i in range(1, 80)
    ]
    # planted exact duplicates so centroid TIES actually occur
    rows.append(Row(vec_id=200, embedding=rows[0].embedding))
    df = spark.createDataFrame(rows)
    cents = similarity.ivf_centroids(df, "vec_id", "embedding", nlist=5, iters=1)
    inline = similarity.ivf_assign(df, "vec_id", "embedding", cents)
    joined = similarity.ivf_assign(
        df, "vec_id", "embedding", cents, inline_limit=0
    )
    assert {(r.id, r.cell) for r in inline.collect()} == \
        {(r.id, r.cell) for r in joined.collect()}
    # the join path really is a broadcast join, and the inline path no join
    jplan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in jplan or "BroadcastHashJoin" in jplan
    assert "Join" not in inline._jdf.queryExecution().executedPlan().toString()
    # end-to-end: kmeans output identical on both paths
    km_a = sorted(
        (r.vec_id, r.cluster, r.sim)
        for r in kmeans_clusters(
            df, "vec_id", "embedding", k=5, iters=1
        ).collect()
    )
    km_b = sorted(
        (r.vec_id, r.cluster, r.sim)
        for r in kmeans_clusters(
            df, "vec_id", "embedding", k=5, iters=1, inline_limit=0
        ).collect()
    )
    assert km_a == km_b
    # ivf_topk too (probe scoring shares the gate)
    tk_a = {
        (r.query_id, r.nbr_id, r.rank)
        for r in similarity.ivf_topk(
            df, "vec_id", "embedding", k=3, nlist=4, nprobe=2, iters=1
        ).collect()
    }
    tk_b = {
        (r.query_id, r.nbr_id, r.rank)
        for r in similarity.ivf_topk(
            df, "vec_id", "embedding", k=3, nlist=4, nprobe=2, iters=1,
            inline_limit=0,
        ).collect()
    }
    assert tk_a == tk_b


def test_ivf_assign_deterministic(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in rng.standard_normal(8)])
         for i in range(1, 30)]
    )
    cents = similarity.ivf_centroids(df, "vec_id", "embedding", nlist=3, iters=2)
    assert len(cents) == 3 and len(cents[0]) == 8
    a1 = similarity.ivf_assign(df, "vec_id", "embedding", cents).collect()
    a2 = similarity.ivf_assign(df, "vec_id", "embedding", cents).collect()
    assert {(r.id, r.cell) for r in a1} == {(r.id, r.cell) for r in a2}
    assert {r.cell for r in a1} <= {0, 1, 2}


class TestLlmYamlPipeline:
    def test_training_data_pipeline_yaml(self, spark, tmp_path):
        """The LLM-data ops drive from the YAML surface like any other
        operator: stats -> language -> quality filter -> exact dedup."""
        from odibi_spark.plans.pipeline import Pipeline

        yaml_text = f"""
name: training_data_prep
connections:
  lake: {{type: local, base_path: "{tmp_path}"}}
nodes:
  - name: clean_docs
    read: {{path: /root/testdata/sf0.001/documents.parquet}}
    transform:
      - function: text_stats
      - function: language_guess
      - function: token_counts
      - function: filter_rows
        params: {{condition: "n_words >= 5"}}
      - function: dedup_exact
        params: {{id_col: doc_id}}
    write: {{path: clean/docs, connection: lake}}
"""
        results = Pipeline.from_yaml(yaml_text, spark).run()
        assert results["clean_docs"].status == "success", results["clean_docs"].error
        out = spark.read.parquet(str(tmp_path / "clean" / "docs"))
        n_in = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
        assert 0 < out.count() <= n_in
        assert {"lang_guess", "n_words", "ws_tokens"} <= set(out.columns)
        # exact dedup: no duplicated text survives
        assert out.groupBy("text").count().filter("count > 1").count() == 0

    def test_dedup_minhash_transform(self, spark):
        from odibi_spark.context import Context, EngineContext
        from odibi_spark.llm.transforms import dedup_minhash

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog again and again"),
                (2, "the quick brown fox jumps over the lazy dog again and again!"),
                (3, "completely different text about spark partitions and shuffles"),
            ],
            ["doc_id", "text"],
        )
        ec = EngineContext(Context(spark), docs)
        out = dedup_minhash(ec, id_col="doc_id", threshold=0.5).df
        ids = {r.doc_id for r in out.collect()}
        assert ids == {1, 3}  # near-dup 2 dropped, lowest id kept

    def test_dedup_minhash_runs_its_input_once(self, spark):
        """The shingling and the final anti-join read one materialized
        input: an upstream UDF runs once per row, not once per reader."""
        from pyspark.sql import functions as F

        from odibi_spark.context import Context, EngineContext
        from odibi_spark.llm.transforms import dedup_minhash

        acc = spark.sparkContext.accumulator(0)

        def bump(t):
            acc.add(1)
            return t

        bump_udf = F.udf(bump, "string")
        base = [
            "the quick brown fox jumps over the lazy dog again and again",
            "completely different text about spark partitions and shuffles",
            "a third document on minhash signatures and banded candidates",
        ]
        docs = spark.createDataFrame(
            [(i, base[i % 3] + f" copy {i // 3}") for i in range(30)],
            ["doc_id", "raw"],
        ).select("doc_id", bump_udf("raw").alias("text"))
        out = dedup_minhash(
            EngineContext(Context(spark), docs), id_col="doc_id", threshold=0.5
        ).df
        assert {r.doc_id for r in out.collect()} == {0, 1, 2}
        assert acc.value == 30, f"input chain ran {acc.value / 30:.2f}x"


def test_embedding_neardup_planted_pairs(spark):
    """Planted near-identical vectors are recalled at threshold 0.95;
    banding ORs buckets so a single disagreeing band can't lose them."""
    import numpy as np

    rng = np.random.default_rng(11)
    a = rng.standard_normal(64)
    b = rng.standard_normal(64)
    rows = [
        Row(vec_id=1, embedding=[float(x) for x in a]),
        Row(vec_id=2, embedding=[float(x) for x in a + 0.005 * rng.standard_normal(64)]),
        Row(vec_id=3, embedding=[float(x) for x in b]),
        Row(vec_id=4, embedding=[float(x) for x in b + 0.005 * rng.standard_normal(64)]),
    ]
    rows += [
        Row(vec_id=i, embedding=[float(x) for x in rng.standard_normal(64)])
        for i in range(5, 60)
    ]
    df = spark.createDataFrame(rows)
    out = similarity.embedding_neardup_pairs(
        df, "vec_id", "embedding", threshold=0.95, bands=8, planes_per_band=6
    )
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in got and (3, 4) in got
    # no false positives: random 64-dim vectors never reach cosine 0.95
    assert got == {(1, 2), (3, 4)}


def test_embedding_neardup_pair_canonical_order(spark):
    """Each near-dup pair appears once, as (low id, high id)."""
    rows = [
        Row(vec_id=7, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[1.0, 0.001, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    out = similarity.embedding_neardup_pairs(
        df, "vec_id", "embedding", threshold=0.9, bands=4,
        planes_per_band=4, dim=4,
    ).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(3, 7)]


class TestRepetitionSignals:
    """Gopher/MassiveText-style repetition rules (llm/text.py
    repetition_signals) on crafted docs with known fractions."""

    def test_duplicate_line_fractions(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.text import repetition_signals

        df = spark.createDataFrame([
            # 4 lines: 'spam'(3x, 4 chars) + 'x'(1x, 1 char)
            Row(doc_id=1, text="spam\nspam\nspam\nx"),
            Row(doc_id=2, text="alpha\nbeta\ngamma"),  # no dups
        ])
        got = {r.doc_id: r for r in repetition_signals(df).collect()}
        assert got[1].dup_line_fraction == 3 / 4
        assert got[1].dup_line_char_fraction == 12 / 13  # 3*4 / (3*4+1)
        assert got[2].dup_line_fraction == 0.0
        assert got[2].dup_line_char_fraction == 0.0

    def test_top_ngram_char_fraction(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.text import repetition_signals

        txt = "go go go stop"  # top 2-gram 'go go' x2, 5 chars; doc 13 chars
        df = spark.createDataFrame([Row(doc_id=1, text=txt)])
        r = repetition_signals(df).collect()[0]
        assert r.top_ngram_char_fraction == 2 * 5 / len(txt)

    def test_short_doc_yields_zero_not_crash(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.text import repetition_signals

        df = spark.createDataFrame([Row(doc_id=1, text="solo")])
        r = repetition_signals(df, ngram=2).collect()[0]
        assert r.top_ngram_char_fraction == 0.0
        assert r.dup_line_fraction == 0.0

    def test_yaml_transform_registered(self, spark):
        import odibi_spark.operators  # noqa: F401  registers transforms
        from pyspark.sql import Row

        from odibi_spark import Context, EngineContext, get_registry

        df = spark.createDataFrame([Row(doc_id=1, text="a b a b")])
        out = get_registry().apply(
            "repetition_signals",
            EngineContext(Context(spark), df),
            {"ngram": 2},
        )
        assert "top_ngram_char_fraction" in out.df.columns

    def test_plan_no_python_udf(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.text import repetition_signals

        df = spark.createDataFrame([Row(doc_id=1, text="a b c")])
        plan = repetition_signals(df)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    @staticmethod
    def _reference(doc, ngram, delim):
        """The three signals of one document by counting, in Python."""
        import re
        from collections import Counter

        if doc is None:
            return (0.0, 0.0, 0.0)
        lines = Counter(re.split(delim, doc))
        dup = sum(n for n in lines.values() if n >= 2)
        dup_chars = sum(n * len(x) for x, n in lines.items() if n >= 2)
        chars = sum(n * len(x) for x, n in lines.items())
        words = doc.strip(" ").split(" ")
        grams = Counter(
            " ".join(words[i:i + ngram]) for i in range(len(words) - ngram + 1)
        )
        top = max((n * len(g) for g, n in grams.items()), default=0)
        return (
            dup / sum(lines.values()),
            dup_chars / max(chars, 1),
            top / max(len(doc), 1),
        )

    def test_matches_counter_reference(self, spark):
        """Property: every row's signals equal an independent Counter-
        based count of its own text, for ngram 1-3 and both delimiters
        (Java's split with limit -1 and re.split agree on these)."""
        from hypothesis import HealthCheck, example, given, settings
        from hypothesis import strategies as st

        from odibi_spark.llm.text import repetition_signals

        piece = st.sampled_from(
            ["a", "b", "ab", "é", "日本", " ", "  ", "\n", "\n\n", ". ", "."]
        )
        doc = st.one_of(
            st.none(), st.just(""), st.lists(piece, max_size=14).map("".join)
        )

        @given(
            docs=st.lists(doc, min_size=1, max_size=8),
            ngram=st.integers(1, 3),
            delim=st.sampled_from(["\n", r"\. "]),
        )
        @example(
            docs=[None, "", "a", " a  a ", "x\nx\n", "\nb\n\nb", "é. é. é"],
            ngram=3, delim="\n",
        )
        @example(docs=["a. a. b. ", ". . ", "日本 日本"], ngram=2, delim=r"\. ")
        @settings(max_examples=15, deadline=None,
                  suppress_health_check=[HealthCheck.too_slow])
        def check(docs, ngram, delim):
            df = spark.createDataFrame(
                list(enumerate(docs)), "doc_id long, text string"
            )
            out = repetition_signals(df, ngram=ngram, line_delim=delim)
            got = {
                r.doc_id: (r.dup_line_fraction, r.dup_line_char_fraction,
                           r.top_ngram_char_fraction)
                for r in out.collect()
            }
            want = {
                i: self._reference(d, ngram, delim) for i, d in enumerate(docs)
            }
            assert got == want

        check()

    def test_one_job_without_exchange_or_join(self, spark):
        """Row-local: on a materialized input the signals are one
        projection, launched as one job with no shuffle and no join."""
        import uuid

        from pyspark.sql import Row

        from odibi_spark.llm.text import repetition_signals

        df = spark.createDataFrame([
            Row(doc_id=i, text=f"x y x\nline {i}\nline {i}") for i in range(20)
        ]).localCheckpoint()
        out = repetition_signals(df)
        sc = spark.sparkContext
        group = f"repetition-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            rows = out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        assert len(rows) == 20
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan, plan

    def test_curation_chain_runs_python_udf_once(self, spark):
        """The row-local stages of the benchmark's curation chain
        (clean_unicode .. gopher_quality) read their upstream once, so
        clean_unicode's Arrow NFC UDF appears once in the plan; a
        join-back puts one copy of it under every branch."""
        import odibi_spark.operators  # noqa: F401  registers transforms
        from pyspark.sql import Row

        from odibi_spark import Context, EngineContext, get_registry

        df = spark.createDataFrame([
            Row(doc_id=1, text="caf\u00c3\u00a9 line\nline"),
            Row(doc_id=2, text="plain text"),
        ])
        ctx = EngineContext(Context(spark), df)
        for name, params in [
            ("clean_unicode", {}),
            ("text_stats", {}),
            ("repetition_signals", {"id_col": "doc_id"}),
            ("gopher_quality", {}),
        ]:
            ctx = get_registry().apply(name, ctx, params)
        plan = ctx.df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython [") == 1, plan

    def test_rows_keep_their_own_signals(self, spark):
        """Rows sharing an id are not pooled and a NULL id is scored
        like any other row; the id column comes first, then the input's
        other columns, then the three signals."""
        from odibi_spark.llm.text import repetition_signals

        df = spark.createDataFrame(
            [("a\na", "x", 1), ("b\nc", "y", 1), ("d\nd\ne", "z", None)],
            "text string, tag string, doc_id long",
        )
        out = repetition_signals(df)
        assert out.columns == [
            "doc_id", "text", "tag", "dup_line_fraction",
            "dup_line_char_fraction", "top_ngram_char_fraction",
        ]
        got = {r.tag: (r.doc_id, r.dup_line_fraction, r.dup_line_char_fraction)
               for r in out.collect()}
        assert got == {
            "x": (1, 1.0, 1.0),
            "y": (1, 0.0, 0.0),
            "z": (None, 2 / 3, 2 / 3),
        }


class TestCuration:
    """Decontamination + deterministic sampling (llm/curation.py)."""

    def _corpus(self, spark):
        from pyspark.sql import Row

        return spark.createDataFrame([
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="completely unrelated content about spark engines"),
            Row(doc_id=3, text="quick brown fox jumps high"),
        ])

    def _bench(self, spark):
        from pyspark.sql import Row

        return spark.createDataFrame([
            Row(bench_id=100, text="a quick brown fox jumps somewhere"),
        ])

    def test_contamination_hits_and_decontaminate(self, spark):
        from odibi_spark.llm.curation import contamination_hits, decontaminate

        hits = contamination_hits(
            self._corpus(spark), self._bench(spark), n=3, min_hits=2
        ).collect()
        # docs 1 and 3 share 'quick brown fox' + 'brown fox jumps'
        assert {(r.doc_id, r.bench_id) for r in hits} == {(1, 100), (3, 100)}
        assert all(r.shared_grams == 2 for r in hits)

        clean = decontaminate(
            self._corpus(spark), self._bench(spark), n=3, min_hits=2
        )
        assert [r.doc_id for r in clean.collect()] == [2]

    def test_contamination_benchmark_is_broadcast(self, spark):
        from odibi_spark.llm.curation import contamination_hits

        df = contamination_hits(self._corpus(spark), self._bench(spark), n=3)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_same_id_col_rejected(self, spark):
        import pytest as _pytest

        from odibi_spark.llm.curation import contamination_hits

        with _pytest.raises(ValueError, match="must differ"):
            contamination_hits(
                self._corpus(spark), self._bench(spark), bench_id_col="doc_id"
            )

    def test_hash_sample_deterministic_and_partition_invariant(self, spark):
        from odibi_spark.llm.curation import hash_sample

        df = spark.range(2000).withColumnRenamed("id", "k")
        a = sorted(r.k for r in hash_sample(df, 0.3, key_col="k").collect())
        b = sorted(
            r.k
            for r in hash_sample(df.repartition(17), 0.3, key_col="k").collect()
        )
        assert a == b and a  # identical selection under re-partitioning
        # roughly the right volume (hash uniformity)
        assert 0.2 < len(a) / 2000 < 0.4
        # different seed -> different subset
        c = sorted(r.k for r in hash_sample(df, 0.3, key_col="k", seed=7).collect())
        assert a != c

    def test_pps_sample_weight_proportional(self, spark):
        """Inclusion probability must scale with the weight column:
        heavy rows are sampled at ~their weight ratio, probability
        caps at 1, and selection is partition-invariant."""
        from odibi_spark.llm.curation import pps_sample

        df = spark.range(4000).selectExpr(
            "id AS k",
            # weights 1 and 9 alternating; a few giant weights cap at 1
            "CASE WHEN id < 20 THEN 100000 "
            "WHEN id % 2 = 0 THEN 1 ELSE 9 END AS w",
        )
        out = pps_sample(df, 0.02, weight_col="w", key_col="k",
                         prob_col="p")
        rows = out.collect()
        got = {r.k for r in rows}
        # capped rows (p=1) are ALL kept
        assert all(k in got for k in range(20))
        assert all(r.p == 1.0 for r in rows if r.k < 20)
        light = sum(1 for r in rows if 20 <= r.k and r.k % 2 == 0)
        heavy = sum(1 for r in rows if 20 <= r.k and r.k % 2 == 1)
        # expectation: light ~ 1990*0.02=40, heavy ~ 1990*0.18=358
        assert 15 <= light <= 75
        assert 250 <= heavy <= 470
        again = {
            r.k
            for r in pps_sample(
                df.repartition(13), 0.02, weight_col="w", key_col="k"
            ).collect()
        }
        assert got == again

    def test_pps_sample_rejects_negative_rate(self, spark):
        import pytest as _pytest

        from odibi_spark.llm.curation import pps_sample

        df = spark.range(5).selectExpr("id AS k", "id AS w")
        with _pytest.raises(ValueError, match="rate"):
            pps_sample(df, -0.1, weight_col="w", key_col="k")

    def test_stratified_fractions_respected(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.curation import stratified_hash_sample

        rows = [Row(k=i, g="a" if i % 2 else "b") for i in range(2000)]
        df = spark.createDataFrame(rows)
        out = stratified_hash_sample(
            df, {"a": 1.0, "b": 0.0}, strata_col="g", key_col="k"
        ).collect()
        assert all(r.g == "a" for r in out) and len(out) == 1000

    def test_corpus_overlap_estimates_within_bounds(self, spark):
        """Theta-sketch overlap profile: on a planted 100k/80k pair
        with 50k true intersection, per-set and union estimates land
        within 3% and the Jaccard estimate within 0.05 absolute."""
        from pyspark.sql import functions as F

        from odibi_spark.llm.curation import corpus_overlap

        a = spark.range(0, 100_000).select(
            F.concat(F.lit("v"), F.col("id")).alias("v")
        )
        b = spark.range(50_000, 130_000).select(
            F.concat(F.lit("v"), F.col("id")).alias("v")
        )
        r = corpus_overlap(a, b, col="v").first()
        assert abs(r.distinct_a - 100_000) / 100_000 < 0.03
        assert abs(r.distinct_b - 80_000) / 80_000 < 0.03
        assert abs(r.union_est - 130_000) / 130_000 < 0.03
        true_j = 50_000 / 130_000
        assert abs(r.jaccard_est - true_j) < 0.05
        assert r.corpus_a == "a" and r.corpus_b == "b"

    def test_corpus_overlap_disjoint_and_identical(self, spark):
        from pyspark.sql import functions as F

        from odibi_spark.llm.curation import corpus_overlap

        a = spark.range(0, 5_000).select(
            F.concat(F.lit("x"), F.col("id")).alias("v")
        )
        b = spark.range(5_000, 10_000).select(
            F.concat(F.lit("x"), F.col("id")).alias("v")
        )
        disjoint = corpus_overlap(a, b, col="v").first()
        assert disjoint.jaccard_est < 0.02
        same = corpus_overlap(a, a, col="v").first()
        assert same.jaccard_est > 0.98
        # feasibility clamps (ADVICE r6): intersection can never exceed
        # the smaller side even when sketch error inflates A+B-U, so
        # jaccard_est stays <= 1; identical corpora make the bound tight
        assert same.intersection_est <= min(same.distinct_a, same.distinct_b)
        assert same.jaccard_est <= 1.0

    def test_corpus_overlap_empty_inputs_defined(self, spark):
        """Both corpora empty: union_est is 0, and jaccard_est must be
        a defined 0.0 — not NULL from 0/0 (ADVICE r6)."""
        from odibi_spark.llm.curation import corpus_overlap

        e = spark.createDataFrame([], "v string")
        r = corpus_overlap(e, e, col="v").first()
        assert r.union_est == 0.0 and r.intersection_est == 0.0
        assert r.jaccard_est == 0.0

    def test_bloom_prefilter_no_false_negatives_and_bounded_fpr(self, spark):
        """gram_bloom + bloom_might_contain: every true member passes
        (zero false negatives — the property decontamination
        correctness rests on) and the FP rate stays within ~3x the
        theoretical (1-e^(-k/bpi))^k ~= 0.5%."""
        from pyspark.sql import functions as F

        from odibi_spark.llm.curation import bloom_might_contain, gram_bloom

        members = spark.range(0, 5_000).select(
            F.concat(F.lit("g_"), F.col("id")).alias("gram")
        )
        bloom, m, k = gram_bloom(members, col="gram")
        probe = spark.range(0, 50_000).select(
            F.concat(F.lit("g_"), F.col("id")).alias("gram")
        )
        cand = bloom_might_contain(probe, bloom, m, k, col="gram")
        n_cand = cand.count()
        missed = members.join(cand, "gram", "left_anti").count()
        assert missed == 0
        fpr = (n_cand - 5_000) / 45_000
        assert fpr < 0.015, fpr

    def test_bloom_decontamination_equals_exact(self, spark):
        """prefilter='bloom' must produce the IDENTICAL hit set to the
        exact broadcast path (FPs die in the exact join)."""
        from odibi_spark.llm.curation import contamination_hits

        corpus, bench = self._corpus(spark), self._bench(spark)
        exact = contamination_hits(corpus, bench, n=2).collect()
        bloom = contamination_hits(
            corpus, bench, n=2, prefilter="bloom"
        ).collect()
        assert sorted(map(tuple, exact)) == sorted(map(tuple, bloom))

    def test_sample_k_per_group_yaml_transform(self, spark):
        """Registry surface: exact-k per group through the named
        transform; small groups pass through whole."""
        import odibi_spark.operators  # noqa: F401
        import odibi_spark.llm.transforms  # noqa: F401
        from pyspark.sql import Row

        from odibi_spark import Context, EngineContext, get_registry

        df = spark.createDataFrame(
            [Row(id=i, g="a" if i < 8 else "b") for i in range(10)]
        )
        out = get_registry().apply(
            "sample_k_per_group",
            EngineContext(Context(spark), df),
            {"k": 3, "group_col": "g", "key_col": "id"},
        )
        got = [(r.g, r.id) for r in out.df.collect()]
        assert sum(1 for g, _ in got if g == "a") == 3
        assert sum(1 for g, _ in got if g == "b") == 2  # only 2 exist

    def test_token_budget_keeps_first_doc_and_respects_budget(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.curation import token_budget_sample

        df = spark.createDataFrame([
            Row(doc_id=1, g="x", toks=60),   # first in order, over budget alone
            Row(doc_id=2, g="x", toks=30),
            Row(doc_id=3, g="y", toks=10),
            Row(doc_id=4, g="y", toks=10),
            Row(doc_id=5, g="y", toks=10),
        ])
        kept = token_budget_sample(
            df, 25, group_col="g", token_col="toks",
            order_col="toks", id_col="doc_id",
        ).collect()
        by_g = {}
        for r in kept:
            by_g.setdefault(r.g, []).append(r.doc_id)
        # x: doc 1 (60 toks) exceeds 25 alone but is the group's first doc
        assert by_g["x"] == [1]
        # y: 10+10 <= 25, third doc would make 30 -> dropped
        assert sorted(by_g["y"]) == [3, 4]

    def test_mixture_fractions_math(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.curation import mixture_fractions

        df = spark.createDataFrame([
            Row(g="web", toks=1000), Row(g="web", toks=1000),
            Row(g="code", toks=500),
        ])
        frac = mixture_fractions(
            df, {"web": 0.5, "code": 0.5}, 1000,
            strata_col="g", token_col="toks",
        )
        assert frac["web"] == 0.25      # want 500 of 2000
        assert frac["code"] == 1.0      # want 500 of 500
        # absent stratum -> 0.0
        frac2 = mixture_fractions(
            df, {"web": 1.0, "pdf": 1.0}, 100, strata_col="g", token_col="toks"
        )
        assert frac2["pdf"] == 0.0


class TestChunkingPacking:
    """Sequence prep: chunk_documents / pack_sequences (llm/chunking.py)."""

    def test_chunk_boundaries_and_overlap(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.chunking import chunk_documents

        words = " ".join(f"w{i}" for i in range(10))  # w0..w9
        df = spark.createDataFrame([Row(doc_id=1, text=words)])
        got = (
            chunk_documents(df, chunk_words=4, overlap=1)
            .orderBy("chunk_idx").collect()
        )
        # stride 3: [w0..w3], [w3..w6], [w6..w9]
        assert [r.chunk_text for r in got] == [
            "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
        ]
        assert [r.chunk_n_words for r in got] == [4, 4, 4]

    def test_short_doc_single_chunk(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.chunking import chunk_documents

        df = spark.createDataFrame([Row(doc_id=1, text="just three words")])
        got = chunk_documents(df, chunk_words=10).collect()
        assert len(got) == 1 and got[0].chunk_text == "just three words"

    def test_overlap_must_be_smaller(self, spark):
        import pytest as _pytest

        from odibi_spark.llm.chunking import chunk_documents

        with _pytest.raises(ValueError, match="overlap"):
            chunk_documents(spark.range(1), chunk_words=4, overlap=4)

    def test_chunking_is_map_side(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.chunking import chunk_documents

        df = spark.createDataFrame([Row(doc_id=1, text="a b c")])
        plan = (
            chunk_documents(df, chunk_words=2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan  # explode only, no shuffle

    def test_pack_sequences_boundaries(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.chunking import pack_sequences

        df = spark.createDataFrame([
            Row(doc_id=1, toks=100), Row(doc_id=2, toks=30),
            Row(doc_id=3, toks=10),
        ])
        got = {
            r.doc_id: r
            for r in pack_sequences(
                df, 64, token_col="toks", order_col="doc_id", id_col="doc_id"
            ).collect()
        }
        # doc1: offset 0, spans packs 0-1 (100 toks over 64-token windows)
        assert (got[1].pack_id, got[1].pack_offset, got[1].n_packs_spanned) == (0, 0, 2)
        # doc2 starts at token 100 -> pack 1, offset 36, ends at 129 -> spans 2
        assert (got[2].pack_id, got[2].pack_offset, got[2].n_packs_spanned) == (1, 36, 2)
        # doc3 starts at 130 -> pack 2, offset 2, fits
        assert (got[3].pack_id, got[3].pack_offset, got[3].n_packs_spanned) == (2, 2, 1)


class TestRemoveBoilerplateLines:
    """RefinedWeb/CCNet line-level boilerplate removal (r10)."""

    def _docs(self, spark, texts, sources=None):
        sources = sources or ["s"] * len(texts)
        return spark.createDataFrame(
            [Row(doc_id=i, source=s, text=t)
             for i, (t, s) in enumerate(zip(texts, sources))]
        )

    def test_repeated_lines_dropped_everywhere(self, spark):
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        texts = [f"NAV BAR\nbody {i}\nfooter legal" for i in range(4)]
        out = {
            r.doc_id: r
            for r in remove_boilerplate_lines(
                self._docs(spark, texts), min_docs=3
            ).collect()
        }
        for i in range(4):
            assert out[i].text == f"body {i}"
            assert out[i].n_kept_lines == 1
            assert out[i].n_boilerplate_lines == 2

    def test_scope_limits_the_frequency_count(self, spark):
        """The same line in 2 docs of source A and 2 of source B is
        NOT boilerplate at min_docs=3 when scoped, but is unscoped."""
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        texts = ["shared\nbody %d" % i for i in range(4)]
        docs = self._docs(spark, texts, ["a", "a", "b", "b"])
        scoped = remove_boilerplate_lines(
            docs, min_docs=3, scope_col="source"
        )
        assert all(r.n_boilerplate_lines == 0 for r in scoped.collect())
        unscoped = remove_boilerplate_lines(docs, min_docs=3)
        assert all(r.n_boilerplate_lines == 1 for r in unscoped.collect())

    def test_all_boilerplate_doc_survives_empty(self, spark):
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        texts = ["only junk", "only junk", "only junk", "keep me\nonly junk"]
        out = {
            r.doc_id: r
            for r in remove_boilerplate_lines(
                self._docs(spark, texts), min_docs=2
            ).collect()
        }
        assert out[0].text == "" and out[0].n_kept_lines == 0
        assert out[3].text == "keep me"

    def test_line_order_preserved(self, spark):
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        texts = ["junk\na\njunk\nb\nc", "junk\nx\njunk"]
        out = {
            r.doc_id: r.text
            for r in remove_boilerplate_lines(
                self._docs(spark, texts), min_docs=2
            ).collect()
        }
        assert out[0] == "a\nb\nc" and out[1] == "x"

    def test_custom_delimiter(self, spark):
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        texts = ["junk. body one", "junk. body two"]
        out = {
            r.doc_id: r.text
            for r in remove_boilerplate_lines(
                self._docs(spark, texts), min_docs=2, delim=". "
            ).collect()
        }
        assert out[0] == "body one" and out[1] == "body two"

    def test_paragraph_granularity_drops_whole_blocks(self, spark):
        """VERDICT r10 task 8: at granularity='paragraph' the
        frequency unit is the blank-line-separated BLOCK — a repeated
        two-line footer dies as one unit even though its second line
        alone repeats less often than min_docs at line level."""
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        footer = "COPYRIGHT site\nall rights reserved"
        texts = [f"body {i}\nstill body {i}\n\n{footer}" for i in range(3)]
        out = {
            r.doc_id: r
            for r in remove_boilerplate_lines(
                self._docs(spark, texts), min_docs=3,
                granularity="paragraph",
            ).collect()
        }
        for i in range(3):
            assert out[i].text == f"body {i}\nstill body {i}"
            assert out[i].n_kept_lines == 1  # unit = paragraph
            assert out[i].n_boilerplate_lines == 1

    def test_paragraph_mode_spares_line_level_repeats(self, spark):
        """A line repeating inside OTHERWISE-DIFFERENT paragraphs is
        not boilerplate at paragraph granularity (the block differs),
        but is at line granularity."""
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        texts = [f"shared line\nunique {i}\n\ntail {i}" for i in range(3)]
        docs = self._docs(spark, texts)
        par = remove_boilerplate_lines(
            docs, min_docs=3, granularity="paragraph"
        )
        assert all(r.n_boilerplate_lines == 0 for r in par.collect())
        line = remove_boilerplate_lines(docs, min_docs=3)
        # line level: 'shared line' AND the blank separator line repeat
        assert all(r.n_boilerplate_lines == 2 for r in line.collect())

    def test_paragraph_rejoin_uses_blank_lines(self, spark):
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        texts = ["junk\n\na\n\njunk\n\nb", "junk\n\nx\n\njunk"]
        out = {
            r.doc_id: r.text
            for r in remove_boilerplate_lines(
                self._docs(spark, texts), min_docs=2,
                granularity="paragraph",
            ).collect()
        }
        assert out[0] == "a\n\nb" and out[1] == "x"

    def test_runs_of_blank_lines_are_one_separator(self, spark):
        """2+ consecutive delimiters collapse to ONE paragraph break
        (RefinedWeb convention) — no phantom empty paragraphs."""
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        texts = ["junk\n\n\n\na\n\n\nb", "junk\n\nz"]
        out = {
            r.doc_id: r
            for r in remove_boilerplate_lines(
                self._docs(spark, texts), min_docs=2,
                granularity="paragraph",
            ).collect()
        }
        assert out[0].text == "a\n\nb" and out[0].n_kept_lines == 2

    def test_granularity_validation(self, spark):
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        with pytest.raises(ValueError, match="granularity"):
            remove_boilerplate_lines(
                self._docs(spark, ["x"]), granularity="sentence"
            )


class TestWinnowFingerprints:
    """Schleimer et al. 2003 winnowing: deterministic local
    fingerprinting with a guaranteed match-length floor."""

    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
        )

    def test_shared_long_run_guarantees_shared_fp(self, spark):
        """The winnowing guarantee: docs sharing >= window+k-1 = 8
        consecutive words share at least one fingerprint."""
        from odibi_spark.llm.dedup import winnow_fingerprints

        run = "one two three four five six seven eight"
        docs = self._docs(spark, [
            f"alpha beta {run} gamma delta",
            f"zeta eta theta {run}",
            "totally different words everywhere nothing shared here at all",
        ])
        fps = winnow_fingerprints(docs, k=5, window=4)
        by_doc: dict = {i: set() for i in range(3)}
        for r in fps.collect():
            by_doc[r.id].add(r.fp)
        assert by_doc[0] & by_doc[1]          # shared run -> shared fp
        assert not (by_doc[0] & by_doc[2])    # disjoint text -> none

    def test_sketch_is_smaller_than_gram_set(self, spark):
        from odibi_spark.llm.dedup import winnow_fingerprints

        words = " ".join(f"w{i}" for i in range(100))
        fps = winnow_fingerprints(self._docs(spark, [words]), k=5, window=4)
        n = fps.count()
        assert 0 < n < 96  # 96 grams; winnowed sketch must compress

    def test_short_docs_emit_nothing(self, spark):
        from odibi_spark.llm.dedup import winnow_fingerprints

        fps = winnow_fingerprints(
            self._docs(spark, ["only seven words live in here now"]),
            k=5, window=4,
        )
        assert fps.count() == 0

    def test_deterministic_across_partitionings(self, spark):
        from odibi_spark.llm.dedup import winnow_fingerprints

        texts = [" ".join(f"t{(i * 7 + j) % 23}" for j in range(40))
                 for i in range(12)]
        a = set(map(tuple, winnow_fingerprints(
            self._docs(spark, texts).repartition(1)).collect()))
        b = set(map(tuple, winnow_fingerprints(
            self._docs(spark, texts).repartition(5)).collect()))
        assert a == b


class TestLexicalDiversity:
    def test_counts_and_ratios(self, spark):
        from odibi_spark.llm.text import lexical_diversity

        docs = spark.createDataFrame([
            Row(source="a", text="x x y z"),
            Row(source="a", text="x w"),
            Row(source="b", text="q q q q"),
        ])
        out = {r.source: r for r in lexical_diversity(docs).collect()}
        # source a: tokens x,x,y,z,x,w -> 6 tokens, 4 types, hapax y/z/w
        assert out["a"].n_tokens == 6 and out["a"].n_types == 4
        assert out["a"].n_hapax == 3
        assert out["a"].type_token_ratio == 4 / 6
        assert out["a"].hapax_ratio == 3 / 4
        # source b: one type, no hapax
        assert out["b"].n_types == 1 and out["b"].n_hapax == 0


class TestScriptProfile:
    def test_counts_and_dominant(self, spark):
        from odibi_spark.llm.text import script_profile

        docs = spark.createDataFrame([
            Row(doc_id=1, text="hello world"),
            Row(doc_id=2, text="привет мир"),
            Row(doc_id=3, text="中文 text here"),
            Row(doc_id=4, text="12345 !!!"),
            Row(doc_id=5, text="한국어"),  # known letters, unknown script
        ])
        out = {r.doc_id: r for r in script_profile(docs).collect()}
        assert out[1].dominant_script == "latin"
        assert out[2].dominant_script == "cyrillic"
        assert out[2].script_cyrillic == 9
        assert out[3].script_han == 2
        assert out[3].dominant_script == "latin"  # 8 latin > 2 han
        assert out[4].dominant_script == "none"
        assert out[4].script_letters == 0
        assert out[5].dominant_script == "none"
        assert out[5].script_other == 3 and out[5].script_letters == 3


class TestMmrTopk:
    """MMR diverse reranking (similarity.mmr_topk, r10)."""

    def _emb(self, spark):
        # two tight clusters + one outlier: pure relevance would pick
        # the near-duplicates; MMR must interleave the far cluster
        rows = [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),        # query
            Row(vec_id=1, embedding=[0.99, 0.1, 0.0]),       # near A
            Row(vec_id=2, embedding=[0.98, 0.12, 0.0]),      # near A dup
            Row(vec_id=3, embedding=[0.7, -0.7, 0.0]),       # cluster B
            Row(vec_id=4, embedding=[0.69, -0.71, 0.02]),    # B dup
            Row(vec_id=5, embedding=[0.1, 0.1, 0.99]),       # outlier
        ]
        return spark.createDataFrame(rows)

    def test_diversity_beats_pure_relevance(self, spark):
        from odibi_spark.llm.similarity import mmr_topk

        out = mmr_topk(
            self._emb(spark), "vec_id", "embedding",
            k=3, n_candidates=5, lam=0.5, query_ids=[0],
        ).orderBy("mmr_rank").collect()
        picks = [r.nbr_id for r in out]
        assert picks[0] == 1            # most relevant first
        assert picks[1] != 2            # NOT the near-duplicate of 1
        assert len(set(picks)) == 3
        assert [r.mmr_rank for r in out] == [1, 2, 3]

    def test_lam_one_is_pure_relevance(self, spark):
        from odibi_spark.llm.similarity import cosine_topk, mmr_topk

        emb = self._emb(spark)
        mmr = mmr_topk(
            emb, "vec_id", "embedding",
            k=3, n_candidates=5, lam=1.0, query_ids=[0],
        ).orderBy("mmr_rank").collect()
        rel = cosine_topk(
            emb, "vec_id", "embedding", query_ids=[0], k=3
        ).orderBy("rank").collect()
        assert [r.nbr_id for r in mmr] == [r.nbr_id for r in rel]

    def test_partitioning_invariant(self, spark):
        from odibi_spark.llm.similarity import mmr_topk

        emb = self._emb(spark)
        a = mmr_topk(
            emb.repartition(1), "vec_id", "embedding",
            k=3, n_candidates=5, query_ids=[0, 3],
        ).collect()
        b = mmr_topk(
            emb.repartition(7), "vec_id", "embedding",
            k=3, n_candidates=5, query_ids=[0, 3],
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_fewer_candidates_than_k(self, spark):
        from odibi_spark.llm.similarity import mmr_topk

        emb = spark.createDataFrame([
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1]),
        ])
        out = mmr_topk(
            emb, "vec_id", "embedding", k=5, n_candidates=5,
            query_ids=[0],
        ).collect()
        assert len(out) == 1  # only one candidate exists

    def test_lam_validation(self, spark):
        import pytest

        from odibi_spark.llm.similarity import mmr_topk

        with pytest.raises(ValueError, match="lam"):
            mmr_topk(self._emb(spark), "vec_id", "embedding", lam=1.5)


class TestWinsorize:
    def test_clamps_to_percentile_bounds(self, spark):
        from odibi_spark.llm.curation import winsorize

        rows = [Row(g="a", v=float(x)) for x in range(1, 101)]
        df = spark.createDataFrame(rows)
        out = winsorize(df, "v", lower=0.10, upper=0.90, out_col="w")
        vals = [r.w for r in out.collect()]
        # interpolated p10/p90 over 1..100 = 10.9 / 90.1
        assert min(vals) == pytest.approx(10.9)
        assert max(vals) == pytest.approx(90.1)
        inner = [r for r in out.collect() if 11 <= r.v <= 90]
        assert all(r.w == r.v for r in inner)  # interior untouched

    def test_per_group_bounds(self, spark):
        from odibi_spark.llm.curation import winsorize

        rows = [Row(g="small", v=float(x)) for x in range(1, 11)] + \
               [Row(g="big", v=float(x * 100)) for x in range(1, 11)]
        out = winsorize(
            spark.createDataFrame(rows), "v",
            lower=0.0, upper=0.5, group_col="g", out_col="w",
        )
        by = {}
        for r in out.collect():
            by.setdefault(r.g, []).append(r.w)
        assert max(by["small"]) == pytest.approx(5.5)   # p50 of 1..10
        assert max(by["big"]) == pytest.approx(550.0)

    def test_validation(self, spark):
        from odibi_spark.llm.curation import winsorize

        df = spark.createDataFrame([Row(v=1.0)])
        with pytest.raises(ValueError, match="lower < upper"):
            winsorize(df, "v", lower=0.9, upper=0.1)

    def test_null_group_rows_survive(self, spark):
        """ADVICE r10: NULL group keys must clamp against their own
        group's bounds, not vanish through an equi-join."""
        from odibi_spark.llm.curation import winsorize

        rows = [Row(g=None, v=float(x)) for x in range(1, 11)] + \
               [Row(g="a", v=float(x * 10)) for x in range(1, 11)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = winsorize(df, "v", lower=0.0, upper=0.5,
                        group_col="g", out_col="w")
        by = {}
        for r in out.collect():
            by.setdefault(r.g, []).append(r.w)
        assert len(by[None]) == 10  # nothing dropped
        assert max(by[None]) == pytest.approx(5.5)
        assert max(by["a"]) == pytest.approx(55.0)

    def test_empty_input_raises_clearly(self, spark):
        from odibi_spark.llm.curation import winsorize

        df = spark.createDataFrame([], "v double")
        with pytest.raises(ValueError, match="no non-null values"):
            winsorize(df, "v")


def _ref_bpe(texts, k, eow="</w>"):
    """Pure-Python Sennrich et al. 2016 reference trainer (greedy
    left-to-right merge, count-desc / pair-asc tiebreak)."""
    from collections import Counter

    wc = Counter()
    for t in texts:
        for w in t.strip().lower().split(" "):
            if w:
                wc[w] += 1
    vocab = {
        w: (tuple(w) + ((eow,) if eow else ()), c) for w, c in wc.items()
    }
    merges = []
    for rank in range(1, k + 1):
        pairs = Counter()
        for syms, c in vocab.values():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        pairs = {p: c for p, c in pairs.items() if c >= 2}
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, c))
        new = {}
        for w, (syms, cnt) in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[w] = (tuple(out), cnt)
        vocab = new
    return merges


class TestBpeTrain:
    """Iterative BPE trainer (VERDICT r10 task 3): the real Sennrich
    et al. 2016 loop, differentially pinned to a pure-Python replay."""

    def test_sennrich_canonical_example(self, spark):
        from odibi_spark.llm.text import bpe_train

        text = " ".join(
            ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        )
        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        got = [
            (r.merge_rank, r.left, r.right, r.pair_count)
            for r in bpe_train(df, num_merges=5).collect()
        ]
        assert got == [
            (1, "e", "s", 9), (2, "es", "t", 9), (3, "est", "</w>", 9),
            (4, "l", "o", 7), (5, "lo", "w", 7),
        ]

    def test_differential_vs_python(self, spark):
        from odibi_spark.llm.text import bpe_train

        texts = [
            "the cat sat on the mat",
            "the bat and the cat chat",
            "that hat is flat flat flat",
            "rats chase cats that chatter",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
        )
        got = [
            (r.merge_rank, r.left, r.right, r.pair_count)
            for r in bpe_train(df, num_merges=15).collect()
        ]
        assert got == _ref_bpe(texts, 15)

    def test_overlapping_run_merges_greedily(self, spark):
        """'bbbb' under pair (b,b): greedy left-to-right gives
        [bb, bb], the fold must not re-merge across a taken match."""
        from odibi_spark.llm.text import bpe_train

        df = spark.createDataFrame(
            [(1, "bbbb bbbb bbbb")], "doc_id int, text string"
        )
        got = [
            (r.merge_rank, r.left, r.right, r.pair_count)
            for r in bpe_train(df, num_merges=3, end_of_word=None).collect()
        ]
        assert got == _ref_bpe(["bbbb bbbb bbbb"], 3, eow=None)
        # first merge: (b,b) counted at every adjacent position (3x3)
        assert got[0] == (1, "b", "b", 9)
        # second: the two bb symbols per word pair up
        assert got[1] == (2, "bb", "bb", 3)

    def test_early_stop_when_nothing_repeats(self, spark):
        from odibi_spark.llm.text import bpe_train

        df = spark.createDataFrame(
            [(1, "ab cd ef")], "doc_id int, text string"
        )
        out = bpe_train(df, num_merges=50).collect()
        # every pair occurs once -> no merge reaches count 2
        assert out == []

    def test_eow_marker_blocks_cross_word_merges(self, spark):
        from odibi_spark.llm.text import bpe_train

        df = spark.createDataFrame(
            [(1, "go go go od od od")], "doc_id int, text string"
        )
        got = [
            (r.merge_rank, r.left, r.right, r.pair_count)
            for r in bpe_train(df, num_merges=4).collect()
        ]
        assert got == _ref_bpe(["go go go od od od"], 4)
        # no merge ever pairs across a word boundary: a symbol ending
        # in </w> never appears as the LEFT side of a merge
        assert all(not l.endswith("</w>") for _, l, r, _ in got)

    @pytest.mark.parametrize("k", [1, 7])
    def test_property_random_corpus(self, spark, k):
        import random

        from odibi_spark.llm.text import bpe_train

        rng = random.Random(1234 + k)
        alphabet = "abcxyz"
        texts = [
            " ".join(
                "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(3, 25))
            )
            for _ in range(12)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
        )
        got = [
            (r.merge_rank, r.left, r.right, r.pair_count)
            for r in bpe_train(df, num_merges=k).collect()
        ]
        assert got == _ref_bpe(texts, k)


class TestQualityClassifier:
    """fastText-style hashed linear quality classifier (VERDICT r10
    task 4, Joulin et al. 2016)."""

    def _ref_logit(self, text, weights, bias, bigrams=True):
        import hashlib
        from decimal import Decimal

        b = len(weights)
        toks = [t for t in text.strip().lower().split(" ") if t]
        feats = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % b
            for t in toks
        ]
        if bigrams:
            feats += [
                int(
                    hashlib.md5(
                        f"{toks[i]} {toks[i + 1]}".encode()
                    ).hexdigest()[:15], 16
                ) % b
                for i in range(len(toks) - 1)
            ]
        if not feats:
            return float(bias)
        s = sum(Decimal(f"{weights[h]:.6f}") for h in feats)
        return bias + float(s) / len(feats)

    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, "The quick Brown fox jumps over the lazy dog"),
                (2, "spam spam spam click here buy now"),
                (3, ""),
                (4, "single"),
                (5, "a b a b a b a b"),
            ],
            "doc_id int, text string",
        )

    def test_differential_vs_python(self, spark):
        from odibi_spark.llm.curation import (
            quality_classifier, quality_classifier_weights,
        )

        w, b = quality_classifier_weights(128, seed=3)
        out = quality_classifier(self._df(spark), weights=w, bias=b)
        texts = {r.doc_id: r.text for r in self._df(spark).collect()}
        for r in out.collect():
            assert r.ql_logit == self._ref_logit(texts[r.doc_id], w, b), (
                r.doc_id
            )

    def test_dispatch_paths_identical(self, spark):
        """Literal and broadcast-join paths must produce bit-identical
        logits (DECIMAL sums are order-independent)."""
        from odibi_spark.llm.curation import (
            quality_classifier, quality_classifier_weights,
        )

        w, b = quality_classifier_weights(64, seed=11)
        df = self._df(spark)
        lit = quality_classifier(df, weights=w, bias=b)
        join = quality_classifier(df, weights=w, bias=b, inline_limit=1)
        key = lambda rows: sorted(
            (r.doc_id, r.ql_n_features, r.ql_logit, r.ql_prob)
            for r in rows
        )
        assert key(lit.collect()) == key(join.collect())

    def test_empty_text_scores_bias(self, spark):
        from odibi_spark.llm.curation import (
            quality_classifier, quality_classifier_weights,
        )

        w, b = quality_classifier_weights(32, seed=5)
        out = {
            r.doc_id: r
            for r in quality_classifier(
                self._df(spark), weights=w, bias=b
            ).collect()
        }
        assert out[3].ql_n_features == 0 and out[3].ql_logit == b

    def test_bigrams_flag(self, spark):
        from odibi_spark.llm.curation import (
            quality_classifier, quality_classifier_weights,
        )

        w, b = quality_classifier_weights(64, seed=9)
        uni = quality_classifier(
            self._df(spark), weights=w, bias=b, bigrams=False
        )
        got = {r.doc_id: r for r in uni.collect()}
        # unigram-only: n_features == token count
        assert got[1].ql_n_features == 9
        assert got[1].ql_logit == self._ref_logit(
            "The quick Brown fox jumps over the lazy dog", w, b,
            bigrams=False,
        )

    def test_partitioning_invariant(self, spark):
        from odibi_spark.llm.curation import (
            quality_classifier, quality_classifier_weights,
        )
        from pyspark.sql import Row

        w, b = quality_classifier_weights(64, seed=2)
        rows = [Row(doc_id=i, text=f"word{i % 17} common text {i % 5}")
                for i in range(300)]
        df = spark.createDataFrame(rows)
        a = {(r.doc_id, r.ql_logit) for r in quality_classifier(
            df.repartition(1), weights=w, bias=b).collect()}
        c = {(r.doc_id, r.ql_logit) for r in quality_classifier(
            df.repartition(13), weights=w, bias=b).collect()}
        assert a == c

    def test_validation(self, spark):
        import pytest as _pytest

        from odibi_spark.llm.curation import quality_classifier

        with _pytest.raises(ValueError, match="non-empty"):
            quality_classifier(self._df(spark), weights=[])


class TestQualityClassifierTrain:
    """Distributed full-batch logistic regression on the hashed
    features (VERDICT r11 task 4): deterministic in the data,
    bit-exactly replayable (Elliott sigmoid + integer protocol)."""

    def _df(self, spark):
        good = [
            "the quick brown fox jumps over the lazy dog",
            "a well written article about science and history",
            "the committee published the annual report today",
            "researchers described the method in careful detail",
        ]
        bad = [
            "buy now click here spam spam spam",
            "win win win free free casino casino",
            "click click buy buy cheap cheap now now",
            "spam offer free click casino win buy",
        ]
        rows = [(i, t, 1) for i, t in enumerate(good)] + [
            (100 + i, t, 0) for i, t in enumerate(bad)
        ]
        return spark.createDataFrame(rows, "doc_id int, text string, label int")

    @staticmethod
    def _ref_train(rows, buckets, epochs, lr):
        """Pure-Python replay of the exact protocol."""
        import hashlib
        import math

        from odibi_spark.llm.curation import _trunc_div

        def feats(text):
            toks = [t for t in text.strip().lower().split(" ") if t]
            out = [
                int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % buckets
                for t in toks
            ]
            out += [
                int(hashlib.md5(f"{toks[i]} {toks[i+1]}".encode())
                    .hexdigest()[:15], 16) % buckets
                for i in range(len(toks) - 1)
            ]
            return out

        docs = [(feats(t), y) for t, y in rows]
        docs = [(f, y) for f, y in docs if f]
        n_docs = len(docs)
        w = [0] * buckets
        ln, ld = lr
        for _ in range(epochs):
            g = [0] * buckets
            for f, y in docs:
                n = len(f)
                s = float(sum(w[h] for h in f))
                z = s / (1000000.0 * n)
                sig = 0.5 + z / (2.0 * (1.0 + abs(z)))
                q = math.floor(((sig - y) * 1000000.0) / n)
                for h in f:
                    g[h] += q
            for b in range(buckets):
                w[b] -= _trunc_div(ln * g[b], ld * n_docs)
        return w

    def test_differential_vs_python(self, spark):
        from odibi_spark.llm.curation import quality_classifier_train

        df = self._df(spark)
        w, bias = quality_classifier_train(
            df, buckets=64, epochs=3, lr=(1, 4)
        )
        rows = [(r.text, r.label) for r in df.collect()]
        ref = self._ref_train(rows, 64, 3, (1, 4))
        assert bias == 0.0
        assert [round(x * 1e6) for x in w] == ref

    def test_learned_weights_separate_classes(self, spark):
        from odibi_spark.llm.curation import (
            quality_classifier, quality_classifier_train,
        )

        df = self._df(spark)
        w, b = quality_classifier_train(
            df, buckets=64, epochs=10, lr=(1, 1)
        )
        scored = {
            r.doc_id: r.ql_logit
            for r in quality_classifier(
                df, weights=w, bias=b
            ).collect()
        }
        good = [v for k, v in scored.items() if k < 100]
        bad = [v for k, v in scored.items() if k >= 100]
        assert min(good) > max(bad)

    def test_partitioning_invariant(self, spark):
        from odibi_spark.llm.curation import quality_classifier_train

        df = self._df(spark)
        w1, _ = quality_classifier_train(
            df.repartition(1), buckets=32, epochs=2
        )
        w7, _ = quality_classifier_train(
            df.repartition(7), buckets=32, epochs=2
        )
        assert w1 == w7

    def test_trunc_div_matches_engines(self):
        import duckdb

        from odibi_spark.llm.curation import _trunc_div

        for a, b in [(-7, 2), (7, 2), (-7, -2), (9, 4), (-9, 4), (0, 5)]:
            duck = duckdb.sql(f"SELECT ({a}) // ({b})").fetchone()[0]
            assert _trunc_div(a, b) == duck, (a, b)

    def test_validation(self, spark):
        import pytest as _pytest

        from odibi_spark.llm.curation import quality_classifier_train

        df = self._df(spark)
        with _pytest.raises(ValueError, match="epochs"):
            quality_classifier_train(df, epochs=0)
        with _pytest.raises(ValueError, match="lr"):
            quality_classifier_train(df, lr=(0, 1))
        empty = spark.createDataFrame(
            [(1, "   ", 0)], "doc_id int, text string, label int"
        )
        with _pytest.raises(ValueError, match="no documents"):
            quality_classifier_train(empty)

    def test_transform_label_condition(self, spark):
        from odibi_spark import Context, EngineContext, get_registry

        df = self._df(spark)
        out = get_registry().apply(
            "quality_classifier_train",
            EngineContext(Context(spark), df),
            {"label_condition": "label = 1", "buckets": 32, "epochs": 2},
        ).df
        assert {"ql_logit", "ql_prob", "ql_n_features"} <= set(out.columns)
        assert "__ql_label" not in out.columns
        assert out.count() == df.count()


class TestBpeSegmentedVocab:
    def test_segmentation_reconstructs_words(self, spark):
        """Invariant: concatenating a word's subwords (minus the EOW
        marker) gives back the word, at any merge count."""
        from odibi_spark.llm.text import bpe_segmented_vocab

        df = spark.createDataFrame(
            [(1, "low lower lowest newest new")], "doc_id int, text string"
        )
        vocab = bpe_segmented_vocab(df, num_merges=6)
        for r in vocab.collect():
            assert "".join(r.syms) == r.word + "</w>"

    def test_merges_actually_applied(self, spark):
        from odibi_spark.llm.text import bpe_segmented_vocab, bpe_vocab

        text = " ".join(["low"] * 9 + ["lowest"] * 3)
        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        seg = {r.word: list(r.syms)
               for r in bpe_segmented_vocab(df, num_merges=4).collect()}
        raw = {r.word: list(r.syms) for r in bpe_vocab(df).collect()}
        # after 4 merges over this corpus 'low' collapses below its
        # character count
        assert len(seg["low"]) < len(raw["low"])
        # and the heavy word is fully or nearly fused
        assert len(seg["low"]) <= 2


class TestBpePairStats:
    def test_counts_weighted_by_word_frequency(self, spark):
        from odibi_spark.llm.text import bpe_pair_stats

        docs = spark.createDataFrame([
            Row(doc_id=1, text="aba aba cd"),
            Row(doc_id=2, text="aba x"),
        ])
        out = {r.pair: r.pair_count
               for r in bpe_pair_stats(docs, top_k=10).collect()}
        # 'aba' occurs 3x -> pairs 'a b' and 'b a' 3 each; 'cd' once;
        # single-char 'x' contributes nothing
        assert out["a b"] == 3 and out["b a"] == 3 and out["c d"] == 1
        assert "x" not in " ".join(out)

    def test_top_k_and_deterministic_tiebreak(self, spark):
        from odibi_spark.llm.text import bpe_pair_stats

        docs = spark.createDataFrame([Row(doc_id=1, text="ab cd ab cd ef")])
        rows = bpe_pair_stats(docs, top_k=2).collect()
        assert [(r.pair, r.pair_count) for r in rows] == [
            ("a b", 2), ("c d", 2),  # count desc, then pair asc
        ]

    def test_lowercase_folding(self, spark):
        from odibi_spark.llm.text import bpe_pair_stats

        docs = spark.createDataFrame([Row(doc_id=1, text="AB ab")])
        out = {r.pair: r.pair_count
               for r in bpe_pair_stats(docs, top_k=5).collect()}
        assert out == {"a b": 2}
        raw = {r.pair: r.pair_count
               for r in bpe_pair_stats(docs, top_k=5, lowercase=False).collect()}
        assert raw == {"A B": 1, "a b": 1}


class TestGlobalShuffle:
    def test_permutation_properties(self, spark):
        from odibi_spark.llm.curation import global_shuffle

        df = spark.range(200).withColumnRenamed("id", "k")
        out = global_shuffle(df, "k", seed=3).collect()
        idxs = sorted(r.shuffle_idx for r in out)
        assert idxs == list(range(1, 201))  # a true permutation
        by_k = sorted(out, key=lambda r: r.k)
        assert [r.shuffle_idx for r in by_k] != list(range(1, 201))  # shuffled

    def test_partitioning_invariant_and_seeded(self, spark):
        from odibi_spark.llm.curation import global_shuffle

        df = spark.range(300).withColumnRenamed("id", "k")
        a = {r.k: r.shuffle_idx for r in
             global_shuffle(df.repartition(1), "k", seed=5).collect()}
        b = {r.k: r.shuffle_idx for r in
             global_shuffle(df.repartition(13), "k", seed=5).collect()}
        c = {r.k: r.shuffle_idx for r in
             global_shuffle(df, "k", seed=6).collect()}
        assert a == b       # pure function of (key set, seed)
        assert a != c       # new seed, new epoch order


class TestTemperatureMixture:
    def _docs(self, spark, sizes):
        rows = []
        i = 0
        for lang, n in sizes.items():
            for _ in range(n):
                rows.append(Row(doc_id=i, lang=lang))
                i += 1
        return spark.createDataFrame(rows)

    def test_upweights_low_resource_strata(self, spark):
        """alpha=0.5 keeps a HIGHER fraction of the small stratum than
        of the big one (the whole point of temperature sampling)."""
        from odibi_spark.llm.curation import temperature_mixture_sample

        df = self._docs(spark, {"en": 900, "yo": 100})
        out = temperature_mixture_sample(
            df, strata_col="lang", key_col="doc_id", target_rows=300
        )
        kept = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
        frac_en = kept.get("en", 0) / 900
        frac_yo = kept.get("yo", 0) / 100
        assert frac_yo > frac_en
        # sqrt weights: yo gets 1/4 the mass of en at 1/9 the size
        assert 0.5 * 300 / 4 < kept.get("yo", 0) + kept.get("en", 0) < 400

    def test_alpha_one_is_proportional(self, spark):
        from odibi_spark.llm.curation import temperature_mixture_sample

        df = self._docs(spark, {"a": 400, "b": 100})
        out = temperature_mixture_sample(
            df, strata_col="lang", key_col="doc_id",
            target_rows=250, alpha=1.0,
        )
        kept = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
        # alpha=1: every stratum keeps the SAME fraction (250/500)
        assert abs(kept["a"] / 400 - kept["b"] / 100) < 0.15

    def test_fraction_caps_at_one(self, spark):
        from odibi_spark.llm.curation import temperature_mixture_sample

        df = self._docs(spark, {"a": 10, "b": 1000})
        out = temperature_mixture_sample(
            df, strata_col="lang", key_col="doc_id", target_rows=5000
        )
        kept = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
        assert kept["a"] == 10  # capped: the whole small stratum kept

    def test_null_strata_fail_fast(self, spark):
        """ADVICE r10: a NULL stratum would poison sorted(fractions)
        and silently match no rows — reject it up front."""
        from odibi_spark.llm.curation import temperature_mixture_sample

        df = spark.createDataFrame(
            [Row(doc_id=1, lang="en"), Row(doc_id=2, lang=None)],
            "doc_id int, lang string",
        )
        with pytest.raises(ValueError, match="contains NULLs"):
            temperature_mixture_sample(
                df, strata_col="lang", key_col="doc_id", target_rows=2
            )

    def test_deterministic_across_partitionings(self, spark):
        from odibi_spark.llm.curation import temperature_mixture_sample

        df = self._docs(spark, {"a": 300, "b": 60})
        a = {r.doc_id for r in temperature_mixture_sample(
            df.repartition(1), strata_col="lang", key_col="doc_id",
            target_rows=100).collect()}
        b = {r.doc_id for r in temperature_mixture_sample(
            df.repartition(7), strata_col="lang", key_col="doc_id",
            target_rows=100).collect()}
        assert a == b


class TestAnnRecallFloors:
    """Index-quality regression floors for the bench ann_recall probe
    (VERDICT r9 task 8): mean recall@5 over 50 queries must stay above
    floors chosen well under the measured values (lsh/planes=4 ~0.15,
    ivf ~0.55 at these SFs) — a hashing or centroid change that
    degrades an index toward zero fails HERE, not in a later round's
    eyeballing."""

    def test_recall_floors_sf0001(self, spark):
        import sys

        sys.path.insert(0, "/root/repo")
        from bench import ann_recall_probe

        r = ann_recall_probe(spark, "/root/testdata/sf0.001")
        assert r["recall_at_5_lsh"] >= 0.05, r
        assert r["recall_at_5_ivf"] >= 0.45, r  # r13: nlist=16/nprobe=4
        # multi-probe must clearly beat the same-table single probe
        # (r13: measured 5-7x; planes=8 single-probe is ~0.01-0.04)
        assert r["recall_at_5_lsh_mp"] >= 0.05, r
        # r14 OR-construction + hamming prefilter: the recommendable
        # LSH point (sf0.1 0.66 @ 3.2% reranked, sf0.01 0.43 @ 3.3%;
        # smaller corpora have weaker neighbour structure — floor set
        # well under the sf0.001 measurement)
        assert r["recall_at_5_lsh_or"] >= 0.25, r
        assert r["lsh_or_rerank_frac"] <= 0.10, r
        # and it must dominate every single/multi-probe SRP point
        assert r["recall_at_5_lsh_or"] > r["recall_at_5_lsh_mp"], r
        assert r["recall_at_5_lsh_or"] > r["recall_at_5_lsh"], r
        # r14 PQ ADC: 8 bytes/vector compression leg — floor well
        # under the measured 0.30-0.45 at these SFs
        assert r["recall_at_5_pq"] >= 0.15, r


class TestCleanUnicode:
    """ftfy-class Unicode repair (llm/text.py clean_unicode, r10)."""

    def _clean(self, spark, texts, **kw):
        rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
        out = text.clean_unicode(
            spark.createDataFrame(rows), "text", out_col="clean", **kw
        )
        return {r.doc_id: r for r in out.collect()}

    def test_mojibake_repairs(self, spark):
        got = self._clean(spark, [
            "cafÃ© naÃ¯ve rÃ©sumÃ©",
            "itâ€™s â€œquotedâ€¦ â€” done",
        ])
        assert got[0].clean == "café naïve résumé"
        assert got[1].clean == "it’s “quoted… — done"
        assert got[0].unicode_changed and got[1].unicode_changed

    def test_control_and_zero_width_strip(self, spark):
        junk = "a" + chr(0x00) + "b" + chr(0x200B) + "c" + chr(0xFEFF) + "d"
        keep = "tab\there\nnewline\rcr"
        got = self._clean(spark, [junk, keep], normalize=None)
        assert got[0].clean == "abcd"
        assert got[1].clean == keep and not got[1].unicode_changed

    def test_nfc_normalization(self, spark):
        nfd = "e" + chr(0x0301) + "tude"  # e + combining acute
        got = self._clean(spark, [nfd])
        assert got[0].clean == "étude" and len(got[0].clean) == 5
        assert got[0].unicode_changed

    def test_nfkc_folds_compatibility_chars(self, spark):
        got = self._clean(spark, ["ﬁle №5"], normalize="NFKC")
        assert got[0].clean == "file No5"

    def test_clean_text_is_untouched(self, spark):
        t = "perfectly ordinary ascii text"
        got = self._clean(spark, [t])
        assert got[0].clean == t and not got[0].unicode_changed

    def test_null_passthrough(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text=None)], "doc_id int, text string"
        )
        r = text.clean_unicode(df, "text", out_col="clean").first()
        assert r.clean is None and r.unicode_changed is None

    def test_stage_toggles(self, spark):
        moj = "cafÃ©" + chr(0x07)
        no_repair = self._clean(
            spark, [moj], repair_mojibake=False, normalize=None
        )
        assert no_repair[0].clean == "cafÃ©"  # control stripped only
        no_strip = self._clean(
            spark, [moj], strip_controls=False, normalize=None
        )
        assert no_strip[0].clean == "café" + chr(0x07)

    def test_unknown_form_raises(self, spark):
        import pytest

        df = spark.createDataFrame([Row(doc_id=1, text="x")])
        with pytest.raises(ValueError, match="normalization form"):
            text.clean_unicode(df, "text", normalize="NFX")

    def test_duckdb_twin_bit_identical(self, spark):
        """The oracle contract: DuckDB's identical replace chain +
        regex class + nfc_normalize reproduces the cleaned text
        byte-for-byte."""
        import duckdb

        texts = [
            "cafÃ© itâ€™s â€œmixedâ€¦",
            "e" + chr(0x0301) + "tude" + chr(0x200B) + "zw" + chr(0x07),
            "dÃ©jÃ" + chr(0xA0) + "vu plain tail",
        ]
        got = self._clean(spark, texts)
        expr = "text"
        for bad, good in text.MOJIBAKE_REPAIRS:
            expr = f"replace({expr}, '{bad}', '{good}')"
        expr = (
            f"nfc_normalize(regexp_replace({expr}, "
            f"'{text.CONTROL_ZW_CLASS}', '', 'g'))"
        )
        con = duckdb.connect()
        import pandas as pd

        con.register(
            "t", pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
        want = dict(con.execute(
            f"SELECT doc_id, {expr} FROM t"
        ).fetchall())
        assert {i: got[i].clean for i in range(len(texts))} == want


class TestScrubPii:
    def test_redaction_and_counts(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.text import scrub_pii

        df = spark.createDataFrame([
            Row(doc_id=1, text="mail bob@example.com or 10.0.0.1 now"),
            Row(doc_id=2, text="call +1 (555) 123-4567 today"),
            Row(doc_id=3, text="nothing sensitive here"),
        ])
        got = {r.doc_id: r for r in scrub_pii(df).collect()}
        assert got[1].text == "mail <EMAIL> or <IP> now"
        assert got[1].pii_hits == 2
        assert got[2].text == "call <PHONE> today"
        assert got[2].pii_hits == 1
        assert got[3].text == "nothing sensitive here" and got[3].pii_hits == 0

    def test_email_digits_not_eaten_by_phone_rule(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.text import scrub_pii

        df = spark.createDataFrame([Row(doc_id=1, text="x 12345678901@test.org y")])
        r = scrub_pii(df).collect()[0]
        assert r.text == "x <EMAIL> y" and r.pii_hits == 1

    def test_out_col_preserves_original(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.text import scrub_pii

        df = spark.createDataFrame([Row(doc_id=1, text="a@b.io")])
        r = scrub_pii(df, out_col="clean_text").collect()[0]
        assert r.text == "a@b.io" and r.clean_text == "<EMAIL>"


def test_full_curation_example_yaml_runs(spark, tmp_path):
    """examples/training_data_prep.yaml end-to-end (paths redirected):
    scrub -> score -> repetition rules -> dedup -> decontaminate ->
    stratified sample -> chunk; r6 adds the exact-k eval holdout and
    the distributed-global-rank length deciles."""
    import pathlib

    from pyspark.sql import functions as F

    from odibi_spark.plans.pipeline import Pipeline

    y = pathlib.Path("examples/training_data_prep.yaml").read_text()
    y = y.replace("base_path: /tmp/odibi_prep", f"base_path: {tmp_path}")
    results = Pipeline.from_yaml(y, spark).run()
    for node in (
        "benchmark_docs", "scored_docs", "clean_docs", "training_chunks",
        "pps_subsample", "eval_pool", "long_docs", "vocab_overlap",
        "takedown_list", "publishable_docs", "fuzzy_clean_docs",
        "dsir_selected", "embedding_dedup", "training_shards",
        "source_quality_report", "script_gated_docs", "mixed_shuffled_docs",
        "classifier_gated_docs", "bpe_merges", "line_corrected_docs",
        "classifier_trained_docs", "kn_gated_docs", "dsir_hashed_selected",
    ):
        assert results[node].status == "success", (node, results[node].error)
    chunks = spark.read.parquet(str(tmp_path / "chunks"))
    assert chunks.count() > 0
    assert {"chunk_idx", "chunk_text", "chunk_n_words"} <= set(chunks.columns)
    clean = spark.read.parquet(str(tmp_path / "clean"))
    # decontamination dropped the docs overlapping the benchmark slice
    assert clean.filter("doc_id % 50 = 0").count() == 0
    pps = spark.read.parquet(str(tmp_path / "pps"))
    assert "p_incl" in pps.columns
    assert 0 < pps.count() < clean.count()
    # eval holdout: at most k=5 per language, deterministic
    pool = spark.read.parquet(str(tmp_path / "eval_pool"))
    per_lang = {r.lang: r.n for r in pool.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert per_lang and all(n <= 5 for n in per_lang.values())
    # longest decile: its min length >= every shorter doc's length
    long_docs = spark.read.parquet(str(tmp_path / "long_docs"))
    assert set(long_docs.select("len_decile").distinct().toPandas()["len_decile"]) == {10}
    lo = long_docs.agg(F.min("n_chars")).first()[0]
    others_max = (
        clean.join(long_docs.select("doc_id"), "doc_id", "left_anti")
        .agg(F.max("n_chars")).first()[0]
    )
    assert others_max <= lo
    # vocabulary overlap profile: one row, sane estimate shapes
    ov = spark.read.parquet(str(tmp_path / "vocab_overlap")).collect()
    assert len(ov) == 1 and ov[0].corpus_a == "corpus"
    assert 0.0 <= ov[0].jaccard_est <= 1.0
    # blocklist removal via bloom_antijoin: row-identical to left_anti
    pub = spark.read.parquet(str(tmp_path / "publishable"))
    assert pub.filter("doc_id % 97 = 0").count() == 0
    assert pub.count() == clean.filter("doc_id % 97 != 0").count()
    # r8 tail: fuzzy decontamination keeps a subset of clean
    fuzzy = spark.read.parquet(str(tmp_path / "fuzzy_clean"))
    assert 0 < fuzzy.count() <= clean.count()
    # DSIR selected exactly k (or the whole pool if smaller)
    dsir = spark.read.parquet(str(tmp_path / "dsir_selected"))
    assert dsir.count() == min(40, fuzzy.count())
    assert "text" in dsir.columns  # input columns preserved
    # embedding dedup + quantization: codes only, originals dropped
    emb = spark.read.parquet(str(tmp_path / "emb_dedup"))
    assert "qvec" in emb.columns and "embedding" not in emb.columns
    assert 0 < emb.count() <= 500
    # webdataset shards: manifest agrees with the fuzzy-clean count
    import json as _json
    import tarfile as _tarfile
    man = _json.loads((tmp_path / "wds/_manifest.json").read_text())
    assert man["n_samples"] == fuzzy.count()
    shard0 = tmp_path / "wds/shard-000000.tar"
    with _tarfile.open(shard0) as tar:
        names = tar.getnames()
    assert names and all(n.rsplit(".", 1)[1] in ("txt", "json") for n in names)
    # r10 tail: corpus-QA report, script gate (ASCII corpus -> all
    # latin survive), temperature mix + deterministic global shuffle
    qa = spark.read.parquet(str(tmp_path / "source_qa"))
    assert {"n_tokens", "n_types", "type_token_ratio"} <= set(qa.columns)
    assert qa.count() > 0
    gated = spark.read.parquet(str(tmp_path / "script_gated"))
    assert gated.count() == clean.count()  # ASCII corpus: all latin
    mixed = spark.read.parquet(str(tmp_path / "mixed"))
    idxs = sorted(r.shuffle_idx for r in mixed.select("shuffle_idx").collect())
    assert idxs == list(range(1, mixed.count() + 1))  # a true permutation
    # r11 tail: fastText-style classifier gate + BPE merge table
    gated_ql = spark.read.parquet(str(tmp_path / "classifier_gated"))
    assert 0 < gated_ql.count() < clean.count()
    assert gated_ql.agg(F.min("ql_prob")).first()[0] >= 0.5
    merges = spark.read.parquet(str(tmp_path / "bpe_merges"))
    assert merges.count() == 8
    assert sorted(r.merge_rank for r in merges.collect()) == list(range(1, 9))
    # r12 tail: KN-perplexity gate + hashed-feature DSIR selection
    kn = spark.read.parquet(str(tmp_path / "kn_gated"))
    assert 0 < kn.count() <= clean.count()
    assert kn.agg(F.max("ppl")).first()[0] <= 40
    assert kn.agg(F.min("n_bigrams")).first()[0] > 0
    dsir_h = spark.read.parquet(str(tmp_path / "dsir_hashed"))
    assert dsir_h.count() == min(40, fuzzy.count())
    assert "dsir_key" in dsir_h.columns


class TestIncrementalDedup:
    """HWM-driven incremental near-dup detection (llm/incremental.py):
    append-only signature store + delta-only candidate join (VERDICT
    r4 task 3)."""

    DOCS = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "an entirely different document about spark pipelines here"),
        (3, "the quick brown fox jumps over the lazy dog tonight"),  # ~dup of 1
        (4, "yet another unrelated text with its own words only"),
        (5, "the quick brown fox leaps over the lazy dog tonight"),  # ~dup of 3
    ]

    def _setup(self, spark, tmp_path):
        from odibi_spark.llm.incremental import SignatureStore
        from odibi_spark.state.hwm import JsonStateBackend

        store = SignatureStore(spark, str(tmp_path / "sigs"))
        state = JsonStateBackend(str(tmp_path / "state.json"))
        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        return df, store, state

    # threshold 0.4: the 32-perm Jaccard estimator has ~0.09 std at
    # p~0.6, so 0.5 would flake on the planted 7/11-similar pair
    KW = dict(threshold=0.4, n=2, num_perm=32, bands=8)
    # the one-shot flags of DOCS (test_two_batch_replay_equals_one_shot
    # pins that a two-batch run equals them)
    ONE_SHOT = {1: False, 2: False, 3: True, 4: False, 5: True}

    def _run(self, df, store, state, batch_id, **over):
        from odibi_spark.llm.incremental import run_incremental_dedup

        kw = {**self.KW, **over}
        return {
            r.doc_id: r.is_dup
            for r in run_incremental_dedup(
                df, store, state, batch_id=batch_id, **kw
            ).collect()
        }

    def test_delta_cache_scope_ends_with_run(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r10: the delta persist must be unpersisted before
        run_incremental_dedup returns — long-lived sessions would
        otherwise accumulate cached blocks run after run."""
        from pyspark.sql import DataFrame

        live = []
        orig_persist, orig_unpersist = (
            DataFrame.persist, DataFrame.unpersist
        )

        def persist(self, *a, **kw):
            live.append(id(self))
            return orig_persist(self, *a, **kw)

        def unpersist(self, *a, **kw):
            live[:] = [i for i in live if i != id(self)]
            return orig_unpersist(self, *a, **kw)

        monkeypatch.setattr(DataFrame, "persist", persist)
        monkeypatch.setattr(DataFrame, "unpersist", unpersist)
        df, store, state = self._setup(spark, tmp_path / "scope")
        self._run(df, store, state, "b1")
        assert live == []  # every persist matched by an unpersist

    def test_store_geometry_mismatch_raises(self, spark, tmp_path):
        """A probe with different band geometry than the persisted
        store must raise, not silently produce never-matching keys."""
        import pytest as _pytest

        df, store, state = self._setup(spark, tmp_path / "geo")
        self._run(df.filter("doc_id <= 3"), store, state, "b1")
        with _pytest.raises(ValueError, match="band geometry"):
            self._run(df, store, state, "b2", bands=4)

    def test_banded_store_partition_pruning(self, spark, tmp_path):
        """read_bands(buckets) must prune store partitions: the scan's
        partition filter carries the bucket predicate, so a probe
        touches only matching bucket directories."""
        import os as _os

        df, store, state = self._setup(spark, tmp_path / "prune")
        self._run(df, store, state, "all")
        # bands table is laid out batch_id=/bucket=
        bdir = str(tmp_path / "prune" / "sigs" / "bands")
        assert any(
            d.startswith("batch_id=") for d in _os.listdir(bdir)
        )
        sub = store.read_bands([0, 1])
        plan = sub._jdf.queryExecution().toString()
        assert "bucket" in plan and "PartitionFilters" in plan

    def test_n_buckets_adopted_from_store_meta(self, spark, tmp_path):
        """A store object constructed with a different n_buckets than
        the persisted layout must ADOPT the stored modulus — probing
        with the wrong one prunes to wrong partitions and silently
        misses duplicates."""
        from odibi_spark.llm.incremental import SignatureStore

        df, store, state = self._setup(spark, tmp_path / "nb")
        want = self._run(df.filter("doc_id <= 3"), store, state, "b1")
        want.update(self._run(df, store, state, "b2"))

        df2, store2, state2 = self._setup(spark, tmp_path / "nb2")
        self._run(df2.filter("doc_id <= 3"), store2, state2, "b1")
        # fresh store OBJECT with a wrong modulus; same on-disk store
        store3 = SignatureStore(
            spark, str(tmp_path / "nb2" / "sigs"), n_buckets=7
        )
        got = self._run(df2, store3, state2, "b2")
        # adopted from the commit record's meta (store2 resolved its
        # modulus adaptively at first append and pinned it there)
        assert store2.n_buckets is not None
        assert store3.n_buckets == store2.n_buckets != 7
        for k, v in got.items():
            assert want[k] == v, (k, v, want[k])

    @staticmethod
    def _read_checked(spark, store):
        """The ids ``store`` reads, after checking that its band rows
        cover exactly those ids (8 each) and all sit under the
        committed modulus."""
        from collections import Counter

        from pyspark.sql import functions as F

        ids = {r.id for r in store.read().collect()}
        n = store._live()["n_buckets"]
        bands = spark.read.parquet(store._bands)
        assert Counter(r.id for r in bands.select("id").collect()) == {
            i: 8 for i in ids
        }
        stale = bands.filter(
            F.col("bucket") != F.pmod(F.xxhash64("bh"), F.lit(n)).cast("int")
        )
        assert n == 8 and stale.count() == 0
        return ids

    def _fault_then_replay(self, spark, tmp_path, monkeypatch, owner, name):
        """Fail the second append at ``owner.name``, then check that
        the store reads as version 1 or 2, never a mix, with no band row
        under another modulus, and that the replay (the HWM was not
        committed) from a fresh store object built with another
        ``n_buckets`` flags exactly as the one-shot run. Returns the
        ids read after the fault."""
        from odibi_spark.llm.incremental import SignatureStore

        df, store, state = self._setup(spark, tmp_path / "f")
        got = self._run(df.filter("doc_id <= 3"), store, state, "b1")

        def fail(*args, **kwargs):
            raise OSError(f"injected: {name} failed")

        with monkeypatch.context() as m:
            m.setattr(owner, name, fail)
            with pytest.raises(OSError, match="injected"):
                self._run(df, store, state, "b2")
        assert state.get("dedup_hwm") == "3"
        path = str(tmp_path / "f" / "sigs")
        seen = self._read_checked(spark, SignatureStore(spark, path))
        replay = SignatureStore(spark, path, n_buckets=7)
        got.update(self._run(df, replay, state, "b2"))
        assert got == self.ONE_SHOT
        assert self._read_checked(spark, replay) == {1, 2, 3, 4, 5}
        assert replay.read().count() == 5
        return seen

    def test_missing_bands_table_falls_back(self, spark, tmp_path, monkeypatch):
        """Fault inside the stage: the bands write raises while the
        concurrent sigs write lands in staging. Nothing is published,
        so the store falls back to the previous version whole, and the
        replay stages both sub-tables again."""
        from odibi_spark.llm.incremental import SignatureStore

        seen = self._fault_then_replay(
            spark, tmp_path, monkeypatch, SignatureStore, "_write_bands"
        )
        assert seen == {1, 2, 3}

    def test_meta_written_before_bands(self, spark, tmp_path, monkeypatch):
        """Fault at the publish: the record carrying the geometry is
        written only after both sub-tables are staged, so when it fails
        neither the meta nor any band row of the batch is live."""
        from odibi_spark.patterns.merge_target import ParquetTarget

        seen = self._fault_then_replay(
            spark, tmp_path, monkeypatch, ParquetTarget, "_publish"
        )
        assert seen == {1, 2, 3}

    def test_orphan_bands_rebuilt_not_blessed(self, spark, tmp_path, monkeypatch):
        """Fault at the apply, after the publish: the next read rolls
        the published record forward, so sigs and bands land together
        (no orphan band rows) under the committed modulus, and the
        replay replaces the batch's files instead of doubling them."""
        from odibi_spark.patterns.merge_target import ParquetTarget

        seen = self._fault_then_replay(
            spark, tmp_path, monkeypatch, ParquetTarget, "_apply"
        )
        assert seen == {1, 2, 3, 4, 5}

    def test_old_layout_raises_and_racing_appends_conflict(self, spark, tmp_path):
        """Two appenders that read the same version conflict: the
        second gets ``CommitConflict`` and leaves no record or row. A
        store with data files but no record meta (the older layout, its
        geometry in a side file) raises instead of guessing."""
        import json as _json
        import os as _os
        import shutil

        from odibi_spark.llm.incremental import (
            SignatureStore, flag_incremental_dups,
        )
        from odibi_spark.patterns.merge_target import CommitConflict

        df, store, state = self._setup(spark, tmp_path)
        self._run(df.filter("doc_id <= 3"), store, state, "b1")
        path = str(tmp_path / "sigs")
        a, b = SignatureStore(spark, path), SignatureStore(spark, path)
        _, sigs_a = flag_incremental_dups(df.filter("doc_id = 4"), a, **self.KW)
        _, sigs_b = flag_incremental_dups(df.filter("doc_id = 5"), b, **self.KW)
        a.append(sigs_a, "b2")
        with pytest.raises(CommitConflict):
            b.append(sigs_b, "b3")
        assert sorted(_os.listdir(_os.path.join(path, "_log"))) == [
            "1.json", "2.json",
        ]
        fresh = SignatureStore(spark, path)
        assert {r.id for r in fresh.read().collect()} == {1, 2, 3, 4}

        shutil.rmtree(_os.path.join(path, "_log"))
        with open(_os.path.join(path, "_store_meta.json"), "w") as fh:
            _json.dump({"bands": 8, "rows_per_band": 4,
                        "hasher": "xxhash64", "n_buckets": 8}, fh)
        with pytest.raises(ValueError, match="replaying batches"):
            self._run(df, SignatureStore(spark, path), state, "b3")

    def test_fresh_store_object_writes_committed_geometry(self, spark, tmp_path):
        """A store object built with the default geometry that probes a
        store committed with bands=4 (as the ``dedup_incremental``
        transform builds one per batch) bands its append under the
        committed geometry, not its constructor's."""
        from odibi_spark.llm.incremental import SignatureStore

        df, store, state = self._setup(spark, tmp_path)
        self._run(df.filter("doc_id <= 3"), store, state, "b1", bands=4)
        later = SignatureStore(spark, str(tmp_path / "sigs"))
        self._run(df, later, state, "b2", bands=4)
        bands = spark.read.parquet(str(tmp_path / "sigs" / "bands"))
        per_batch = {
            b: {r.band for r in bands.filter(f"batch_id = '{b}'").collect()}
            for b in ("b1", "b2")
        }
        assert per_batch["b1"] == per_batch["b2"] and len(per_batch["b1"]) == 4

    def test_two_batch_replay_equals_one_shot(self, spark, tmp_path):
        df, store, state = self._setup(spark, tmp_path / "a")
        one_shot = self._run(df, store, state, "all")
        assert one_shot == self.ONE_SHOT

        df2, store2, state2 = self._setup(spark, tmp_path / "b")
        got = self._run(df2.filter("doc_id <= 3"), store2, state2, "b1")
        # batch 2 passes the FULL source through the HWM filter
        got.update(self._run(df2, store2, state2, "b2"))
        assert got == one_shot
        assert state2.get("dedup_hwm") == "5"

    def test_one_look_at_the_store_per_batch(self, spark, tmp_path, monkeypatch):
        """A batch walks the store's tree once: its first look, which
        pins the version the append commits on and names the files its
        partitions replace; the commit does not look again after it
        applies. The two batches still flag as the one-shot run."""
        from odibi_spark.patterns.merge_target import ParquetTarget

        df, store, state = self._setup(spark, tmp_path)
        got = self._run(df.filter("doc_id <= 3"), store, state, "b1")
        looks = []
        real = ParquetTarget.live

        def live(target):
            looks.append(target.path)
            return real(target)

        monkeypatch.setattr(ParquetTarget, "live", live)
        got.update(self._run(df, store, state, "b2"))
        assert looks == [store._target.path]
        assert got == self.ONE_SHOT
        assert state.get("dedup_hwm") == "5"

    def test_dup_of_dropped_doc_is_caught(self, spark, tmp_path):
        """Doc 5 matches only doc 3, itself dropped as a dup of 1 —
        dropped docs' signatures still gate later arrivals."""
        df, store, state = self._setup(spark, tmp_path)
        got = self._run(df.filter("doc_id <= 4"), store, state, "b1")
        assert got == {1: False, 2: False, 3: True, 4: False}
        got2 = self._run(df, store, state, "b2")
        assert got2 == {5: True}

    def test_crash_replay_is_idempotent(self, spark, tmp_path):
        """Crash between store append and HWM commit: the batch re-runs
        in full; its commit replaces the batch's store files, flags
        recompute identically."""
        df, store, state = self._setup(spark, tmp_path)
        self._run(df.filter("doc_id <= 3"), store, state, "b1")
        first = self._run(df, store, state, "b2")
        state.set("dedup_hwm", "3")  # simulate lost commit -> replay
        again = self._run(df, store, state, "b2")
        assert again == first
        # store holds exactly one signature row per doc, not two
        sigs = store.read()
        assert sigs.count() == 5
        assert sigs.select("id").distinct().count() == 5

    def test_yaml_transform_two_batches(self, spark, tmp_path):
        """The registry surface: dedup_incremental drives from YAML
        params across two batches with the same store/state."""
        from odibi_spark.context import Context, EngineContext
        from odibi_spark.registry import get_registry

        df, _, _ = self._setup(spark, tmp_path)
        params = dict(
            store_path=str(tmp_path / "sigs"),
            state_path=str(tmp_path / "state.json"),
            id_col="doc_id", n=2, threshold=0.4,
        )
        reg = get_registry()
        out1 = reg.apply(
            "dedup_incremental",
            EngineContext(Context(spark), df.filter("doc_id <= 3")),
            {**params, "batch_id": "b1"},
        )
        assert sorted(r.doc_id for r in out1.df.collect()) == [1, 2]  # 3 dup of 1
        out2 = reg.apply(
            "dedup_incremental",
            EngineContext(Context(spark), df),
            {**params, "batch_id": "b2"},
        )
        # batch 2 delta = {4, 5}; 5 is a dup of (dropped) 3
        assert sorted(r.doc_id for r in out2.df.collect()) == [4]

    def test_incremental_filter_reads_only_delta(self, spark, tmp_path):
        df, store, state = self._setup(spark, tmp_path)
        got = self._run(df.filter("doc_id <= 2"), store, state, "b1")
        assert set(got) == {1, 2}
        got2 = self._run(df, store, state, "b2")
        assert set(got2) == {3, 4, 5}  # rows at/below the HWM skipped


class TestConnectedComponents:
    """Duplicate-cluster resolution (llm/dedup.py connected_components)."""

    def _edges(self, spark, pairs):
        from pyspark.sql import Row

        return spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in pairs])

    def test_chain_collapses_to_one_cluster(self, spark):
        from odibi_spark.llm.dedup import connected_components

        # path graph 1-2-3-4-5 plus isolated pair 10-11: diameter 4
        # forces multiple propagation rounds
        got = {
            r.id: r.cluster_id
            for r in connected_components(
                self._edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)])
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    def test_transitive_via_shared_middle(self, spark):
        from odibi_spark.llm.dedup import connected_components

        # A~B and B~C but never A~C — the motivating case
        got = {
            r.id: r.cluster_id
            for r in connected_components(self._edges(spark, [(7, 3), (3, 9)])).collect()
        }
        assert got == {3: 3, 7: 3, 9: 3}

    def test_long_chain_converges_in_log_rounds(self, spark):
        """Pointer jumping (Shiloach-Vishkin) makes a 128-node planted
        duplicate chain converge in O(log n) rounds, not O(n)."""
        from odibi_spark.llm.dedup import connected_components_stats

        chain = self._edges(spark, [(i, i + 1) for i in range(1, 128)])
        labels, stats = connected_components_stats(chain, max_iter=25)
        assert stats["converged"]
        assert stats["rounds"] <= 10, stats  # sim: 9 for n=128 (log2+2)
        got = {r.id: r.cluster_id for r in labels.collect()}
        assert set(got.values()) == {1} and len(got) == 127 + 1

    def test_nonconvergence_warns_and_raises(self, spark, caplog):
        """A component whose diameter exceeds max_iter must not return
        silently-split clusters (ADVICE r4): warn by default, raise on
        request."""
        import logging

        import pytest

        from odibi_spark.llm.dedup import connected_components

        # path graph 1-..-8: min-label needs ~7 rounds; max_iter=2 cannot
        chain = self._edges(spark, [(i, i + 1) for i in range(1, 8)])
        with caplog.at_level(logging.WARNING, "odibi_spark.llm.dedup"):
            connected_components(chain, max_iter=2).collect()
        assert any("did not converge" in r.message for r in caplog.records)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iter=2, on_nonconverged="raise")

    def test_dedup_clusters_keeps_min_and_untouched_docs(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.dedup import dedup_clusters

        df = spark.createDataFrame(
            [Row(doc_id=i, text=f"t{i}") for i in (1, 2, 3, 8)]
        )
        pairs = self._edges(spark, [(1, 2), (2, 3)])
        kept = sorted(r.doc_id for r in dedup_clusters(df, pairs).collect())
        assert kept == [1, 8]  # cluster {1,2,3} -> keeper 1; 8 untouched

    def test_dedup_clusters_high_dup_fraction_no_forced_broadcast(self, spark):
        """80% of the corpus is duplicates — the losers set is
        corpus-proportional, so dedup_clusters must not FORCE a
        broadcast (VERDICT r5 sweep): with auto-broadcast disabled the
        anti-join runs shuffled, and the result is still correct."""
        from pyspark.sql import Row

        from odibi_spark.llm.dedup import dedup_clusters

        docs = spark.createDataFrame(
            [Row(doc_id=i, text=f"t{i}") for i in range(100)]
        )
        # one giant cluster 0..79 (chain), 80..99 untouched
        pairs = self._edges(spark, [(i, i + 1) for i in range(79)])
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = dedup_clusters(docs, pairs)
            plan = out._jdf.queryExecution().toString()
            # no static broadcast hint survives a disabled threshold
            assert "BroadcastHashJoin" not in plan.split(
                "== Physical Plan =="
            )[-1]
            kept = sorted(r.doc_id for r in out.collect())
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert kept == [0, *range(80, 100)]

    def test_yaml_transform_cluster_dedup(self, spark):
        import odibi_spark.operators  # noqa: F401
        from pyspark.sql import Row

        from odibi_spark import Context, EngineContext, get_registry

        docs = spark.createDataFrame([
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog!"),
            Row(doc_id=3, text="an entirely different document about engines"),
        ])
        out = get_registry().apply(
            "dedup_clusters",
            EngineContext(Context(spark), docs),
            {"threshold": 0.5},
        )
        assert sorted(r.doc_id for r in out.df.collect()) == [1, 3]


def test_write_training_shards_jsonl(spark, tmp_path):
    """chunk -> pack -> shard: token-balanced jsonl shards, one
    directory per shard id, all docs present exactly once."""
    import glob

    from pyspark.sql import Row

    from odibi_spark.llm.chunking import write_training_shards

    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}", toks=10) for i in range(20)]
    )
    p = str(tmp_path / "shards")
    n = write_training_shards(
        df, p, token_col="toks", tokens_per_shard=64,
        order_col="doc_id", id_col="doc_id",
    )
    assert n == 3  # last doc starts at token 190 -> shard 2
    dirs = sorted(glob.glob(p + "/shard_id=*"))
    assert len(dirs) == 3
    back = spark.read.json(p)
    assert back.count() == 20
    assert back.select("doc_id").distinct().count() == 20
    # shard balance: every shard holds <= ceil(64/10)+1 docs
    sizes = {r.shard_id: r.cnt for r in back.groupBy("shard_id").count().withColumnRenamed("count", "cnt").collect()}
    assert all(6 <= v <= 7 for v in sizes.values()), sizes
    # documented layout contract (ADVICE r4): WITHIN each shard file the
    # jsonl lines appear in (order_col, id_col) order, not shuffle order
    import json as _json

    for d in dirs:
        for f in glob.glob(d + "/*.json"):
            with open(f) as fh:
                ids = [_json.loads(line)["doc_id"] for line in fh if line.strip()]
            assert ids == sorted(ids), (f, ids)


def test_curation_transforms_work_on_streams(spark, tmp_path):
    """Batch/stream unification: the stateless curation column ops
    (scrub_pii, text_stats, chunking) apply unchanged to a streaming
    DataFrame — one code path for backfill and live ingestion."""
    from pyspark.sql import functions as F

    from odibi_spark.llm.chunking import chunk_documents
    from odibi_spark.llm.text import scrub_pii, with_text_stats

    src_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(i, f"contact a@b.io row {i}") for i in range(10)],
        ["doc_id", "text"],
    ).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src_dir)
    out = chunk_documents(with_text_stats(scrub_pii(stream)), chunk_words=2)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("cur_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM cur_stream").collect()
    assert len(rows) >= 10
    assert any("<EMAIL>" in r.chunk_text for r in rows)
    assert not any("a@b.io" in r.chunk_text for r in rows)
    assert all(r.chunk_n_words <= 2 for r in rows)


class TestApproxBounds:
    """Documented error bounds for the approx scale-path workloads
    (VERDICT r4 task 5): tolerance checks vs exact, in the regime
    where the sketches are genuinely lossy."""

    def test_approx_percentile_rank_error_bound(self, spark):
        """GK guarantee: approx_percentile(q, acc) returns a value
        whose rank is within n/acc of q*n. 100k rows, accuracy=100
        -> rank error <= 1000 (1%)."""
        from pyspark.sql import functions as F

        n, acc = 100_000, 100
        df = spark.range(n).selectExpr("CAST(id * 37 % 100000 AS INT) AS v")
        approx = df.agg(
            F.expr(f"approx_percentile(v, array(0.5, 0.9), {acc})").alias("p")
        ).collect()[0].p
        # v is a permutation of 0..99999, so value == its rank
        eps = n // acc
        assert abs(approx[0] - 0.5 * n) <= eps, approx
        assert abs(approx[1] - 0.9 * n) <= eps, approx

    def test_approx_count_distinct_rsd_bound(self, spark):
        """HLL++ rsd=0.05: estimate within 3 sigma (15%) of the exact
        distinct count at 50k uniques (far past sparse mode)."""
        from pyspark.sql import functions as F

        df = spark.range(60_000).selectExpr(
            "CAST(least(id, 49999) AS STRING) AS fp"  # 50k distinct
        )
        got = df.agg(
            F.approx_count_distinct("fp", 0.05).alias("a"),
            F.count_distinct("fp").alias("x"),
        ).collect()[0]
        assert got.x == 50_000
        assert abs(got.a - got.x) / got.x <= 0.15, got

    def test_workload_small_group_regime_is_exact(self, spark):
        """The declared workload's hash oracle rests on the lossless
        small-group regime: verify approx == exact percentile-disc on
        the sf0.001 documents table."""
        from pyspark.sql import functions as F

        from odibi_spark.io import read_table
        from odibi_spark.workloads.llmdata import approx_percentiles_by_source

        sf = "/root/testdata/sf0.001"
        got = {
            r.source: (r.ap50_chars, r.ap90_chars, r.ap99_chars)
            for r in approx_percentiles_by_source(spark, sf).collect()
        }
        exact = {
            r.source: (r.p50, r.p90, r.p99)
            for r in read_table(spark, sf, "documents")
            .groupBy("source")
            .agg(
                F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)").alias("p50"),
                F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars)").alias("p90"),
                F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY n_chars)").alias("p99"),
            )
            .collect()
        }
        assert got == exact


class TestSplitDataset:
    def test_disjoint_covering_stable(self, spark):
        from odibi_spark.llm.curation import split_dataset

        df = spark.range(1000).withColumnRenamed("id", "doc_id")
        out = split_dataset(
            df,
            splits={"train": 0.875, "val": 0.0625, "test": 0.0625},
            key_col="doc_id",
        )
        counts = {r.split: r.n for r in out.groupBy("split").count()
                  .withColumnRenamed("count", "n").collect()}
        assert sum(counts.values()) == 1000  # covering, disjoint
        assert counts["train"] > counts.get("val", 0)
        # stability: membership is a pure function of (key, seed) — a
        # grown corpus never reassigns an existing key
        bigger = split_dataset(
            spark.range(2000).withColumnRenamed("id", "doc_id"),
            splits={"train": 0.875, "val": 0.0625, "test": 0.0625},
            key_col="doc_id",
        ).filter("doc_id < 1000")
        assert out.exceptAll(bigger).count() == 0

    def test_fractions_must_sum_to_one(self, spark):
        import pytest as _pytest

        from odibi_spark.llm.curation import split_dataset

        with _pytest.raises(ValueError, match="sum to 1"):
            split_dataset(
                spark.range(5), splits={"train": 0.5}, key_col="id"
            )



class TestNgramLmScores:
    def test_common_docs_score_lower_than_gibberish(self, spark):
        from odibi_spark.llm.text import ngram_lm_scores

        rows = [(i, "the cat sat on the mat") for i in range(9)]
        rows.append((99, "zyx qwv jkp"))
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r.doc_id: r.avg_nll for r in ngram_lm_scores(df).collect()}
        assert out[99] > out[0]  # unseen-ish tokens are more surprising

    def test_min_count_routes_rare_tokens_to_unseen_mass(self, spark):
        import math

        from odibi_spark.llm.text import ngram_lm_scores

        df = spark.createDataFrame(
            [(1, "aa aa bb"), (2, "cc")], "doc_id int, text string"
        )
        out = {
            r.doc_id: r
            for r in ngram_lm_scores(df, min_count=2).collect()
        }
        # vocab = {aa: 2} only; N=2, V=1. doc2's 'cc' is OOV:
        # nll = -ln(1/(N+V)) = ln(3)
        assert out[2].avg_nll == pytest.approx(
            round(math.log(3.0), 6), abs=1e-9
        )
        # doc1: two seen 'aa' (-ln(3/3)=0) + OOV 'bb' (ln 3) over 3 toks
        assert out[1].avg_nll == pytest.approx(
            round(math.log(3.0), 6) / 3, abs=1e-6
        )
        assert out[1].n_tokens == 3

    def test_partitioning_invariance(self, spark):
        """avg_nll is DECIMAL-exact: any repartitioning gives the
        identical result (the cross-engine-hash contract)."""
        from odibi_spark.llm.text import ngram_lm_scores

        from odibi_spark.io import read_table as rt

        docs = rt(spark, "/root/testdata/sf0.001", "documents")
        a = {
            r.doc_id: r.avg_nll
            for r in ngram_lm_scores(docs, min_count=2).collect()
        }
        b = {
            r.doc_id: r.avg_nll
            for r in ngram_lm_scores(
                docs.repartition(13), min_count=2
            ).collect()
        }
        assert a == b

    def test_no_python_in_plan(self, spark):
        from odibi_spark.llm.text import ngram_lm_scores

        df = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
        plan = ngram_lm_scores(df)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan


class TestKmeansClusters:
    def _emb(self, spark):
        from odibi_spark.io import read_table as rt

        return rt(spark, "/root/testdata/sf0.001", "embeddings")

    def test_every_vector_assigned_once(self, spark):
        from odibi_spark.llm.similarity import kmeans_clusters

        emb = self._emb(spark)
        out = kmeans_clusters(emb, "vec_id", "embedding", k=4, iters=1)
        assert out.count() == emb.count()
        assert out.select("vec_id").distinct().count() == emb.count()
        clusters = {r.cluster for r in out.select("cluster").distinct().collect()}
        assert clusters <= set(range(4))

    def test_lloyd_step_does_not_worsen_mean_similarity(self, spark):
        """One refinement step should raise (or keep) the average
        vector->centroid dot product vs the raw seeds."""
        from pyspark.sql import functions as F

        from odibi_spark.llm.similarity import kmeans_clusters

        emb = self._emb(spark)
        sim0 = kmeans_clusters(
            emb, "vec_id", "embedding", k=4, iters=0
        ).agg(F.avg("sim")).first()[0]
        sim1 = kmeans_clusters(
            emb, "vec_id", "embedding", k=4, iters=1
        ).agg(F.avg("sim")).first()[0]
        assert sim1 >= sim0 - 1e-9

    def test_deterministic_across_partitionings(self, spark):
        from odibi_spark.llm.similarity import kmeans_clusters

        emb = self._emb(spark)
        a = sorted(
            (r.vec_id, r.cluster)
            for r in kmeans_clusters(
                emb, "vec_id", "embedding", k=4, iters=1, exact_mean=True
            ).collect()
        )
        b = sorted(
            (r.vec_id, r.cluster)
            for r in kmeans_clusters(
                emb.repartition(7), "vec_id", "embedding", k=4, iters=1,
                exact_mean=True,
            ).collect()
        )
        assert a == b

    def test_transform_registered(self, spark, make_ec):
        from odibi_spark.registry import get_registry

        emb = self._emb(spark)
        out = get_registry().apply(
            "cluster_embeddings", make_ec(emb), {"k": 4}
        ).df
        assert set(out.columns) == {"vec_id", "cluster", "sim"}


class TestSemanticDedup:
    def _emb(self, spark):
        from odibi_spark.io import read_table as rt

        return rt(spark, "/root/testdata/sf0.001", "embeddings")

    def test_keep_rule_invariants(self, spark):
        """dup_of always points at a smaller id in the SAME cluster, and
        the smallest id of every cluster is always kept."""
        from pyspark.sql import functions as F

        from odibi_spark.llm.similarity import semantic_dedup

        out = semantic_dedup(
            self._emb(spark), "vec_id", "embedding", k=4, threshold=0.3
        ).cache()
        assert out.filter("dup_of >= vec_id").count() == 0
        assert out.filter("keep <> (dup_of IS NULL)").count() == 0
        mins = out.groupBy("cluster").agg(F.min("vec_id").alias("vec_id"))
        assert out.join(mins, ["cluster", "vec_id"]).filter("NOT keep").count() == 0
        # dup_of stays inside the cluster
        peer = out.select(
            F.col("vec_id").alias("dup_of"), F.col("cluster").alias("pcluster")
        )
        crossed = out.filter("dup_of IS NOT NULL").join(peer, "dup_of")
        assert crossed.filter("cluster <> pcluster").count() == 0
        out.unpersist()

    def test_impossible_threshold_keeps_everything(self, spark):
        from odibi_spark.llm.similarity import semantic_dedup

        out = semantic_dedup(
            self._emb(spark), "vec_id", "embedding", k=4, threshold=1.01
        )
        assert out.filter("NOT keep").count() == 0

    def test_planted_duplicate_is_dropped(self, spark):
        """A cloned vector must land in the clone's cluster and be
        dropped in favor of the original's (lower) id."""
        from pyspark.sql import functions as F

        from odibi_spark.llm.similarity import semantic_dedup

        emb = self._emb(spark).select("vec_id", "embedding")
        low = emb.orderBy("vec_id").limit(1)
        clone = low.select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        out = semantic_dedup(
            emb.unionByName(clone), "vec_id", "embedding", k=4, threshold=0.99
        )
        orig_id = low.first().vec_id
        dup = out.filter(F.col("vec_id") == orig_id + 1_000_000).first()
        assert dup.keep is False and dup.dup_of == orig_id

    def test_broadcast_join_path_matches_inline(self, spark):
        from odibi_spark.llm.similarity import semantic_dedup

        emb = self._emb(spark)
        a = sorted(
            (r.vec_id, r.cluster, r.dup_of, r.keep)
            for r in semantic_dedup(
                emb, "vec_id", "embedding", k=4, threshold=0.3
            ).collect()
        )
        b = sorted(
            (r.vec_id, r.cluster, r.dup_of, r.keep)
            for r in semantic_dedup(
                emb, "vec_id", "embedding", k=4, threshold=0.3, inline_limit=0
            ).collect()
        )
        assert a == b


class TestNeardupDecontaminate:
    def test_planted_neardup_is_flagged(self, spark):
        """A corpus doc that is a light edit of a benchmark doc is
        caught even though no long exact n-gram run survives."""
        from pyspark.sql import Row

        from odibi_spark.llm.curation import neardup_decontaminate_hits

        bench_text = (
            "the quick brown fox jumps over the lazy dog near the old river bank "
            "while morning light settles across the quiet valley floor"
        )
        edited = bench_text.replace("quick", "swift").replace("quiet", "silent")
        corpus = spark.createDataFrame([
            Row(doc_id=10, text=edited),
            Row(doc_id=11, text="completely unrelated text about spark shuffles "
                                "and partition pruning in columnar scans today"),
        ])
        bench = spark.createDataFrame([Row(bench_id=1, text=bench_text)])
        hits = neardup_decontaminate_hits(
            corpus, bench, n=3, num_perm=32, bands=16, threshold=0.3
        ).collect()
        assert [(h.doc_id, h.bench_id) for h in hits] == [(10, 1)]
        assert 0.3 <= hits[0].jaccard < 1.0

    def test_identical_doc_hits_jaccard_one(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.curation import neardup_decontaminate_hits

        t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        corpus = spark.createDataFrame([Row(doc_id=5, text=t)])
        bench = spark.createDataFrame([Row(bench_id=2, text=t)])
        hits = neardup_decontaminate_hits(corpus, bench, threshold=0.5).collect()
        assert len(hits) == 1 and hits[0].jaccard == 1.0

    def test_portable_hasher_matches_xxhash_semantics(self, spark):
        """Both hashers are candidate GENERATORS only — after exact
        Jaccard verification the hit sets must agree on this corpus
        (recall differences would surface as missing rows)."""
        from pyspark.sql import functions as F

        from odibi_spark.io import read_table as rt
        from odibi_spark.llm.curation import neardup_decontaminate_hits

        docs = rt(spark, "/root/testdata/sf0.001", "documents")
        corpus = docs.filter("doc_id % 5 <> 0")
        bench = docs.filter("doc_id % 5 = 0").select(
            F.col("doc_id").alias("bench_id"), "text"
        )
        kw = dict(n=3, num_perm=32, bands=8, threshold=0.2)
        a = sorted(
            (h.doc_id, h.bench_id, round(h.jaccard, 9))
            for h in neardup_decontaminate_hits(
                corpus, bench, hasher="xxhash64", **kw
            ).collect()
        )
        b = sorted(
            (h.doc_id, h.bench_id, round(h.jaccard, 9))
            for h in neardup_decontaminate_hits(
                corpus, bench, hasher="portable", **kw
            ).collect()
        )
        assert a == b and len(a) >= 1


class TestImportanceResample:
    def _split(self, spark):
        from odibi_spark.io import read_table as rt

        docs = rt(spark, "/root/testdata/sf0.001", "documents")
        return docs.filter("doc_id % 7 <> 0"), docs.filter("doc_id % 7 = 0")

    def test_returns_exactly_k_ranked_rows(self, spark):
        from odibi_spark.llm.curation import importance_resample

        source, target = self._split(spark)
        out = importance_resample(source, target, k=10).collect()
        assert len(out) == 10
        keys = [r.gumbel_key for r in out]
        assert keys == sorted(keys, reverse=True)

    def test_deterministic_across_partitionings(self, spark):
        from odibi_spark.llm.curation import importance_resample

        source, target = self._split(spark)
        a = [(r.doc_id, r.logw) for r in importance_resample(source, target, k=15).collect()]
        b = [
            (r.doc_id, r.logw)
            for r in importance_resample(source.repartition(7), target.repartition(3), k=15).collect()
        ]
        assert a == b

    def test_seed_changes_selection(self, spark):
        from odibi_spark.llm.curation import importance_resample

        source, target = self._split(spark)
        a = {r.doc_id for r in importance_resample(source, target, k=15, seed=1).collect()}
        b = {r.doc_id for r in importance_resample(source, target, k=15, seed=2).collect()}
        # Gumbel noise differs, weights don't — overlapping but not equal
        assert a != b

    def test_target_like_docs_outweigh_off_target(self, spark):
        """Importance weights must favor source docs drawn from the
        target vocabulary over ones from a disjoint vocabulary."""
        from pyspark.sql import Row, functions as F

        from odibi_spark.llm.curation import importance_resample

        tvocab = "solar flux plasma corona magnet field sunspot cycle"
        ovocab = "ledger invoice audit balance credit debit payroll tax"
        target = spark.createDataFrame(
            [Row(doc_id=100 + i, text=tvocab) for i in range(5)]
        )
        source = spark.createDataFrame(
            [Row(doc_id=i, text=(tvocab if i % 2 == 0 else ovocab)) for i in range(40)]
        )
        scored = importance_resample(source, target, k=40)  # keep all, inspect logw
        rows = {r.doc_id: r.logw for r in scored.collect()}
        on_t = [v for k, v in rows.items() if k % 2 == 0]
        off_t = [v for k, v in rows.items() if k % 2 == 1]
        assert min(on_t) > max(off_t)


class TestEmbeddingQuantization:
    def _emb(self, spark):
        from odibi_spark.io import read_table as rt

        return rt(spark, "/root/testdata/sf0.001", "embeddings")

    def test_codes_in_range_and_error_bounded(self, spark):
        """int8 codes live in [0,255] and every reconstruction error is
        within half a quantization step of its dimension."""
        from pyspark.sql import functions as F

        from odibi_spark.llm.similarity import (
            dequantize_embeddings,
            quantization_params,
            quantize_embeddings,
        )

        emb = self._emb(spark)
        params = quantization_params(emb, "embedding")
        q = quantize_embeddings(emb, "vec_id", "embedding", params)
        assert q.filter(
            F.exists("qvec", lambda c: (c < 0) | (c > 255))
        ).count() == 0
        d = dequantize_embeddings(q, "qvec", params)
        half_step = max((mx - mn) / 255.0 / 2.0 for mn, mx in params)
        worst = d.select(
            F.array_max(F.zip_with(
                "embedding", "dvec",
                lambda x, y: F.abs(x.cast("double") - y),
            )).alias("e")
        ).agg(F.max("e")).first()[0]
        assert worst <= half_step + 1e-12

    def test_constant_dimension_reconstructs_exactly(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.similarity import (
            dequantize_embeddings,
            quantization_params,
            quantize_embeddings,
        )

        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[7.5, float(i)]) for i in range(4)]
        )
        params = quantization_params(df, "embedding")
        assert params[0] == (7.5, 7.5)
        d = dequantize_embeddings(
            quantize_embeddings(df, "vec_id", "embedding", params),
            "qvec", params,
        )
        assert all(r.dvec[0] == 7.5 for r in d.collect())

    def test_quantized_topk_matches_exact_topk(self, spark):
        """recall@5 of brute-force cosine over reconstructed vectors vs
        the float originals — int8 at this fidelity must not change the
        neighbor sets materially."""
        from pyspark.sql import functions as F

        from odibi_spark.llm.similarity import (
            cosine_topk,
            dequantize_embeddings,
            quantization_params,
            quantize_embeddings,
        )

        emb = self._emb(spark).select("vec_id", "embedding")
        qids = [r.vec_id for r in emb.orderBy("vec_id").limit(10).collect()]
        exact = cosine_topk(emb, "vec_id", "embedding", query_ids=qids, k=5)
        params = quantization_params(emb, "embedding")
        deq = dequantize_embeddings(
            quantize_embeddings(emb, "vec_id", "embedding", params),
            "qvec", params,
        ).select("vec_id", F.col("dvec").cast("array<float>").alias("embedding"))
        approx = cosine_topk(deq, "vec_id", "embedding", query_ids=qids, k=5)
        a = {(r.query_id, r.nbr_id) for r in exact.collect()}
        b = {(r.query_id, r.nbr_id) for r in approx.collect()}
        recall = len(a & b) / len(a)
        assert recall >= 0.9, recall


class TestCurationProperties:
    """Hypothesis invariants for the r8 curation family."""

    def test_quantization_error_bound_random_vectors(self, spark):
        from hypothesis import given, settings, strategies as st

        from pyspark.sql import Row

        from odibi_spark.llm.similarity import (
            dequantize_embeddings,
            quantization_params,
            quantize_embeddings,
        )

        @settings(max_examples=10, deadline=None)
        @given(
            st.lists(
                st.lists(
                    st.floats(-1e3, 1e3, allow_nan=False, width=32),
                    min_size=4, max_size=4,
                ),
                min_size=2, max_size=12,
            )
        )
        def check(vectors):
            df = spark.createDataFrame(
                [Row(vec_id=i, embedding=v) for i, v in enumerate(vectors)]
            )
            params = quantization_params(df, "embedding")
            d = dequantize_embeddings(
                quantize_embeddings(df, "vec_id", "embedding", params),
                "qvec", params,
            ).collect()
            steps = [(mx - mn) / 255.0 for mn, mx in params]
            for r in d:
                for x, xh, step in zip(r.embedding, r.dvec, steps):
                    assert abs(float(x) - xh) <= step / 2 + 1e-9

        check()

    def test_gumbel_selection_is_weight_monotone(self, spark):
        """Doubling a doc's tokens toward the target only ever raises
        its logw — the importance weight is monotone in target-vocab
        mass (per-token contributions are fixed by the corpora)."""
        from pyspark.sql import Row

        from odibi_spark.llm.curation import importance_resample

        target = spark.createDataFrame(
            [Row(doc_id=100, text="nova pulse quanta flux")] * 2
        )
        source = spark.createDataFrame([
            Row(doc_id=1, text="nova pulse ledger audit"),
            Row(doc_id=2, text="nova pulse quanta flux"),
            Row(doc_id=3, text="ledger audit payroll tax"),
        ])
        rows = {r.doc_id: r.logw for r in importance_resample(
            source, target, k=3
        ).collect()}
        assert rows[2] > rows[1] > rows[3]


class TestGopherQuality:
    def _flags(self, spark, texts):
        rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
        return {
            r.doc_id: r
            for r in text.gopher_quality_flags(
                spark.createDataFrame(rows), "text", min_words=5
            ).collect()
        }

    def test_rule_bundle(self, spark):
        good = "the cat and the dog have been walking with friends today"
        short = "too few words"
        no_stop = "quick brown fox jumps high above green fields tonight"
        symbols = "the cat and ### dog have ### lots ### of ### symbols here"
        out = self._flags(spark, [good, short, no_stop, symbols])
        assert out[0].gopher_keep
        assert not out[1].pass_word_count and not out[1].gopher_keep
        assert not out[2].pass_stopwords and not out[2].gopher_keep
        assert not out[3].pass_symbol_ratio and not out[3].gopher_keep

    def test_non_latin_scripts_count_alphabetic(self, spark):
        """The published rule is 'contains at least one ALPHABETIC
        character' — \\p{L}, not [a-z]: Cyrillic/Greek/CJK words must
        score alpha ratio 1.0, not 0 (ADVICE r9)."""
        ru = "привет мир это тест слова ещё немного текста здесь да"
        zh = "这是 一个 测试 文本 的 例子 句子 词语 更多 字"
        out = self._flags(spark, [ru, zh])
        assert out[0].g_alpha_word_ratio == 1.0 and out[0].pass_alpha_ratio
        assert out[1].g_alpha_word_ratio == 1.0 and out[1].pass_alpha_ratio

    def test_measured_features(self, spark):
        t = "aa bbb cccc"  # 3 words, 9 chars of words
        r = self._flags(spark, [t])[0]
        assert r.g_n_words == 3
        assert abs(r.g_mean_word_len - 3.0) < 1e-12
        assert r.g_stopword_hits == 0
        assert abs(r.g_alpha_word_ratio - 1.0) < 1e-12

    def test_alpha_ratio_counts_nonalpha_words(self, spark):
        t = "123 456 the cat sat"  # 2 of 5 words lack letters
        r = self._flags(spark, [t])[0]
        assert abs(r.g_alpha_word_ratio - 0.6) < 1e-12

    def test_transform_filter_to_keep(self, spark):
        import odibi_spark.operators  # noqa: F401
        from odibi_spark.context import Context, EngineContext
        from odibi_spark.registry import get_registry

        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="the cat and the dog have been "
                                   "walking with friends today"),
                Row(doc_id=2, text="too short"),
            ]
        )
        ec = get_registry().apply(
            "gopher_quality",
            EngineContext(Context(spark), df),
            {"min_words": 5, "filter_to_keep": True},
        )
        assert [r.doc_id for r in ec.df.collect()] == [1]


class TestDuplicateSpans:
    def test_cross_doc_spans_found(self, spark):
        shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=shared + " unique tail one here"),
                Row(doc_id=2, text="prefix words " + shared),
                Row(doc_id=3, text="totally different content with many "
                                   "other words spread around here"),
            ]
        )
        out = {
            r.doc_id: r
            for r in dedup.duplicate_span_signals(df, ngram=8).collect()
        }
        # docs 1 and 2 share exactly the one 8-gram
        assert out[1].dup_spans == 1 and out[2].dup_spans == 1
        assert out[3].dup_spans == 0
        assert out[1].total_spans == 12 - 8 + 1
        assert abs(out[1].dup_span_ratio - 1 / 5) < 1e-12

    def test_within_doc_repeat_not_counted(self, spark):
        span = "a b c d e f g h"
        df = spark.createDataFrame(
            # the same 8-gram twice INSIDE one doc, nowhere else
            [Row(doc_id=1, text=span + " " + span),
             Row(doc_id=2, text="other words entirely unrelated to the "
                                "first document text body")]
        )
        out = {
            r.doc_id: r
            for r in dedup.duplicate_span_signals(df, ngram=8).collect()
        }
        assert out[1].dup_spans == 0  # min_docs counts DISTINCT docs

    def test_short_docs_zero_ratio(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="just three words")])
        r = dedup.duplicate_span_signals(df, ngram=8).collect()[0]
        assert r.total_spans == 0 and r.dup_spans == 0
        assert r.dup_span_ratio == 0.0

    def test_transform_filter(self, spark):
        import odibi_spark.operators  # noqa: F401
        from odibi_spark.context import Context, EngineContext
        from odibi_spark.registry import get_registry

        shared = "alpha beta gamma delta epsilon zeta eta theta"
        df = spark.createDataFrame(
            [Row(doc_id=1, text=shared),
             Row(doc_id=2, text=shared),
             Row(doc_id=3, text="some completely different eight word "
                                "sentence right here now")]
        )
        ec = get_registry().apply(
            "duplicate_spans",
            EngineContext(Context(spark), df),
            {"max_dup_ratio": 0.5},
        )
        assert sorted(r.doc_id for r in ec.df.collect()) == [3]


class TestCountMinSketch:
    def _tokens(self, spark):
        import itertools

        # Zipf-ish: token_i appears (40 - i) times
        rows = list(
            itertools.chain.from_iterable(
                [Row(tok=f"t{i}")] * (40 - i) for i in range(30)
            )
        )
        return spark.createDataFrame(rows)

    def test_never_undercounts_and_bounded(self, spark):
        from odibi_spark.llm import cms

        toks = self._tokens(spark)
        sketch = cms.cms_build(toks, "tok", width=64, depth=4, seed=11)
        truth = {
            r.tok: r.c
            for r in toks.groupBy("tok").count()
            .withColumnRenamed("count", "c").collect()
        }
        probes = spark.createDataFrame([Row(tok=t) for t in truth])
        est = {
            r.tok: r.est_cnt
            for r in cms.cms_query(
                sketch, probes, "tok", width=64, depth=4, seed=11
            ).collect()
        }
        n_total = sum(truth.values())
        for t, true_c in truth.items():
            assert est[t] >= true_c, f"{t} undercounted"
            # CMS bound: overcount <= e/width * N whp; generous 4x margin
            assert est[t] - true_c <= 4 * 2.718 * n_total / 64

    def test_merge_equals_single_build(self, spark):
        from odibi_spark.llm import cms

        toks = self._tokens(spark)
        half_a = toks.limit(300)
        half_b = toks.exceptAll(half_a)
        merged = cms.cms_merge(
            cms.cms_build(half_a, "tok", width=32, depth=3, seed=5),
            cms.cms_build(half_b, "tok", width=32, depth=3, seed=5),
        )
        full = cms.cms_build(toks, "tok", width=32, depth=3, seed=5)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, full.collect())
        )

    def test_weighted_build(self, spark):
        from odibi_spark.llm import cms

        df = spark.createDataFrame(
            [Row(tok="x", w=5), Row(tok="x", w=2), Row(tok="y", w=1)]
        )
        sketch = cms.cms_build(
            df, "tok", width=16, depth=2, weight_col="w", seed=3
        )
        est = {
            r.tok: r.est_cnt
            for r in cms.cms_query(
                sketch,
                spark.createDataFrame([Row(tok="x"), Row(tok="y")]),
                "tok", width=16, depth=2, seed=3,
            ).collect()
        }
        assert est["x"] >= 7 and est["y"] >= 1

    def test_sketch_size_capped(self, spark):
        from odibi_spark.llm import cms

        sketch = cms.cms_build(
            self._tokens(spark), "tok", width=8, depth=2, seed=1
        )
        assert sketch.count() <= 8 * 2

    def test_bad_params_raise(self, spark):
        from odibi_spark.llm import cms

        with pytest.raises(ValueError):
            cms.cms_build(self._tokens(spark), "tok", width=0, depth=2)
        with pytest.raises(ValueError):
            cms.cms_merge()


class TestAnnRecall:
    def test_recall_math_and_missing_queries(self, spark):
        from odibi_spark.llm.similarity import ann_recall

        exact = spark.createDataFrame(
            [Row(query_id=1, nbr_id=n) for n in (10, 11, 12, 13)]
            + [Row(query_id=2, nbr_id=n) for n in (20, 21)]
            + [Row(query_id=3, nbr_id=30)]
        )
        approx = spark.createDataFrame(
            # q1: 3 of 4 right (one wrong extra ignored); q2: all; q3: absent
            [Row(query_id=1, nbr_id=n) for n in (10, 11, 13, 99)]
            + [Row(query_id=2, nbr_id=n) for n in (20, 21)]
        )
        out = {r.query_id: r for r in ann_recall(exact, approx).collect()}
        assert out[1].hits == 3 and abs(out[1].recall - 0.75) < 1e-12
        assert out[2].recall == 1.0
        assert out[3].hits == 0 and out[3].recall == 0.0

    def test_perfect_index_scores_one(self, spark):
        from odibi_spark.llm import similarity

        rows = [
            Row(vec_id=i, embedding=[float((i * 7 + j) % 5) for j in range(8)])
            for i in range(30)
        ]
        emb = spark.createDataFrame(rows)
        exact = similarity.cosine_topk(
            emb, "vec_id", "embedding", query_filter="vec_id < 5", k=3
        )
        out = similarity.ann_recall(exact, exact).collect()
        assert all(r.recall == 1.0 for r in out)


class TestRandomProjection:
    def _emb(self, spark, n=40, dim=16):
        import random

        rng = random.Random(3)
        rows = [
            Row(vec_id=i, embedding=[rng.gauss(0, 1) for _ in range(dim)])
            for i in range(n)
        ]
        return spark.createDataFrame(rows)

    def test_join_path_matches_inline(self, spark):
        from odibi_spark.llm.similarity import random_projection

        emb = self._emb(spark)
        inline = random_projection(
            emb, "vec_id", "embedding", out_dim=4, seed=5
        ).collect()
        joined = random_projection(
            emb, "vec_id", "embedding", out_dim=4, seed=5, inline_limit=0
        ).collect()
        assert {r.vec_id: r.rp_vec for r in inline} == {
            r.vec_id: r.rp_vec for r in joined
        }

    def test_distances_roughly_preserved(self, spark):
        """JL sanity: with out_dim comparable to dim, relative pairwise
        distances survive within a loose factor."""
        import math

        from odibi_spark.llm.similarity import random_projection

        emb = self._emb(spark, n=20, dim=16)
        orig = {r.vec_id: r.embedding for r in emb.collect()}
        proj = {
            r.vec_id: r.rp_vec
            for r in random_projection(
                emb, "vec_id", "embedding", out_dim=12, seed=7
            ).collect()
        }

        def dist(a, b):
            return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

        ratios = [
            dist(proj[i], proj[j]) / dist(orig[i], orig[j])
            for i in range(5)
            for j in range(i + 1, 10)
        ]
        # unbiased in expectation; generous band for 12-of-16 dims
        assert 0.4 < sum(ratios) / len(ratios) < 1.6

    def test_output_width(self, spark):
        from odibi_spark.llm.similarity import random_projection

        out = random_projection(
            self._emb(spark), "vec_id", "embedding", out_dim=6, seed=1
        ).first()
        assert len(out.rp_vec) == 6

    def test_explicit_dim_matches_inferred(self, spark):
        from odibi_spark.llm.similarity import random_projection

        emb = self._emb(spark, n=10, dim=8)
        inferred = random_projection(
            emb, "vec_id", "embedding", out_dim=3, seed=2
        ).collect()
        explicit = random_projection(
            emb, "vec_id", "embedding", out_dim=3, seed=2, dim=8
        ).collect()
        assert {r.vec_id: r.rp_vec for r in inferred} == {
            r.vec_id: r.rp_vec for r in explicit
        }

    def test_null_and_ragged_vectors_raise(self, spark):
        """A null or wrong-length vector must raise, not silently
        mis-project via zip_with truncation (ADVICE r9)."""
        import pytest

        from odibi_spark.llm.similarity import random_projection

        with_null = spark.createDataFrame(
            [Row(vec_id=1, embedding=[1.0, 2.0]), Row(vec_id=2, embedding=None)]
        )
        with pytest.raises(Exception, match="random_projection"):
            random_projection(
                with_null, "vec_id", "embedding", out_dim=2, seed=1
            ).collect()
        ragged = spark.createDataFrame(
            [
                Row(vec_id=1, embedding=[1.0, 2.0]),
                Row(vec_id=2, embedding=[1.0, 2.0, 3.0]),
            ]
        )
        with pytest.raises(Exception, match="expected non-null"):
            random_projection(
                ragged, "vec_id", "embedding", out_dim=2, seed=1
            ).collect()

    def test_all_null_inference_raises_with_guidance(self, spark):
        import pytest

        from odibi_spark.llm.similarity import random_projection

        all_null = spark.createDataFrame(
            [Row(vec_id=1, embedding=None)],
            "vec_id int, embedding array<float>",
        )
        with pytest.raises(ValueError, match="pass dim="):
            random_projection(all_null, "vec_id", "embedding", out_dim=2)


class TestBm25:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                Row(doc_id=1, text="spark spark spark table join"),
                Row(doc_id=2, text="spark appears once in here body"),
                Row(doc_id=3, text="no relevant terms at all friend"),
                Row(doc_id=4, text="table table table table table table"),
            ]
        )

    def test_match_counts_and_zero_for_no_match(self, spark):
        from odibi_spark.llm.text import bm25_scores

        out = {
            r.doc_id: r
            for r in bm25_scores(
                self._docs(spark), ["spark", "table"]
            ).collect()
        }
        assert out[1].matched_terms == 2
        assert out[2].matched_terms == 1
        assert out[3].matched_terms == 0 and out[3].bm25 == 0.0
        # doc 1 matches both terms with high tf -> best score
        assert out[1].bm25 > out[2].bm25 > 0

    def test_rarer_term_scores_higher(self, spark):
        from odibi_spark.llm.text import bm25_scores

        docs = spark.createDataFrame(
            [Row(doc_id=i, text="common filler words here") for i in range(8)]
            + [
                Row(doc_id=100, text="rare common filler words"),
            ]
        )
        out = {
            r.doc_id: r.bm25
            for r in bm25_scores(docs, ["rare", "common"]).collect()
        }
        # 'rare' appears in 1/9 docs, 'common' in all 9: the rare-term
        # doc must beat any common-only doc
        assert out[100] > max(out[i] for i in range(8))

    def test_empty_query_raises(self, spark):
        from odibi_spark.llm.text import bm25_scores

        with pytest.raises(ValueError):
            bm25_scores(self._docs(spark), [])

    def test_query_terms_lowercased(self, spark):
        from odibi_spark.llm.text import bm25_scores

        out = {
            r.doc_id: r.matched_terms
            for r in bm25_scores(self._docs(spark), ["SPARK"]).collect()
        }
        assert out[1] == 1


class TestRemoveDuplicateSpans:
    def test_keeper_keeps_others_lose(self, spark):
        shared = "alpha beta gamma delta epsilon zeta eta theta"
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=shared + " own tail words"),
                Row(doc_id=2, text="lead in " + shared + " trailing bit"),
                Row(doc_id=3, text="entirely unrelated body of text right "
                                   "here with enough words"),
            ]
        )
        out = {
            r.doc_id: r
            for r in dedup.remove_duplicate_spans(df, ngram=8).collect()
        }
        # doc 1 is the global keeper: untouched
        assert out[1].text == shared + " own tail words"
        assert out[1].n_removed_tokens == 0
        # doc 2 loses exactly the 8 shared tokens, keeps its own
        assert out[2].text == "lead in trailing bit"
        assert out[2].n_removed_tokens == 8
        assert out[3].n_removed_tokens == 0

    def test_within_doc_second_copy_of_corpus_dup_removed(self, spark):
        span = "a b c d e f g h"
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=span + " mid " + span),
                Row(doc_id=2, text=span + " something else entirely here"),
            ]
        )
        out = {
            r.doc_id: r
            for r in dedup.remove_duplicate_spans(df, ngram=8).collect()
        }
        # doc 1 pos 1 is the keeper; its second copy AND doc 2's are cut
        assert out[1].text == span + " mid"
        assert out[2].text == "something else entirely here"

    def test_short_docs_untouched(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text="just a few words"),
             Row(doc_id=2, text="just a few words")]
        )
        out = dedup.remove_duplicate_spans(df, ngram=8).collect()
        assert all(r.text == "just a few words" for r in out)
        assert all(r.n_removed_tokens == 0 for r in out)

    def test_out_col_preserves_original(self, spark):
        shared = "alpha beta gamma delta epsilon zeta eta theta"
        df = spark.createDataFrame(
            [Row(doc_id=1, text=shared), Row(doc_id=2, text=shared)]
        )
        out = {
            r.doc_id: r
            for r in dedup.remove_duplicate_spans(
                df, ngram=8, out_col="clean_text"
            ).collect()
        }
        assert out[2].text == shared  # original intact
        assert out[2].clean_text == ""
        assert out[1].clean_text == shared


def test_gopher_and_bm25_work_on_streams(spark, tmp_path):
    """The r9 stateless column ops stream unchanged: gopher_quality_flags
    is pure column exprs, so the SAME call works on a streaming frame
    (bm25/span-dedup need corpus aggregates — batch/foreachBatch ops by
    design, documented here by exclusion)."""
    from odibi_spark.llm.text import gopher_quality_flags

    src_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(i, "the cat and the dog have been walking with friends today")
         for i in range(6)],
        ["doc_id", "text"],
    ).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src_dir)
    out = gopher_quality_flags(stream, "text", min_words=5)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("gopher_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM gopher_stream").collect()
    assert len(rows) == 6 and all(r.gopher_keep for r in rows)


class TestRemoveDuplicateSpansProperties:
    """Hypothesis invariants for the span-rewrite operator."""

    def test_token_conservation_and_order(self, spark):
        import random

        rng = random.Random(17)
        vocab = [f"w{i}" for i in range(12)]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
            for i in range(25)
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        out = dedup.remove_duplicate_spans(df, ngram=5).collect()
        orig = dict(docs)
        for r in out:
            o_toks = orig[r.doc_id].split(" ")
            # conservation: kept + removed = original word count
            assert r.n_kept_tokens + r.n_removed_tokens == len(o_toks)
            # kept text is a SUBSEQUENCE of the original token stream
            kept = r.text.split(" ") if r.text else []
            it = iter(o_toks)
            assert all(tok in it for tok in kept), (r.doc_id, r.text)

    def test_matches_python_reference_semantics(self, spark):
        """Exact differential check against an independent pure-Python
        replica of the removal semantics (keeper = globally lowest
        (doc_id, start) per duplicated gram; every other occurrence's
        covered positions cut). NOTE: a keeper's own tokens CAN still
        be cut when they overlap a DIFFERENT duplicated gram's removed
        occurrence — inherent to span removal, shared with the
        suffix-array original — so 'keeper text always survives' is
        deliberately NOT asserted."""
        import random
        from collections import defaultdict

        rng = random.Random(5)
        vocab = ["a", "b", "c"]  # tiny vocab -> guaranteed cross-doc dups
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
            for i in range(12)
        ]
        n = 5
        occ = defaultdict(list)
        toks = {i: t.split(" ") for i, t in docs}
        for i, _ in docs:
            for s in range(len(toks[i]) - n + 1):
                occ[" ".join(toks[i][s:s + n])].append((i, s + 1))
        removed = defaultdict(set)
        for g, places in occ.items():
            if len({i for i, _ in places}) >= 2:
                keeper = min(places)
                for i, s in places:
                    if (i, s) != keeper:
                        removed[i].update(range(s, s + n))
        expected = {
            i: " ".join(
                tok for p, tok in enumerate(toks[i], start=1)
                if p not in removed[i]
            )
            for i, _ in docs
        }
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        out = {
            r.doc_id: r.text
            for r in dedup.remove_duplicate_spans(df, ngram=n).collect()
        }
        assert out == expected
        assert any(removed.values())  # the tiny vocab produced real cuts


class TestEpochRepeatSample:
    def _docs(self, spark, n=200):
        return spark.createDataFrame(
            [Row(doc_id=i, lang="en" if i % 2 == 0 else "fr") for i in range(n)]
        )

    def test_whole_epochs_exact_and_fraction_approx(self, spark):
        from odibi_spark.llm.curation import epoch_repeat_sample

        out = epoch_repeat_sample(
            self._docs(spark), factors={"en": 2.5, "fr": 0.0},
            strata_col="lang", key_col="doc_id", seed=1,
        ).collect()
        assert all(r.lang == "en" for r in out)  # fr dropped at factor 0
        per_epoch = {}
        for r in out:
            per_epoch[r.epoch] = per_epoch.get(r.epoch, 0) + 1
        assert per_epoch[0] == 100 and per_epoch[1] == 100  # whole epochs
        assert 20 <= per_epoch.get(2, 0) <= 80  # ~half, hash-deterministic

    def test_default_factor_is_one_epoch(self, spark):
        from odibi_spark.llm.curation import epoch_repeat_sample

        out = epoch_repeat_sample(
            self._docs(spark), factors={"en": 2.0},
            strata_col="lang", key_col="doc_id", seed=1,
        ).collect()
        fr = [r for r in out if r.lang == "fr"]
        assert len(fr) == 100 and all(r.epoch == 0 for r in fr)

    def test_deterministic_and_epochs_independent(self, spark):
        from odibi_spark.llm.curation import epoch_repeat_sample

        a = epoch_repeat_sample(
            self._docs(spark), factors={"en": 1.5, "fr": 1.5},
            strata_col="lang", key_col="doc_id", seed=7,
        )
        b = epoch_repeat_sample(
            self._docs(spark).repartition(7), factors={"en": 1.5, "fr": 1.5},
            strata_col="lang", key_col="doc_id", seed=7,
        )
        ra = sorted((r.doc_id, r.epoch) for r in a.collect())
        assert ra == sorted((r.doc_id, r.epoch) for r in b.collect())

    def test_negative_factor_raises(self, spark):
        import pytest as _pytest

        from odibi_spark.llm.curation import epoch_repeat_sample

        with _pytest.raises(ValueError):
            epoch_repeat_sample(
                self._docs(spark), factors={"en": -1.0},
                strata_col="lang", key_col="doc_id",
            )


class TestRrfFuse:
    def test_fusion_math(self, spark):
        from odibi_spark.llm.similarity import rrf_fuse

        a = spark.createDataFrame(
            [Row(doc_id=1, rank=1), Row(doc_id=2, rank=2)]
        )
        b = spark.createDataFrame(
            [Row(doc_id=2, rank=1), Row(doc_id=3, rank=2)]
        )
        out = {r.doc_id: r for r in rrf_fuse([a, b], k=60).collect()}
        assert out[1].n_rankers == 1
        assert abs(out[1].rrf_score - 1 / 61) < 1e-15
        assert out[2].n_rankers == 2
        assert abs(out[2].rrf_score - (1 / 62 + 1 / 61)) < 1e-15
        # consensus doc 2 outranks either single-ranker doc
        assert out[2].rrf_score > out[1].rrf_score > out[3].rrf_score

    def test_fold_order_fixed(self, spark):
        """Three rankers with ranks arriving in different orders must
        produce identical doubles (sorted-fold bit-stability)."""
        from odibi_spark.llm.similarity import rrf_fuse

        rs = [
            spark.createDataFrame([Row(doc_id=1, rank=r)])
            for r in (7, 3, 11)
        ]
        fwd = rrf_fuse(rs, k=60).collect()[0].rrf_score
        rev = rrf_fuse(list(reversed(rs)), k=60).collect()[0].rrf_score
        assert fwd == rev

    def test_empty_raises(self, spark):
        from odibi_spark.llm.similarity import rrf_fuse

        with pytest.raises(ValueError):
            rrf_fuse([])


def test_rrf_fuse_transform_with_views(spark):
    import odibi_spark.operators  # noqa: F401
    from odibi_spark.context import Context, EngineContext
    from odibi_spark.registry import get_registry

    spark.createDataFrame(
        [Row(doc_id=2, rank=1), Row(doc_id=3, rank=2)]
    ).createOrReplaceTempView("ranker_b")
    a = spark.createDataFrame([Row(doc_id=1, rank=1), Row(doc_id=2, rank=2)])
    ec = get_registry().apply(
        "rrf_fuse",
        EngineContext(Context(spark), a),
        {"ranking_views": ["ranker_b"], "k": 60},
    )
    out = {r.doc_id: r for r in ec.df.collect()}
    assert out[2].n_rankers == 2 and out[1].n_rankers == 1


class TestSourceDivergence:
    def test_identical_strata_score_zero(self, spark):
        from odibi_spark.llm.text import source_divergence

        df = spark.createDataFrame(
            [Row(source=s, text="a b c") for s in ("x", "y") for _ in range(3)]
        )
        out = {r.source: r for r in source_divergence(df).collect()}
        # both strata have the corpus distribution exactly -> KL 0
        assert abs(out["x"].kl_to_corpus) < 1e-9
        assert abs(out["y"].kl_to_corpus) < 1e-9

    def test_divergent_stratum_scores_higher(self, spark):
        import math

        from odibi_spark.llm.text import source_divergence

        df = spark.createDataFrame(
            [Row(source="normal", text="a b c d") for _ in range(5)]
            + [Row(source="weird", text="zzz zzz zzz zzz")]
        )
        out = {r.source: r for r in source_divergence(df).collect()}
        assert out["weird"].kl_to_corpus > out["normal"].kl_to_corpus
        assert out["weird"].kl_to_corpus > 0
        # closed form: weird is all 'zzz', q(zzz) = 4/24
        assert abs(out["weird"].kl_to_corpus - math.log(24 / 4)) < 1e-6
        assert out["weird"].n_tokens == 4
        assert out["weird"].n_distinct_tokens == 1


class TestScrubCards:
    """Luhn-validated payment-card redaction (r11): checksum-gated,
    never shape-only."""

    def _scrub(self, spark, text):
        from odibi_spark.llm.text import scrub_cards

        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        return scrub_cards(df, out_col="clean").first()

    def test_valid_cards_redacted_all_formats(self, spark):
        for t in (
            "pay 4111 1111 1111 1111 now",
            "pay 5500-0000-0000-0004 now",
            "pay 340000000000009 now",          # 15-digit amex
            "pay 6011000000000004 now",
        ):
            r = self._scrub(spark, t)
            assert r.clean == "pay <CARD> now" and r.card_hits == 1, t

    def test_luhn_invalid_survives(self, spark):
        r = self._scrub(spark, "order 4111111111111112 shipped")
        assert r.clean == "order 4111111111111112 shipped"
        assert r.card_hits == 0

    def test_short_digit_runs_survive(self, spark):
        r = self._scrub(spark, "call 555-123-4567 ref 123456789012")
        assert r.card_hits == 0 and "555-123-4567" in r.clean

    def test_multiple_and_duplicate_occurrences(self, spark):
        r = self._scrub(
            spark,
            "a 4111111111111111 b 340000000000009 c 4111111111111111",
        )
        assert r.clean == "a <CARD> b <CARD> c <CARD>"
        assert r.card_hits == 3

    def test_python_differential(self, spark):
        """Luhn fold vs the textbook Python implementation over a
        digit sweep (candidate = 15 fixed digits + trial check)."""
        from odibi_spark.llm.text import scrub_cards

        def luhn_ok(d):
            s = 0
            for i, ch in enumerate(reversed(d)):
                v = int(ch)
                s += (2 * v - 9 if v > 4 else 2 * v) if i % 2 == 1 else v
            return s % 10 == 0

        base = "401288888888188"
        texts = [(k, f"pay {base}{k} now") for k in range(10)]
        df = spark.createDataFrame(texts, "doc_id int, text string")
        out = {r.doc_id: r.card_hits
               for r in scrub_cards(df, out_col="c").collect()}
        want = {k: int(luhn_ok(f"{base}{k}")) for k in range(10)}
        assert out == want and sum(want.values()) == 1


class TestRemoveJunkLines:
    """RefinedWeb rule-based line corrections (r11)."""

    def _run(self, spark, text, **kw):
        from odibi_spark.llm.text import remove_junk_lines

        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        return remove_junk_lines(df, out_col="clean", **kw).first()

    def test_each_rule_fires(self, spark):
        r = self._run(
            spark,
            "A good line stays here.\n17 likes\n#### ----\n99 1234\nab",
        )
        assert r.clean == "A good line stays here."
        assert r.n_kept_lines == 1 and r.n_junk_lines == 4

    def test_counters_case_insensitive_and_plural(self, spark):
        r = self._run(spark, "keep this line\n3 Comments\n1 view")
        assert r.clean == "keep this line"

    def test_mixed_numeric_below_threshold_kept(self, spark):
        # "born in 1984 in Ohio" — digits are a minority of non-space
        r = self._run(spark, "born in 1984 in Ohio\nkeep")
        assert "born in 1984 in Ohio" in r.clean

    def test_thresholds_configurable(self, spark):
        strict = self._run(spark, "a1 b2 c3 keep\nxx", max_numeric_ratio=0.1)
        assert strict.n_kept_lines == 0  # 3/10 digits > 0.1
        loose = self._run(spark, "a1 b2 c3 keep\nxx", max_numeric_ratio=0.9)
        assert loose.n_kept_lines == 1

    def test_all_junk_doc_survives_empty(self, spark):
        r = self._run(spark, "42\n###")
        assert r.clean == "" and r.n_kept_lines == 0

    def test_unicode_letters_not_punctuation(self, spark):
        # Cyrillic/CJK letters must count as letters (\p{L}), not punct
        r = self._run(spark, "привет мир это строка\n你好 世界 这 是 文字\n###")
        assert r.n_kept_lines == 2


def test_r11_transforms_registered():
    """Every r11 operator is reachable from the YAML surface."""
    import odibi_spark.operators  # noqa: F401 (registration side effects)
    import odibi_spark.llm  # noqa: F401

    from odibi_spark.registry import get_registry

    names = set(get_registry().list())
    assert {
        "url_normalize", "registered_domain", "filter_blocked_domains",
        "dedup_by_url", "domain_rollup", "bpe_train", "bpe_segment",
        "quality_classifier", "scrub_cards", "line_corrections",
    } <= names


class TestStripHtml:
    def _strip(self, spark, text):
        from odibi_spark.llm.text import strip_html

        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        return strip_html(df, out_col="clean").first()

    def test_tags_comments_blocks_removed(self, spark):
        r = self._strip(
            spark,
            '<html><style>p{}</style><!-- c --><p a="1">Hi <b>x</b></p>'
            '<script>var s="<div>";</script>done</html>',
        )
        assert r.clean == "Hi x done"
        assert r.html_tag_count > 0

    def test_entities_standard_decode_order(self, spark):
        # &amp; decodes LAST: double-escaped text stays single-escaped
        r = self._strip(spark, "a &amp;lt; b &lt; c &nbsp;&quot;&#39;")
        assert r.clean == "a &lt; b < c \"'"

    def test_plain_text_untouched(self, spark):
        r = self._strip(spark, "no markup, just   spaced text")
        assert r.clean == "no markup, just spaced text"
        assert r.html_tag_count == 0

    def test_multiline_blocks(self, spark):
        r = self._strip(
            spark, "<script>\nline1\nline2</script>keep\n<!--\nhidden\n-->",
        )
        assert r.clean == "keep"


class TestDedupClustersByQuality:
    def test_best_quality_survives_per_cluster(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.dedup import dedup_clusters_by_quality

        docs = spark.createDataFrame([
            Row(doc_id=1, quality=0.3), Row(doc_id=2, quality=0.9),
            Row(doc_id=3, quality=0.9), Row(doc_id=4, quality=0.1),
            Row(doc_id=9, quality=0.5),
        ])
        pairs = spark.createDataFrame(
            [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=4, id_b=1)]
        )
        out = {r.doc_id: r.cluster_id
               for r in dedup_clusters_by_quality(docs, pairs).collect()}
        # chain 1-2-3-4 is ONE cluster; keeper = highest quality,
        # tie broken by lowest id (2 beats 3); singleton 9 survives
        assert out == {2: 1, 9: 9}

    def test_singletons_always_survive(self, spark):
        from pyspark.sql import Row

        from odibi_spark.llm.dedup import dedup_clusters_by_quality

        docs = spark.createDataFrame(
            [Row(doc_id=i, quality=float(i)) for i in range(5)]
        )
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert dedup_clusters_by_quality(docs, pairs).count() == 5


class TestStripHtmlSinglePass:
    def test_decoded_entities_not_restripped(self, spark):
        """Single-pass semantics (the classic sanitizer bug is
        re-stripping after decode): '&lt;div&gt;' becomes the literal
        text '<div>' and MUST survive — it was escaped content, not
        markup."""
        from odibi_spark.llm.text import strip_html

        df = spark.createDataFrame(
            [(1, "<p>say &lt;div&gt; aloud</p>")],
            "doc_id int, text string",
        )
        r = strip_html(df, out_col="clean").first()
        assert r.clean == "say <div> aloud"


class TestQualityKeeperVsMinId:
    def test_same_clusters_different_keeper_rule(self, spark):
        """dedup_clusters (min-id) and dedup_clusters_by_quality agree
        on survivor COUNT (one per cluster) and on cluster membership;
        only the elected representative differs."""
        from pyspark.sql import Row

        from odibi_spark.llm.dedup import (
            dedup_clusters, dedup_clusters_by_quality,
        )

        docs = spark.createDataFrame(
            [Row(doc_id=i, text=f"t{i}", quality=float(10 - i))
             for i in range(8)]
        )
        pairs = spark.createDataFrame(
            [Row(id_a=0, id_b=1), Row(id_a=2, id_b=3), Row(id_a=3, id_b=4)]
        )
        by_id = dedup_clusters(docs, pairs)
        by_q = dedup_clusters_by_quality(docs, pairs, quality_col="quality")
        assert by_id.count() == by_q.count() == 5  # 2 clusters + 3 singles
        # min-id keeps {0, 2}; quality (=10-i, higher for LOWER i)
        # also keeps {0, 2} here — flip the quality to invert
        flipped = docs.withColumn("quality", docs.doc_id.cast("double"))
        inv = dedup_clusters_by_quality(flipped, pairs, quality_col="quality")
        kept = {r.doc_id for r in inv.collect()}
        assert {1, 4} <= kept and 0 not in kept and 2 not in kept


class TestKnBigramScores:
    """Interpolated Kneser-Ney bigram LM (r12)."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        return spark.createDataFrame([
            Row(doc_id=1, text="a b a b a c"),
            Row(doc_id=2, text="a b a b"),
            Row(doc_id=3, text="c a b"),
            Row(doc_id=4, text="solo"),          # 1 token -> no bigrams
            Row(doc_id=5, text="  "),            # empty after trim
        ])

    def test_python_differential(self, corpus):
        """avg_nll must equal a pure-Python replay of the KN formula."""
        import math

        texts = {1: "a b a b a c", 2: "a b a b", 3: "c a b"}
        bgs = {}
        doc_bgs = {}
        for did, t in texts.items():
            toks = [w for w in t.split(" ") if w]
            pairs = list(zip(toks, toks[1:]))
            doc_bgs[did] = pairs
            for p in pairs:
                bgs[p] = bgs.get(p, 0) + 1
        c1, n_post, n_pre = {}, {}, {}
        for (w1, w2), c in bgs.items():
            c1[w1] = c1.get(w1, 0) + c
            n_post[w1] = n_post.get(w1, 0) + 1
            n_pre[w2] = n_pre.get(w2, 0) + 1
        n_types = len(bgs)
        want = {}
        for did, pairs in doc_bgs.items():
            nlls = []
            for w1, w2 in pairs:
                p = (max(bgs[(w1, w2)] - 0.75, 0.0) / c1[w1]) + (
                    (0.75 * n_post[w1]) / c1[w1]
                ) * (n_pre[w2] / n_types)
                nlls.append(round(-math.log(p), 6))
            want[did] = round(sum(nlls), 6) / len(nlls)
        got = {
            r["doc_id"]: r
            for r in text.kn_bigram_scores(corpus).collect()
        }
        for did, avg in want.items():
            assert got[did]["avg_nll"] == pytest.approx(avg, abs=1e-9)
            assert got[did]["n_bigrams"] == len(doc_bgs[did])

    def test_short_docs_flagged_not_guessed(self, corpus):
        got = {r["doc_id"]: r for r in text.kn_bigram_scores(corpus).collect()}
        assert len(got) == 5
        for did in (4, 5):
            assert got[did]["n_bigrams"] == 0
            assert got[did]["avg_nll"] is None
            assert got[did]["ppl"] is None

    def test_context_probabilities_sum_to_one(self, spark, corpus):
        """Interpolated KN is a proper distribution: for a seen context
        w1, sum over the continuation vocabulary of P(w2|w1) == 1."""
        import math

        texts = ["a b a b a c", "a b a b", "c a b"]
        bgs = {}
        for t in texts:
            toks = [w for w in t.split(" ") if w]
            for p in zip(toks, toks[1:]):
                bgs[p] = bgs.get(p, 0) + 1
        c1, n_post, n_pre = {}, {}, {}
        for (w1, w2), c in bgs.items():
            c1[w1] = c1.get(w1, 0) + c
            n_post[w1] = n_post.get(w1, 0) + 1
            n_pre[w2] = n_pre.get(w2, 0) + 1
        n_types = len(bgs)
        vocab_w2 = set(n_pre)
        for w1 in c1:
            total = 0.0
            for w2 in vocab_w2:
                c12 = bgs.get((w1, w2), 0)
                total += (max(c12 - 0.75, 0.0) / c1[w1]) + (
                    (0.75 * n_post[w1]) / c1[w1]
                ) * (n_pre[w2] / n_types)
            assert math.isclose(total, 1.0, abs_tol=1e-12), (w1, total)


class TestDsirHashed:
    """Hashed-feature DSIR importance + Gumbel top-k (r12)."""

    @pytest.fixture(scope="class")
    def frames(self, spark):
        target = spark.createDataFrame([
            Row(doc_id=100 + i, text="physics quantum energy field theory")
            for i in range(3)
        ])
        raw = spark.createDataFrame(
            [Row(doc_id=1, text="physics quantum energy field theory"),
             Row(doc_id=2, text="quantum field energy physics notes"),
             Row(doc_id=3, text="cheap pills buy now discount offer"),
             Row(doc_id=4, text="celebrity gossip shocking photos today"),
             Row(doc_id=5, text="")]
        )
        return raw, target

    def test_target_like_docs_weigh_more(self, frames):
        from odibi_spark.llm import curation

        raw, target = frames
        got = {
            r["doc_id"]: r["dsir_logw"]
            for r in curation.dsir_importance(raw, target).collect()
        }
        assert got[5] is None  # no tokens -> NULL, not a guess
        assert got[1] > got[3] and got[1] > got[4]
        assert got[2] > got[3]

    def test_inline_and_broadcast_paths_agree(self, frames):
        from odibi_spark.llm import curation

        raw, target = frames
        a = {
            r["doc_id"]: r["dsir_logw"]
            for r in curation.dsir_importance(raw, target).collect()
        }
        b = {
            r["doc_id"]: r["dsir_logw"]
            for r in curation.dsir_importance(
                raw, target, inline_limit=0
            ).collect()
        }
        assert a == b

    def test_gumbel_topk_deterministic_and_k(self, frames):
        from odibi_spark.llm import curation

        raw, target = frames
        scored = curation.dsir_importance(raw, target)
        one = [r["doc_id"] for r in curation.dsir_gumbel_topk(scored, 2).collect()]
        two = [r["doc_id"] for r in curation.dsir_gumbel_topk(scored, 2).collect()]
        assert one == two and len(one) == 2
        with pytest.raises(ValueError):
            curation.dsir_gumbel_topk(scored, 0)


class TestAudioAhash:
    """Perceptual audio hash (r12): WAV decode -> energy dHash."""

    def test_near_dup_close_distinct_far(self, spark):
        from odibi_spark.llm.dedup import hash64_near_pairs
        from odibi_spark.llm.multimodal import audio_ahash, synth_wav_pcm16

        def pattern(g, n=1700):
            return [(g * 131 + i * i * (g % 5 + 2)) % 2048 for i in range(n)]

        a = pattern(3)
        a2 = list(a)
        a2[400] += 4096              # near dup: one perturbed sample
        b = pattern(11)              # different pattern
        df = spark.createDataFrame(
            [(1, synth_wav_pcm16(a)), (2, synth_wav_pcm16(a2)),
             (3, synth_wav_pcm16(b))],
            "media_id long, payload binary",
        )
        hashes = audio_ahash(df, "payload", "media_id")
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in hash64_near_pairs(
                hashes, "media_id", "ahash", max_hamming=4
            ).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] <= 4
        assert (1, 3) not in pairs

    def test_undecodable_payloads_null_not_fatal(self, spark):
        from odibi_spark.llm.multimodal import audio_ahash, synth_wav_pcm16
        import io
        import struct
        import wave

        buf = io.BytesIO()                       # stereo: rejected
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(16000)
            w.writeframes(struct.pack("<200h", *([5] * 200)))
        good = synth_wav_pcm16([(i * 13) % 999 for i in range(1700)])
        df = spark.createDataFrame(
            [(1, good), (2, b"not audio at all"), (3, buf.getvalue())],
            "media_id long, payload binary",
        )
        rows = {r["media_id"]: r for r in audio_ahash(df).collect()}
        assert rows[1]["ahash"] is not None
        assert rows[2]["ahash"] is None and rows[3]["ahash"] is None

    def test_too_few_samples_raises(self):
        from odibi_spark.llm.multimodal import ahash64_from_samples

        with pytest.raises(ValueError):
            ahash64_from_samples([1] * 64)

    def test_sign_bit_convention(self):
        from odibi_spark.llm.multimodal import ahash64_from_samples

        # strictly increasing energy profile -> every diff bit set,
        # including bit 63 -> negative BIGINT (image dhash convention)
        samples = [i * 15 for i in range(1300)]
        h = ahash64_from_samples(samples)
        assert h == -1


def test_r12_transforms_registered():
    """Every r12 operator is reachable from the YAML surface."""
    import odibi_spark.operators  # noqa: F401 (registration side effects)
    import odibi_spark.llm  # noqa: F401

    from odibi_spark.registry import get_registry

    names = set(get_registry().list())
    assert {
        "kn_perplexity", "dsir_hashed_select", "audio_ahash",
        "quality_classifier_train",
    } <= names


class TestVideoDhash:
    """Perceptual video dedup (r12): DIB-AVI decode -> frame dHash ->
    set Jaccard."""

    def test_roundtrip_and_geometry_guard(self):
        from odibi_spark.llm.multimodal import (
            decode_avi_dib_frames, synth_avi_dib,
        )

        f1 = [[(x * 7 + y * 3) % 256 for x in range(18)] for y in range(16)]
        f2 = [[(v + 9) % 256 for v in row] for row in f1]
        assert decode_avi_dib_frames(synth_avi_dib([f1, f2])) == [f1, f2]
        with pytest.raises(ValueError):
            synth_avi_dib([f1, [[0] * 4] * 4])  # mixed geometry
        with pytest.raises(ValueError):
            decode_avi_dib_frames(b"RIFF\x00\x00\x00\x00AVI ")  # no avih

    def test_mid_chunk_truncation_is_valueerror_not_indexerror(self):
        # ADVICE r12: a payload cut mid-chunk keeps the DECLARED size
        # plausible (size >= row_size*height) but the pixel loop would
        # read past len(payload) -> IndexError, which is not in
        # video_frame_dhashes' except tuple and would kill the task.
        # The bounds check must surface it as ValueError instead.
        from odibi_spark.llm.multimodal import (
            decode_avi_dib_frames, synth_avi_dib,
        )

        f1 = [[(x * 5 + y) % 256 for x in range(18)] for y in range(16)]
        payload = synth_avi_dib([f1])
        truncated = payload[:-40]  # cut inside the 00db pixel body
        with pytest.raises(ValueError):
            decode_avi_dib_frames(truncated)

    def test_one_frame_edit_is_near_dup(self, spark):
        from odibi_spark.llm.multimodal import (
            synth_avi_dib, video_frame_dhashes, video_neardup_pairs,
        )

        def frame(g, f):
            return [
                [(g * 37 + f * 53 + x * x * (g % 7 + 2)
                  + y * y * (g % 11 + 3)) % 256 for x in range(18)]
                for y in range(16)
            ]

        base = [frame(5, f) for f in range(4)]
        edited = [list(map(list, fr)) for fr in base]
        edited[2][7][11] = (edited[2][7][11] + 128) % 256
        other = [frame(9, f) for f in range(4)]
        df = spark.createDataFrame(
            [(1, synth_avi_dib(base)), (2, synth_avi_dib(edited)),
             (3, synth_avi_dib(other)), (4, b"junk bytes")],
            "media_id long, payload binary",
        )
        hashes = video_frame_dhashes(df)
        rows = hashes.collect()
        assert {r["media_id"] for r in rows} == {1, 2, 3, 4}
        assert all(
            r["dhash"] is None for r in rows if r["media_id"] == 4
        )  # undecodable -> NULL row, not fatal
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in video_neardup_pairs(hashes, threshold=0.45).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] >= 0.45
        assert not any(3 in p or 4 in p for p in pairs)


class TestKnTrigramScores:
    """Interpolated Kneser-Ney trigram LM (r12): full backoff chain."""

    def test_python_differential(self, spark):
        import math

        texts = {1: "a b c a b c a d", 2: "a b c d", 3: "b c a b"}
        corpus = spark.createDataFrame(
            [Row(doc_id=k, text=v) for k, v in texts.items()]
            + [Row(doc_id=4, text="x y")]  # < 3 tokens -> no trigrams
        )
        tri, doc_tri = {}, {}
        for did, t in texts.items():
            toks = t.split(" ")
            trips = list(zip(toks, toks[1:], toks[2:]))
            doc_tri[did] = trips
            for g in trips:
                tri[g] = tri.get(g, 0) + 1
        c12, npost12, npre23 = {}, {}, {}
        for (w1, w2, w3), c in tri.items():
            c12[(w1, w2)] = c12.get((w1, w2), 0) + c
            npost12[(w1, w2)] = npost12.get((w1, w2), 0) + 1
            npre23[(w2, w3)] = npre23.get((w2, w3), 0) + 1
        nmid2, npost2, npre3 = {}, {}, {}
        for (w2, w3), c in npre23.items():
            nmid2[w2] = nmid2.get(w2, 0) + c
            npost2[w2] = npost2.get(w2, 0) + 1
            npre3[w3] = npre3.get(w3, 0) + 1
        n2 = len(npre23)
        D = 0.75
        want = {}
        for did, trips in doc_tri.items():
            nlls = []
            for w1, w2, w3 in trips:
                p1 = npre3[w3] / n2
                p2 = (max(npre23[(w2, w3)] - D, 0.0) / nmid2[w2]) + (
                    (D * npost2[w2]) / nmid2[w2]
                ) * p1
                p3 = (max(tri[(w1, w2, w3)] - D, 0.0) / c12[(w1, w2)]) + (
                    (D * npost12[(w1, w2)]) / c12[(w1, w2)]
                ) * p2
                nlls.append(round(-math.log(p3), 6))
            want[did] = round(sum(nlls), 6) / len(nlls)
        got = {
            r["doc_id"]: r
            for r in text.kn_trigram_scores(corpus).collect()
        }
        for did, avg in want.items():
            assert got[did]["avg_nll"] == pytest.approx(avg, abs=1e-9)
            assert got[did]["n_trigrams"] == len(doc_tri[did])
        assert got[4]["n_trigrams"] == 0 and got[4]["avg_nll"] is None

    def test_trigram_model_discriminates(self, spark):
        """A doc repeating the corpus's dominant phrase must score a
        LOWER perplexity than one with the same words scrambled."""
        common = "the quick brown fox jumps over the lazy dog"
        corpus = spark.createDataFrame(
            [Row(doc_id=i, text=common) for i in range(5)]
            + [Row(doc_id=99, text="dog the over fox lazy quick jumps brown the")]
        )
        got = {r["doc_id"]: r["ppl"] for r in text.kn_trigram_scores(corpus).collect()}
        assert got[0] < got[99]
