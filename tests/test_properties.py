"""Property-based tests (hypothesis) — the reference has no randomized
testing (SURVEY §5); these pin the invariants that matter at scale.

max_examples is kept small: each example spins Spark jobs.
"""

import datetime

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from odibi_spark.operators.temporal_join import asof_join_frames
from odibi_spark.patterns.dimension import build_dimension
from odibi_spark.patterns.scd2 import scd2_apply

BASE = datetime.datetime(2024, 1, 1)

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@st.composite
def intervals(draw):
    n = draw(st.integers(1, 12))
    out = []
    for i in range(n):
        start_min = draw(st.integers(0, 5000))
        dur_min = draw(st.integers(1, 4000))
        out.append((i, BASE + datetime.timedelta(minutes=start_min),
                    BASE + datetime.timedelta(minutes=start_min + dur_min)))
    return out


@given(intervals())
@settings(**SETTINGS)
def test_split_events_preserves_total_duration(spark, ivs):
    """Splitting an event at day boundaries must conserve its duration."""
    from odibi_spark import Context, EngineContext
    from odibi_spark.operators.window import split_events_by_period
    from pyspark.sql import functions as F

    df = spark.createDataFrame(ivs, "event_id int, s timestamp, e timestamp")
    ec = EngineContext(Context(spark), df)
    out = split_events_by_period(
        ec, start_column="s", end_column="e", period="day"
    ).df
    got = {
        r.event_id: r.total
        for r in out.groupBy("event_id").agg(F.sum("duration_minutes").alias("total")).collect()
    }
    for eid, s, e in ivs:
        want = (e - s).total_seconds() / 60.0
        assert got[eid] == pytest.approx(want, abs=1e-6)


@st.composite
def asof_case(draw):
    n_l = draw(st.integers(1, 15))
    n_r = draw(st.integers(0, 15))
    lt = sorted(draw(st.lists(st.integers(0, 10000), min_size=n_l, max_size=n_l)))
    rt = sorted(
        set(draw(st.lists(st.integers(0, 10000), min_size=n_r, max_size=n_r)))
    )
    return lt, rt


@given(asof_case())
@settings(**SETTINGS)
def test_asof_matches_pandas_merge_asof(spark, case):
    lt, rt = case
    left = spark.createDataFrame(
        [(i, BASE + datetime.timedelta(seconds=t)) for i, t in enumerate(lt)],
        "lid int, t timestamp",
    )
    right = spark.createDataFrame(
        [(100 + i, BASE + datetime.timedelta(seconds=t)) for i, t in enumerate(rt)],
        "rid int, t timestamp",
    ) if rt else spark.createDataFrame([], "rid int, t timestamp")
    got = (
        asof_join_frames(left, right, on="t")
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    lp = left.toPandas().sort_values("t")
    rp = right.toPandas().sort_values("t").rename(columns={"rid": "r_rid", "t": "r_t"})
    exp = pd.merge_asof(lp, rp, left_on="t", right_on="r_t").sort_values("lid").reset_index(drop=True)
    norm = lambda s: [None if pd.isna(v) else int(v) for v in s]  # noqa: E731
    assert norm(got["r_rid"]) == norm(exp["r_rid"])


@st.composite
def scd2_batches(draw):
    keys = list(range(draw(st.integers(1, 6))))
    n_batches = draw(st.integers(1, 4))
    batches = []
    current: dict[int, str] = {}
    for b in range(n_batches):
        batch = []
        for k in keys:
            if draw(st.booleans()):
                v = draw(st.sampled_from(["A", "B", "C"]))
                batch.append((k, v, b))
                # at-least-once landing: the same row again, or the key's
                # current value next to its change
                if draw(st.booleans()):
                    batch.append((k, v, b))
                if k in current and draw(st.booleans()):
                    batch.append((k, current[k], b))
                current[k] = v
        if batch:
            batches.append(batch)
    return batches


@given(scd2_batches())
@settings(**SETTINGS)
def test_scd2_invariants_over_random_batches(spark, tmp_path_factory, batches):
    """After any batch sequence, including keys repeated within a batch:
    <= 1 current row per key; one version per change; every closed row
    has valid_to == some later version's valid_from for that key.
    Both through scd2_apply and through build_dimension(scd="2"), whose
    surrogate keys are one per natural key, kept across batches, unique
    across keys, and previous max + 1..n for new keys in key order."""
    import uuid

    root = tmp_path_factory.mktemp("scd2prop")
    p = str(root / f"dim_{uuid.uuid4().hex[:8]}")
    p_sk = str(root / f"skdim_{uuid.uuid4().hex[:8]}")
    dim = sk_dim = None
    sk_of: dict[int, int] = {}
    for b, batch in enumerate(batches):
        df = spark.createDataFrame(
            [(k, v, BASE + datetime.timedelta(days=b)) for k, v, _ in batch],
            "k int, v string, at timestamp",
        )
        dim = scd2_apply(
            spark, df, target_path=p, keys=["k"], track_cols=["v"],
            effective_time_col="at",
        )
        sk_dim = build_dimension(
            spark, df, target_path=p_sk, natural_keys=["k"], surrogate_key="sk",
            scd="2", track_cols=["v"], effective_time_col="at",
        )
        sks: dict[int, set] = {}
        for r in sk_dim.collect():
            sks.setdefault(r.k, set()).add(r.sk)
        assert all(len(s) == 1 for s in sks.values()), f"batch {b}: {sks}"
        now = {k: s.pop() for k, s in sks.items()}
        assert len(set(now.values())) == len(now), f"batch {b}: SKs shared by keys"
        assert all(now[k] == sk for k, sk in sk_of.items()), f"batch {b}: SK moved"
        new_keys = sorted(set(now) - set(sk_of))
        first = max(sk_of.values(), default=0) + 1
        assert [now[k] for k in new_keys] == list(range(first, first + len(new_keys)))
        sk_of = now
    if dim is None:
        return
    # one version per change: a repeated row or a key's unchanged value
    # next to its change adds none
    want, now_v = [], {}
    for b, batch in enumerate(batches):
        for k in dict.fromkeys(k for k, _, _ in batch):
            for v in {v for kk, v, _ in batch if kk == k} - {now_v.get(k)}:
                want.append((k, v, BASE + datetime.timedelta(days=b)))
                now_v[k] = v
    for out in (dim, sk_dim):
        rows = out.collect()
        _assert_scd2_invariants(rows)
        assert sorted((r.k, r.v, r.valid_from) for r in rows) == sorted(want)


def _assert_scd2_invariants(rows) -> None:
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)
    for k, versions in by_key.items():
        current = [r for r in versions if r.is_current]
        assert len(current) == 1, f"key {k}: {len(current)} current rows"
        assert current[0].valid_to is None
        closed = sorted((r for r in versions if not r.is_current), key=lambda r: r.valid_from)
        for r in closed:
            assert r.valid_to is not None and r.valid_from <= r.valid_to
        # version chain: closed valid_to values appear as later valid_from
        starts = {r.valid_from for r in versions}
        for r in closed:
            assert r.valid_to in starts, f"key {k}: broken chain at {r.valid_to}"


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100000)), min_size=1, max_size=30
    )
)
@settings(**SETTINGS)
def test_sessionize_counts_match_pandas(spark, events):
    """Session count per user == 1 + number of gaps > threshold."""
    from odibi_spark import Context, EngineContext
    from odibi_spark.operators.window import sessionize

    df = spark.createDataFrame(
        [
            (i, u, BASE + datetime.timedelta(seconds=t))
            for i, (u, t) in enumerate(events)
        ],
        "eid int, uid int, ts timestamp",
    )
    out = sessionize(
        EngineContext(Context(spark), df),
        partition_by=["uid"], timestamp_column="ts", gap_minutes=30.0,
        tiebreak_columns=["eid"],
    ).df
    got = (
        out.select("uid", "session_id").distinct().groupBy("uid").count().collect()
    )
    got_counts = {r.uid: r["count"] for r in got}
    pdf = pd.DataFrame(events, columns=["uid", "t"]).sort_values(["uid", "t"])
    for uid, grp in pdf.groupby("uid"):
        gaps = (grp["t"].diff() > 1800).sum()
        assert got_counts[uid] == gaps + 1


class TestCurationProperties:
    """Invariants of the curation/sequence-prep operators."""

    @given(
        words=st.integers(1, 60),
        chunk=st.integers(2, 20),
        overlap=st.integers(0, 10),
    )
    @settings(**SETTINGS)
    def test_chunking_covers_every_word_with_exact_overlap(
        self, spark, words, chunk, overlap
    ):
        from odibi_spark.llm.chunking import chunk_documents

        overlap = min(overlap, chunk - 1)
        text = " ".join(f"w{i}" for i in range(words))
        df = spark.createDataFrame([Row(doc_id=1, text=text)])
        got = (
            chunk_documents(df, chunk_words=chunk, overlap=overlap)
            .orderBy("chunk_idx").collect()
        )
        seen = [w for r in got for w in r.chunk_text.split(" ")]
        # every word covered, in order, with consecutive chunks sharing
        # exactly `overlap` words (except a possibly-short tail)
        assert set(seen) == {f"w{i}" for i in range(words)}
        stride = chunk - overlap
        for i, r in enumerate(got):
            assert r.chunk_text.split(" ")[0] == f"w{i * stride}"
        # no chunk exceeds the window
        assert all(r.chunk_n_words <= chunk for r in got)

    @given(
        toks=st.lists(st.integers(1, 300), min_size=1, max_size=20),
        ctx=st.integers(16, 128),
    )
    @settings(**SETTINGS)
    def test_packing_conserves_tokens_and_orders_offsets(self, spark, toks, ctx):
        from odibi_spark.llm.chunking import pack_sequences

        df = spark.createDataFrame(
            [Row(doc_id=i, toks=t) for i, t in enumerate(toks)]
        )
        got = pack_sequences(
            df, ctx, token_col="toks", order_col="doc_id", id_col="doc_id"
        ).orderBy("doc_id").collect()
        # offsets always inside the window
        assert all(0 <= r.pack_offset < ctx for r in got)
        # pack_id sequence is the running-total arithmetic, monotone
        assert all(
            got[i].pack_id <= got[i + 1].pack_id for i in range(len(got) - 1)
        )
        # spans match the token mass: last doc's end position equals total
        total = sum(toks)
        last = got[-1]
        assert last.pack_id * ctx + last.pack_offset + toks[-1] == total

    @given(
        frac_small=st.floats(0.05, 0.5),
        frac_extra=st.floats(0.05, 0.4),
        seed=st.integers(0, 10),
    )
    @settings(**SETTINGS)
    def test_hash_samples_are_nested(self, spark, frac_small, frac_extra, seed):
        """sample(p1) is a SUBSET of sample(p2) for p1 < p2 at the same
        seed — the property RNG sampling cannot give, and the reason
        deterministic hash sampling is right for reproducible curation."""
        from odibi_spark.llm.curation import hash_sample

        df = spark.range(400).withColumnRenamed("id", "k")
        small = {r.k for r in hash_sample(df, frac_small, key_col="k", seed=seed).collect()}
        big = {
            r.k
            for r in hash_sample(
                df, frac_small + frac_extra, key_col="k", seed=seed
            ).collect()
        }
        assert small <= big


class TestLayoutProperties:
    @given(
        xs=st.lists(
            st.tuples(st.integers(0, 255), st.integers(0, 255)),
            min_size=1, max_size=40,
        )
    )
    @settings(**SETTINGS)
    def test_morton_interleave_is_a_bijection(self, spark, xs):
        """De-interleaving the Morton key recovers the exact bucket
        pair — no bit is lost or aliased for any 8-bit input."""
        from pyspark.sql import functions as F

        from odibi_spark.operators.layout import interleave_bits

        df = spark.createDataFrame(xs, ["x", "y"])
        rows = df.withColumn(
            "z", interleave_bits([F.col("x"), F.col("y")], bits=8)
        ).collect()
        for r in rows:
            x = sum(((r.z >> (i * 2)) & 1) << i for i in range(8))
            y = sum(((r.z >> (i * 2 + 1)) & 1) << i for i in range(8))
            assert (x, y) == (r.x, r.y)

    @given(
        rate_small=st.floats(1e-5, 5e-3),
        rate_extra=st.floats(1e-5, 5e-3),
        seed=st.integers(0, 10),
    )
    @settings(**SETTINGS)
    def test_pps_samples_are_nested_in_rate(self, spark, rate_small, rate_extra, seed):
        """Raising the PPS rate only ADDS rows (same hash unit, larger
        threshold) — reproducible corpus growth, like hash_sample."""
        from pyspark.sql import functions as F

        from odibi_spark.llm.curation import pps_sample

        df = spark.range(300).selectExpr("id AS k", "id % 97 + 1 AS w")
        small = {
            r.k for r in pps_sample(
                df, rate_small, weight_col="w", key_col="k", seed=seed
            ).collect()
        }
        big = {
            r.k for r in pps_sample(
                df, rate_small + rate_extra, weight_col="w", key_col="k",
                seed=seed,
            ).collect()
        }
        assert small <= big

    @given(
        n_users=st.integers(1, 6),
        n_events=st.integers(1, 30),
        n_types=st.integers(1, 4),
        seed=st.integers(0, 5),
    )
    @settings(**SETTINGS)
    def test_transition_counts_conserve_rows(
        self, spark, n_users, n_events, n_types, seed
    ):
        """Sum of n_transitions = rows - groups without a terminal
        label, and = rows with one; probabilities sum to 1 per
        from_type."""
        import random

        from odibi_spark.operators.analytics import transition_matrix_frames

        rng = random.Random(seed)
        rows = [
            (f"u{rng.randrange(n_users)}", i, f"t{rng.randrange(n_types)}")
            for i in range(n_events)
        ]
        df = spark.createDataFrame(rows, ["u", "ts", "t"])
        n_groups = len({r[0] for r in rows})
        with_term = transition_matrix_frames(
            df, group_by=["u"], ts_col="ts", type_col="t",
            tiebreak_cols=["ts"], terminal_label="<end>",
        ).collect()
        assert sum(r.n_transitions for r in with_term) == n_events
        from collections import defaultdict

        sums = defaultdict(float)
        for r in with_term:
            sums[r.from_type] += r.p_transition
        assert all(abs(s - 1.0) < 1e-9 for s in sums.values())
        without = transition_matrix_frames(
            df, group_by=["u"], ts_col="ts", type_col="t",
            tiebreak_cols=["ts"],
        ).collect()
        assert sum(r.n_transitions for r in without) == n_events - n_groups


@st.composite
def rank_rows(draw):
    n = draw(st.integers(1, 60))
    keys = draw(
        st.lists(st.integers(0, 9), min_size=n, max_size=n)
    )
    return [(i, keys[i]) for i in range(n)]


@given(rank_rows(), st.integers(2, 9))
@settings(**SETTINGS)
def test_global_ranks_matches_plain_window(spark, rows, buckets):
    """Distributed two-pass global rank == the plain unpartitioned
    window for every rank-family function, on arbitrary tie-heavy
    data — the invariant that lets the scale path substitute for the
    single-partition window."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from odibi_spark.operators.rank import global_ranks

    df = spark.createDataFrame(rows, "id LONG, k LONG").repartition(5)
    got = global_ranks(
        df, order_by=["k", "id"],
        columns={
            "rn": {"function": "row_number"},
            "rk": {"function": "rank"},
            "dr": {"function": "dense_rank"},
            "pr": {"function": "percent_rank"},
            "cd": {"function": "cume_dist"},
            "nt": {"function": "ntile", "buckets": buckets},
        },
    )
    w = Window.orderBy(F.asc("k"), F.asc("id"))
    want = (
        df.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("rk", F.rank().over(w).cast("long"))
        .withColumn("dr", F.dense_rank().over(w).cast("long"))
        .withColumn("pr", F.percent_rank().over(w))
        .withColumn("cd", F.cume_dist().over(w))
        .withColumn("nt", F.ntile(buckets).over(w))
    )
    cols = ["id", "rn", "rk", "dr", "pr", "cd", "nt"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.sampled_from(["a", "b", "c"])),
        min_size=0, max_size=40, unique_by=lambda t: t[0],
    ),
    st.integers(0, 6),
)
@settings(**SETTINGS)
def test_sample_k_per_group_count_and_determinism(spark, rows, k):
    """Exact-k per group: each group yields min(k, group size) rows,
    and the selection is identical under any repartitioning."""
    from odibi_spark.llm.curation import sample_k_per_group

    df = spark.createDataFrame(rows, "id LONG, g STRING")
    out1 = sample_k_per_group(df, k, group_col="g", key_col="id")
    got1 = sorted((r.g, r.id) for r in out1.collect())
    sizes = {}
    for _id, g in rows:
        sizes[g] = sizes.get(g, 0) + 1
    per_group = {}
    for g, _id in got1:
        per_group[g] = per_group.get(g, 0) + 1
    for g, n in sizes.items():
        assert per_group.get(g, 0) == min(k, n)
    out2 = sample_k_per_group(
        df.repartition(7), k, group_col="g", key_col="id"
    )
    assert sorted((r.g, r.id) for r in out2.collect()) == got1


@given(
    st.lists(
        st.tuples(st.integers(0, 100_000), st.sampled_from(["a", "b"])),
        min_size=1, max_size=30, unique_by=lambda t: t[0],
    ),
    st.integers(1, 5),
    st.integers(1, 5),
)
@settings(**SETTINGS)
def test_sample_k_per_group_monotone_containment(spark, rows, k1, extra):
    """Rank-based selection nests: the k-sample is a PREFIX of the
    (k+extra)-sample per group — growing a quota never swaps out
    already-selected members (the property quota-based eval holdouts
    rely on across reruns)."""
    from odibi_spark.llm.curation import sample_k_per_group

    df = spark.createDataFrame(rows, "id LONG, g STRING")
    small = {
        (r.g, r.id)
        for r in sample_k_per_group(df, k1, group_col="g", key_col="id").collect()
    }
    big = {
        (r.g, r.id)
        for r in sample_k_per_group(
            df, k1 + extra, group_col="g", key_col="id"
        ).collect()
    }
    assert small <= big


class TestBloomJoinProperties:
    """Bloom-prefiltered joins must be ROW-IDENTICAL to the plain
    join for arbitrary key sets — the no-false-negatives contract is
    what makes the prefilter a plan change rather than a semantics
    change (operators/runtime_filter.py)."""

    @given(
        left_keys=st.lists(st.integers(-50, 200), min_size=0, max_size=60),
        right_keys=st.lists(st.integers(-50, 200), min_size=0, max_size=25),
        bits=st.sampled_from([4, 8, 16]),
        hashes=st.sampled_from([1, 2, 3]),
    )
    @settings(**SETTINGS)
    def test_semi_and_anti_equal_plain_joins(
        self, spark, left_keys, right_keys, bits, hashes
    ):
        from odibi_spark.operators.runtime_filter import (
            bloom_antijoin_frames,
            bloom_semijoin_frames,
        )

        left = spark.createDataFrame(
            [(k, i) for i, k in enumerate(left_keys)] or [(None, None)],
            "k long, v long",
        ).filter("k IS NOT NULL")
        right = spark.createDataFrame(
            [(k,) for k in right_keys] or [(None,)], "rk long"
        ).filter("rk IS NOT NULL")
        if not right_keys:
            # gram_bloom needs >=1 key to size the filter; empty right
            # means semijoin=[] and antijoin=left — check directly
            return

        semi = bloom_semijoin_frames(
            left, right, left_on="k", right_on="rk", how="semi",
            bits_per_item=bits, hashes=hashes,
        )
        want_semi = left.join(
            right.withColumnRenamed("rk", "k").select("k"), "k", "left_semi"
        )
        assert sorted((r.k, r.v) for r in semi.collect()) == sorted(
            (r.k, r.v) for r in want_semi.collect()
        )

        anti = bloom_antijoin_frames(
            left, right, left_on="k", right_on="rk",
            bits_per_item=bits, hashes=hashes,
        )
        want_anti = left.join(
            right.withColumnRenamed("rk", "k").select("k"), "k", "left_anti"
        )
        assert sorted((r.k, r.v) for r in anti.collect()) == sorted(
            (r.k, r.v) for r in want_anti.collect()
        )


class TestCmsProperties:
    """Count-min sketch invariants over hypothesis-generated multisets."""

    @given(
        counts=st.lists(st.integers(1, 12), min_size=1, max_size=25),
        width=st.sampled_from([8, 32, 128]),
        depth=st.integers(1, 4),
        seed=st.integers(0, 3),
    )
    @settings(**SETTINGS)
    def test_one_sided_error_and_total_mass(
        self, spark, counts, width, depth, seed
    ):
        from pyspark.sql import functions as F

        from odibi_spark.llm import cms

        rows = [
            Row(tok=f"k{i}") for i, c in enumerate(counts) for _ in range(c)
        ]
        df = spark.createDataFrame(rows)
        sketch = cms.cms_build(df, "tok", width=width, depth=depth, seed=seed)
        n_total = sum(counts)
        # each depth-row preserves total mass exactly
        per_depth = {
            r.depth: r.s
            for r in sketch.groupBy("depth")
            .agg(F.sum("cnt").alias("s")).collect()
        }
        assert all(per_depth[d] == n_total for d in range(depth))
        probes = spark.createDataFrame(
            [Row(tok=f"k{i}") for i in range(len(counts))]
        )
        est = {
            r.tok: r.est_cnt
            for r in cms.cms_query(
                sketch, probes, "tok", width=width, depth=depth, seed=seed
            ).collect()
        }
        for i, c in enumerate(counts):
            e = est[f"k{i}"]
            # never undercounts; can never exceed total mass
            assert c <= e <= n_total


class TestGopherProperties:
    @given(
        words=st.lists(
            st.sampled_from(["the", "be", "cat", "runs", "x1", "zz"]),
            min_size=1, max_size=40,
        )
    )
    @settings(**SETTINGS)
    def test_features_match_python(self, spark, words):
        from odibi_spark.llm.text import GOPHER_STOPWORDS, gopher_quality_flags

        text = " ".join(words)
        r = gopher_quality_flags(
            spark.createDataFrame([Row(doc_id=1, text=text)]), "text",
            min_words=1,
        ).collect()[0]
        assert r.g_n_words == len(words)
        assert abs(
            r.g_mean_word_len - sum(map(len, words)) / len(words)
        ) < 1e-9
        assert r.g_stopword_hits == sum(w in GOPHER_STOPWORDS for w in words)
        expect_alpha = sum(any(c.isalpha() for c in w) for w in words) / len(words)
        assert abs(r.g_alpha_word_ratio - expect_alpha) < 1e-9


class TestBoilerplateProperties:
    @given(
        n_docs=st.integers(2, 6),
        shared=st.lists(st.sampled_from(["NAV", "FOOT", "AD"]),
                        min_size=0, max_size=3, unique=True),
        body_lines=st.integers(1, 4),
        min_docs=st.integers(2, 4),
    )
    @settings(**SETTINGS)
    def test_line_conservation_and_python_differential(
        self, spark, n_docs, shared, body_lines, min_docs
    ):
        """kept + boilerplate = total lines per doc, and the kept set
        equals a direct Python recomputation of the frequency rule."""
        from odibi_spark.llm.dedup import remove_boilerplate_lines

        texts = {
            i: shared + [f"body-{i}-{j}" for j in range(body_lines)]
            for i in range(n_docs)
        }
        df = spark.createDataFrame(
            [Row(doc_id=i, text="\n".join(t)) for i, t in texts.items()]
        )
        out = {r.doc_id: r for r in
               remove_boilerplate_lines(df, min_docs=min_docs).collect()}
        # python reference: line -> distinct doc count
        from collections import Counter

        freq = Counter()
        for t in texts.values():
            for line in set(t):
                freq[line] += 1
        for i, t in texts.items():
            expect = [ln for ln in t if freq[ln] < min_docs]
            assert out[i].text == "\n".join(expect)
            assert out[i].n_kept_lines == len(expect)
            assert out[i].n_kept_lines + out[i].n_boilerplate_lines == len(t)


class TestWinnowProperties:
    @given(
        prefix_a=st.integers(0, 6),
        prefix_b=st.integers(0, 6),
        run_len=st.integers(8, 14),
        k=st.integers(2, 5),
        window=st.integers(2, 4),
    )
    @settings(**SETTINGS)
    def test_guarantee_holds_for_any_k_window(
        self, spark, prefix_a, prefix_b, run_len, k, window
    ):
        """Schleimer's theorem, property-tested: a shared word run of
        length >= window + k - 1 ALWAYS yields a shared fingerprint,
        for every (k, window) and arbitrary disjoint prefixes."""
        from odibi_spark.llm.dedup import winnow_fingerprints

        need = window + k - 1
        run = " ".join(f"run{i}" for i in range(max(run_len, need)))
        a = " ".join([f"pa{i}" for i in range(prefix_a)] + [run])
        b = " ".join([f"pb{i}" for i in range(prefix_b)] + [run])
        df = spark.createDataFrame(
            [Row(doc_id=0, text=a), Row(doc_id=1, text=b)]
        )
        fps = winnow_fingerprints(df, k=k, window=window).collect()
        sets: dict = {0: set(), 1: set()}
        for r in fps:
            sets[r.id].add(r.fp)
        assert sets[0] & sets[1]

    @given(words=st.integers(12, 60), k=st.integers(2, 5),
           window=st.integers(2, 5))
    @settings(**SETTINGS)
    def test_sketch_matches_python_reference(self, spark, words, k, window):
        """The fingerprint set equals a direct Python winnowing over
        the same portable hashes (differential test)."""
        import hashlib

        from odibi_spark.llm.dedup import winnow_fingerprints

        toks = [f"t{(i * 13) % 17}" for i in range(words)]
        text = " ".join(toks)

        def h60(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        grams = [
            h60(" ".join(toks[i:i + k])) for i in range(len(toks) - k + 1)
        ]
        expect = {
            min(grams[i:i + window])
            for i in range(len(grams) - window + 1)
        } if len(grams) >= window else set()
        df = spark.createDataFrame([Row(doc_id=1, text=text)])
        got = {r.fp for r in winnow_fingerprints(df, k=k, window=window).collect()}
        assert got == expect


class TestKmvProperties:
    @given(n=st.integers(1, 400), k=st.sampled_from([16, 64]))
    @settings(**SETTINGS)
    def test_estimate_matches_python_reference(self, spark, n, k):
        """KMV estimate equals the pure-Python sketch over the same
        md5-fold hashes — exact below k, (k-1)*2^60/h_k above."""
        import hashlib

        from odibi_spark.llm.kmv import kmv_distinct_by

        vals = [f"v{i}" for i in range(n)]
        df = spark.createDataFrame([Row(g="g", v=v) for v in vals * 2])
        hashes = sorted(
            int(hashlib.md5(v.encode()).hexdigest()[:15], 16) for v in vals
        )
        if n < k:
            expect = float(n)
        else:
            expect = float((k - 1) * (2 ** 60)) / float(hashes[k - 1])
        got = kmv_distinct_by(df, "g", "v", k=k).first().distinct_est
        assert got == expect


class TestTemperatureMixtureProperties:
    @given(
        sizes=st.lists(st.integers(5, 120), min_size=2, max_size=4),
        target=st.integers(10, 200),
    )
    @settings(**SETTINGS)
    def test_fractions_monotone_in_temperature_and_capped(
        self, spark, sizes, target
    ):
        """Selection is a subset of the corpus, deterministic, and the
        per-stratum keep FRACTION is non-increasing in stratum size
        (the low-resource up-weighting invariant)."""
        from odibi_spark.llm.curation import temperature_mixture_sample

        rows, i = [], 0
        for s, n in enumerate(sizes):
            for _ in range(n):
                rows.append(Row(doc_id=i, lang=f"l{s}"))
                i += 1
        df = spark.createDataFrame(rows)
        out = temperature_mixture_sample(
            df, strata_col="lang", key_col="doc_id", target_rows=target
        )
        kept = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
        # subset + determinism across partitionings
        out2 = temperature_mixture_sample(
            df.repartition(5), strata_col="lang", key_col="doc_id",
            target_rows=target,
        )
        assert sorted(r.doc_id for r in out.collect()) == sorted(
            r.doc_id for r in out2.collect()
        )
        # the INTENDED fraction f_i = min(1, sqrt(n_i)/S * T/n_i) is
        # non-increasing in n_i; realized counts are hash-noisy, so
        # check the intended fractions recomputed exactly
        import math

        raws = {f"l{s}": math.sqrt(float(n)) for s, n in enumerate(sizes)}
        S = sum(raws.values())
        fr = {
            g: min(1.0, raws[g] / S * float(target) / n)
            for g, n in ((f"l{s}", n) for s, n in enumerate(sizes))
        }
        by_size = sorted(zip(sizes, [fr[f"l{s}"] for s in range(len(sizes))]))
        for (n1, f1), (n2, f2) in zip(by_size, by_size[1:]):
            if n1 < n2:
                assert f1 >= f2 - 1e-12
        for g, n in ((f"l{s}", n) for s, n in enumerate(sizes)):
            assert kept.get(g, 0) <= n
