"""Warehouse pattern tests — multi-batch replays (reference test model:
tests/unit/test_scd2_pattern.py, test_merge_conditions.py,
test_delete_detection.py; fixture design FIXTURES.md §3)."""

import pytest
from pyspark.sql import Row, functions as F

from odibi_spark.patterns.aggregation import aggregate_incremental
from odibi_spark.patterns.date_dimension import build_date_dimension
from odibi_spark.patterns.delete_detection import DeleteCircuitBreaker, detect_deletes
from odibi_spark.patterns.dimension import build_dimension
from odibi_spark.patterns.fact import DimensionLookup, build_fact
from odibi_spark.patterns.merge import merge_apply
from odibi_spark.patterns.scd2 import scd2_apply


def ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


@pytest.fixture()
def t0(spark):
    return spark.createDataFrame(
        [
            Row(cid=1, tier="Gold", city="NYC", updated_at=ts("2024-01-01 00:00:00")),
            Row(cid=2, tier="Silver", city="LA", updated_at=ts("2024-01-01 00:00:00")),
            Row(cid=3, tier="Bronze", city="SF", updated_at=ts("2024-01-01 00:00:00")),
        ]
    )


@pytest.fixture()
def t1(spark):
    return spark.createDataFrame(
        [
            Row(cid=1, tier="Platinum", city="NYC", updated_at=ts("2024-02-01 00:00:00")),
            Row(cid=2, tier="Silver", city="LA", updated_at=ts("2024-02-01 00:00:00")),
            Row(cid=4, tier="Gold", city="CHI", updated_at=ts("2024-02-01 00:00:00")),
        ]
    )


class TestSCD2:
    def test_two_batch_replay(self, spark, tmp_path, t0, t1):
        p = str(tmp_path / "dim")
        out0 = scd2_apply(
            spark, t0, target_path=p, keys=["cid"], track_cols=["tier", "city"],
            effective_time_col="updated_at",
        )
        assert out0.count() == 3
        assert out0.filter("is_current").count() == 3

        out1 = scd2_apply(
            spark, t1, target_path=p, keys=["cid"], track_cols=["tier", "city"],
            effective_time_col="updated_at",
        ).orderBy("cid", "valid_from")
        rows = out1.collect()
        # cid=1 changed: closed old + new current; cid=2 unchanged;
        # cid=3 untouched (absent, no soft delete); cid=4 new
        assert len(rows) == 5
        c1 = [r for r in rows if r.cid == 1]
        assert len(c1) == 2
        old, new = c1
        assert old.is_current is False and old.valid_to == ts("2024-02-01 00:00:00")
        assert old.tier == "Gold"
        assert new.is_current is True and new.valid_to is None and new.tier == "Platinum"
        c2 = [r for r in rows if r.cid == 2]
        assert len(c2) == 1 and c2[0].is_current and c2[0].valid_from == ts("2024-01-01 00:00:00")
        assert [r.cid for r in rows if r.tier == "Bronze"] == [3]

    def test_soft_delete(self, spark, tmp_path, t0, t1):
        p = str(tmp_path / "dim_sd")
        scd2_apply(
            spark, t0, target_path=p, keys=["cid"], track_cols=["tier"],
            effective_time_col="updated_at", soft_delete=True,
        )
        out = scd2_apply(
            spark, t1, target_path=p, keys=["cid"], track_cols=["tier"],
            effective_time_col="updated_at", soft_delete=True,
        )
        c3 = out.filter("cid = 3").collect()
        assert len(c3) == 1 and c3[0].is_deleted is True and c3[0].is_current is False

    def test_idempotent_replay(self, spark, tmp_path, t0):
        p = str(tmp_path / "dim_idem")
        scd2_apply(spark, t0, target_path=p, keys=["cid"], track_cols=["tier"],
                   effective_time_col="updated_at")
        out = scd2_apply(spark, t0, target_path=p, keys=["cid"], track_cols=["tier"],
                         effective_time_col="updated_at")
        # same batch replayed: nothing changes
        assert out.count() == 3 and out.filter("is_current").count() == 3


class TestMerge:
    def test_upsert_with_condition(self, spark, tmp_path, t0, t1):
        p = str(tmp_path / "m1")
        merge_apply(spark, t0, target_path=p, keys=["cid"])
        out = merge_apply(
            spark, t1, target_path=p, keys=["cid"],
            update_condition="s.updated_at > t.updated_at",
        )
        got = {r.cid: r.tier for r in out.collect()}
        assert got == {1: "Platinum", 2: "Silver", 3: "Bronze", 4: "Gold"}

    def test_update_condition_blocks_stale(self, spark, tmp_path, t0, t1):
        p = str(tmp_path / "m2")
        merge_apply(spark, t1, target_path=p, keys=["cid"])
        # replay the OLDER batch: condition must block the downgrade
        out = merge_apply(
            spark, t0, target_path=p, keys=["cid"],
            update_condition="s.updated_at > t.updated_at",
        )
        got = {r.cid: r.tier for r in out.collect()}
        assert got[1] == "Platinum"  # not downgraded to Gold
        assert got[3] == "Bronze"    # new key still inserted

    def test_append_only(self, spark, tmp_path, t0, t1):
        p = str(tmp_path / "m3")
        merge_apply(spark, t0, target_path=p, keys=["cid"], strategy="append_only")
        out = merge_apply(spark, t1, target_path=p, keys=["cid"], strategy="append_only")
        got = {r.cid: r.tier for r in out.collect()}
        assert got == {1: "Gold", 2: "Silver", 3: "Bronze", 4: "Gold"}

    def test_delete_match(self, spark, tmp_path, t0):
        p = str(tmp_path / "m4")
        merge_apply(spark, t0, target_path=p, keys=["cid"])
        erase = spark.createDataFrame([Row(cid=2)])
        out = merge_apply(spark, erase, target_path=p, keys=["cid"], strategy="delete_match")
        assert sorted(r.cid for r in out.collect()) == [1, 3]

    def test_audit_cols(self, spark, tmp_path, t0, t1):
        p = str(tmp_path / "m5")
        merge_apply(spark, t0, target_path=p, keys=["cid"], audit_cols=True)
        out = merge_apply(spark, t1, target_path=p, keys=["cid"], audit_cols=True)
        r1 = out.filter("cid = 1").collect()[0]
        assert r1.created_at is not None and r1.updated_at >= r1.created_at

    @pytest.mark.parametrize("strategy", ["upsert", "append_only"])
    def test_null_keys_never_match(self, spark, tmp_path, strategy):
        """A NULL key matches nothing: the target's NULL-key row is kept
        and the batch's NULL-key row inserted, under both strategies."""
        p = str(tmp_path / "mn")
        schema = "cid INT, tier STRING"
        merge_apply(
            spark, spark.createDataFrame([(1, "a"), (None, "old")], schema),
            target_path=p, keys=["cid"], strategy=strategy,
        )
        out = merge_apply(
            spark, spark.createDataFrame([(1, "b"), (None, "new")], schema),
            target_path=p, keys=["cid"], strategy=strategy,
        )
        got = sorted((r.cid is None, r.tier) for r in out.collect())
        k1 = "b" if strategy == "upsert" else "a"
        assert got == [(False, k1), (True, "new"), (True, "old")]

    def test_condition_free_merge_job_budget(self, spark, tmp_path):
        """On an existing target, a condition-free upsert is one schema
        read plus one anti-join/union write: at most 5 Spark jobs through
        merge_apply and through write_sink's upsert mode. Inputs are
        parquet reads, as a pipeline's batches are."""
        import uuid

        from odibi_spark.io import write_sink

        sc = spark.sparkContext

        def jobs(fn) -> int:
            group = f"merge-budget-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        spark.range(10).selectExpr("id AS k", "'a' AS v").write.parquet(
            str(tmp_path / "base"))
        spark.range(5, 15).selectExpr("id AS k", "'b' AS v").write.parquet(
            str(tmp_path / "batch"))
        base = spark.read.parquet(str(tmp_path / "base"))
        batch = spark.read.parquet(str(tmp_path / "batch"))
        want = {k: "a" if k < 5 else "b" for k in range(15)}

        pm, pw = str(tmp_path / "m"), str(tmp_path / "w")
        merge_apply(spark, base, target_path=pm, keys=["k"])
        write_sink(base, path=pw, mode="upsert", keys=["k"])
        assert jobs(lambda: merge_apply(spark, batch, target_path=pm, keys=["k"])) <= 5
        assert jobs(lambda: write_sink(batch, path=pw, mode="upsert", keys=["k"])) <= 5
        for p in (pm, pw):
            assert {r.k: r.v for r in spark.read.parquet(p).collect()} == want


class TestDimension:
    def test_sk_stability_and_unknown_member(self, spark, tmp_path, t0, t1):
        p = str(tmp_path / "d1")
        d0 = build_dimension(
            spark, t0, target_path=p, natural_keys=["cid"], scd="1"
        )
        sk0 = {r.cid: r.sk for r in d0.collect()}
        assert sk0[-1 if -1 in sk0 else None] == -1 if -1 in sk0 else True
        unknown = d0.filter("sk = -1").collect()
        assert len(unknown) == 1 and unknown[0].tier == "UNKNOWN"
        d1 = build_dimension(
            spark, t1, target_path=p, natural_keys=["cid"], scd="1"
        )
        sk1 = {r.cid: r.sk for r in d1.collect()}
        for cid in (1, 2, 3):
            assert sk1[cid] == sk0[cid]  # SK stability across loads
        assert sk1[4] == max(v for k, v in sk0.items() if k is not None) + 1
        assert {r.tier for r in d1.filter("cid = 1").collect()} == {"Platinum"}


class TestFact:
    def test_lookup_and_grain_quarantine(self, spark, tmp_path, t0):
        dim = t0.withColumn("sk", F.col("cid") * 100)
        fact = spark.createDataFrame(
            [
                Row(order_id=1, line=1, cid=1, qty=2.0),
                Row(order_id=1, line=1, cid=1, qty=2.0),   # grain dup
                Row(order_id=2, line=1, cid=99, qty=5.0),  # orphan FK
            ]
        )
        clean, quarantined = build_fact(
            fact,
            grain=["order_id", "line"],
            lookups=[
                DimensionLookup(
                    dimension=dim, fact_keys=["cid"], dim_keys=["cid"],
                    surrogate_key="sk", output_col="customer_sk",
                )
            ],
            measures={"amount": "qty * 10"},
        )
        crows = {r.order_id: r for r in clean.collect()}
        assert crows[2].customer_sk == -1          # unknown member
        assert crows[2].amount == 50.0
        assert quarantined.count() == 2
        assert quarantined.collect()[0]._quarantine_reason == "grain_violation"

    def test_scd2_asof_lookup(self, spark, tmp_path, t0, t1):
        p = str(tmp_path / "f_dim")
        scd2_apply(spark, t0, target_path=p, keys=["cid"], track_cols=["tier"],
                   effective_time_col="updated_at")
        dim = scd2_apply(spark, t1, target_path=p, keys=["cid"], track_cols=["tier"],
                         effective_time_col="updated_at")
        dim = dim.withColumn("sk", F.col("cid") * 10 + F.col("is_current").cast("int"))
        fact = spark.createDataFrame(
            [
                Row(oid=1, cid=1, at=ts("2024-01-15 00:00:00")),  # before change -> old version
                Row(oid=2, cid=1, at=ts("2024-02-15 00:00:00")),  # after -> new version
            ]
        )
        out, _ = build_fact(
            fact, grain=["oid"],
            lookups=[
                DimensionLookup(
                    dimension=dim, fact_keys=["cid"], dim_keys=["cid"],
                    surrogate_key="sk", output_col="customer_sk",
                    scd2=True, event_time_col="at",
                )
            ],
            validate_grain=False,
        )
        got = {r.oid: r.customer_sk for r in out.collect()}
        assert got[1] == 10   # closed version (is_current=0)
        assert got[2] == 11   # current version


class TestAggregationIncremental:
    def test_merge_sum(self, spark, tmp_path):
        p = str(tmp_path / "agg")
        b1 = spark.createDataFrame([Row(d="2024-01-01", amt=10.0), Row(d="2024-01-01", amt=5.0)])
        b2 = spark.createDataFrame([Row(d="2024-01-01", amt=1.0), Row(d="2024-01-02", amt=7.0)])
        aggregate_incremental(
            spark, b1, target_path=p, grain=["d"],
            measures={"revenue": "sum(amt)"}, strategy="merge_sum",
        )
        out = aggregate_incremental(
            spark, b2, target_path=p, grain=["d"],
            measures={"revenue": "sum(amt)"}, strategy="merge_sum",
        )
        got = {r.d: r.revenue for r in out.collect()}
        assert got == {"2024-01-01": 16.0, "2024-01-02": 7.0}

    def test_merge_max(self, spark, tmp_path):
        p = str(tmp_path / "aggm")
        b1 = spark.createDataFrame([Row(d="a", v=3.0)])
        b2 = spark.createDataFrame([Row(d="a", v=9.0), Row(d="b", v=1.0)])
        aggregate_incremental(spark, b1, target_path=p, grain=["d"],
                              measures={"peak": "max(v)"}, strategy="merge_max")
        out = aggregate_incremental(spark, b2, target_path=p, grain=["d"],
                                    measures={"peak": "max(v)"}, strategy="merge_max")
        assert {r.d: r.peak for r in out.collect()} == {"a": 9.0, "b": 1.0}


class TestDeleteDetection:
    def test_soft_delete_and_breaker(self, spark, tmp_path, t0):
        p = str(tmp_path / "dd")
        t0.write.mode("overwrite").parquet(p)
        src = spark.createDataFrame([Row(cid=1), Row(cid=2)])  # 3 vanished
        out = detect_deletes(
            spark, src, target_path=p, keys=["cid"], mode="soft",
            max_delete_percent=50.0,
        )
        flagged = {r.cid: r._is_deleted for r in out.collect()}
        assert flagged == {1: False, 2: False, 3: True}
        with pytest.raises(DeleteCircuitBreaker):
            detect_deletes(
                spark, spark.createDataFrame([Row(cid=1)]), target_path=p,
                keys=["cid"], mode="hard", max_delete_percent=10.0,
            )

    def test_hard_delete(self, spark, tmp_path, t0):
        p = str(tmp_path / "ddh")
        t0.write.mode("overwrite").parquet(p)
        out = detect_deletes(
            spark, spark.createDataFrame([Row(cid=1), Row(cid=3)]),
            target_path=p, keys=["cid"], mode="hard", max_delete_percent=50.0,
        )
        assert sorted(r.cid for r in out.collect()) == [1, 3]


class TestDateDimension:
    def test_calendar(self, spark):
        dim = build_date_dimension(
            spark, start_date="2024-01-01", end_date="2024-12-31", fiscal_start_month=7
        )
        assert dim.count() == 366  # leap year
        jul1 = dim.filter("date_key = 20240701").collect()[0]
        assert jul1.fiscal_year == 2025 and jul1.fiscal_quarter == 1
        jun30 = dim.filter("date_key = 20240630").collect()[0]
        assert jun30.fiscal_year == 2024 and jun30.fiscal_quarter == 4
        sat = dim.filter("date_key = 20240106").collect()[0]
        assert sat.is_weekend == 1 and sat.iso_weekday == 6


class TestSnapshotCdc:
    def test_classification_and_values(self, spark):
        from odibi_spark.patterns.snapshot_cdc import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "name", "v"]
        )
        new = spark.createDataFrame(
            [(1, "a", 10), (2, "B", 20), (4, "d", 40)], ["k", "name", "v"]
        )
        out = {r.k: r for r in snapshot_diff(old, new, keys=["k"]).collect()}
        assert set(out) == {2, 3, 4}  # unchanged key 1 filtered out
        assert out[2]._change_type == "update" and out[2].name == "B"
        assert out[3]._change_type == "delete" and out[3].name == "c"
        assert out[4]._change_type == "insert" and out[4].v == 40

    def test_include_unchanged_and_compare_subset(self, spark):
        from odibi_spark.patterns.snapshot_cdc import snapshot_diff

        old = spark.createDataFrame([(1, "a", 10)], ["k", "name", "v"])
        new = spark.createDataFrame([(1, "a", 99)], ["k", "name", "v"])
        # comparing only `name` -> the v change is invisible
        out = snapshot_diff(
            old, new, keys=["k"], compare_cols=["name"],
            include_unchanged=True,
        ).collect()
        assert len(out) == 1 and out[0]._change_type == "unchanged"

    def test_pattern_phase_bootstrap_and_diff(self, spark, tmp_path):
        from odibi_spark.patterns.snapshot_cdc import snapshot_cdc_apply

        old = spark.createDataFrame([(1, "a")], ["k", "name"])
        # no target yet: everything is an insert
        boot = snapshot_cdc_apply(
            spark, old, target_path=str(tmp_path / "t"), keys=["k"]
        )
        assert [r._change_type for r in boot.collect()] == ["insert"]
        old.write.parquet(str(tmp_path / "t"))
        new = spark.createDataFrame([(1, "z"), (2, "b")], ["k", "name"])
        out = {
            r.k: r._change_type
            for r in snapshot_cdc_apply(
                spark, new, target_path=str(tmp_path / "t"), keys=["k"]
            ).collect()
        }
        assert out == {1: "update", 2: "insert"}

    def test_null_vs_empty_string_is_an_update(self, spark):
        from odibi_spark.patterns.snapshot_cdc import snapshot_diff

        old = spark.createDataFrame([(1, None), (2, "a|b")],
                                    "k INT, name STRING")
        new = spark.createDataFrame([(1, ""), (2, "a|b")],
                                    "k INT, name STRING")
        out = {r.k: r._change_type
               for r in snapshot_diff(old, new, keys=["k"]).collect()}
        # a concat_ws-based hash would call NULL -> '' unchanged
        assert out == {1: "update"}


class TestSketchIncremental:
    """aggregate_incremental_sketches: the COUNT DISTINCT / percentile
    measures plain merge strategies cannot decompose."""

    def test_running_distinct_within_error_of_truth(self, spark, tmp_path):
        """The 3-batch running estimate keeps the HLL error bound —
        folding batches in does not compound error. (Estimates are
        path-dependent, not set-deterministic — even one-shot aggs
        union per-partition sketches — so the check is against the
        exact truth, with tolerance.)"""
        from pyspark.sql import functions as F

        from odibi_spark.patterns.aggregation import (
            aggregate_incremental_sketches,
        )

        full = spark.range(0, 30_000).select(
            (F.col("id") % 3).alias("g"),
            (F.col("id") % 7_000).alias("u"),  # every group sees all 7000
        )
        p = str(tmp_path / "sk")
        for lo, hi in ((0, 10_000), (10_000, 20_000), (20_000, 30_000)):
            out = aggregate_incremental_sketches(
                spark,
                full.filter(f"id >= {lo} AND id < {hi}"),
                target_path=p, grain=["g"], distinct_of={"n_users": "u"},
            )
        got = {r.g: r.n_users for r in out.collect()}
        truth = {
            r.g: r.n
            for r in full.groupBy("g")
            .agg(F.count_distinct("u").alias("n")).collect()
        }
        for g, n in truth.items():
            assert abs(got[g] - n) / n < 0.05, (g, got[g], n)

    def test_running_quantiles_within_rank_error(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from odibi_spark.patterns.aggregation import (
            aggregate_incremental_sketches,
        )

        full = spark.range(0, 20_000).select(
            F.lit("all").alias("g"), F.col("id").cast("double").alias("x")
        )
        p = str(tmp_path / "kq")
        for lo, hi in ((0, 10_000), (10_000, 20_000)):
            out = aggregate_incremental_sketches(
                spark,
                full.filter(f"x >= {lo} AND x < {hi}"),
                target_path=p, grain=["g"], quantiles_of={"x": "x"},
                quantile_points=(0.5, 0.9),
            )
        r = out.first()
        # KLL default k: normalized rank error ~1.7%; allow 3%
        assert abs(r.x_p50 - 10_000) < 600, r.x_p50
        assert abs(r.x_p90 - 18_000) < 600, r.x_p90

    def test_new_grain_rows_appear(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from odibi_spark.patterns.aggregation import (
            aggregate_incremental_sketches,
        )

        p = str(tmp_path / "ng")
        b1 = spark.createDataFrame([("a", 1), ("a", 2)], "g STRING, u LONG")
        b2 = spark.createDataFrame([("b", 9)], "g STRING, u LONG")
        aggregate_incremental_sketches(
            spark, b1, target_path=p, grain=["g"], distinct_of={"n": "u"}
        )
        out = aggregate_incremental_sketches(
            spark, b2, target_path=p, grain=["g"], distinct_of={"n": "u"}
        )
        assert {(r.g, r.n) for r in out.collect()} == {("a", 2), ("b", 1)}


class TestCmsIncremental:
    """cms_incremental: exact-arithmetic frequency state — the running
    sketch must be BIT-IDENTICAL to a one-shot build over all batches
    (unlike the path-dependent DataSketches estimates)."""

    def _batch(self, spark, toks):
        from pyspark.sql import Row

        return spark.createDataFrame([Row(tok=t) for t in toks])

    def test_replay_equals_one_shot(self, spark, tmp_path):
        from odibi_spark.llm import cms
        from odibi_spark.patterns.aggregation import cms_incremental

        b1 = ["a", "a", "b", "c"]
        b2 = ["a", "b", "b", "d", "d", "d"]
        path = str(tmp_path / "cms_state")
        cms_incremental(
            spark, self._batch(spark, b1),
            target_path=path, key_col="tok", width=16, depth=3, seed=9,
        )
        running = cms_incremental(
            spark, self._batch(spark, b2),
            target_path=path, key_col="tok", width=16, depth=3, seed=9,
        )
        one_shot = cms.cms_build(
            self._batch(spark, b1 + b2), "tok", width=16, depth=3, seed=9
        )
        assert sorted(map(tuple, running.collect())) == sorted(
            map(tuple, one_shot.collect())
        )

    def test_query_after_fold(self, spark, tmp_path):
        from odibi_spark.llm import cms
        from odibi_spark.patterns.aggregation import cms_incremental

        path = str(tmp_path / "cms_state")
        for batch in (["x"] * 5, ["x"] * 3 + ["y"]):
            state = cms_incremental(
                spark, self._batch(spark, batch),
                target_path=path, key_col="tok", width=16, depth=2, seed=4,
            )
        est = {
            r.tok: r.est_cnt
            for r in cms.cms_query(
                state, self._batch(spark, ["x", "y"]), "tok",
                width=16, depth=2, seed=4,
            ).collect()
        }
        assert est["x"] >= 8 and est["y"] >= 1

    def test_param_mismatch_raises(self, spark, tmp_path):
        import pytest

        from odibi_spark.patterns.aggregation import cms_incremental

        path = str(tmp_path / "cms_state")
        cms_incremental(
            spark, self._batch(spark, ["a"]),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
        )
        with pytest.raises(ValueError, match="built with"):
            cms_incremental(
                spark, self._batch(spark, ["b"]),
                target_path=path, key_col="tok", width=32, depth=2, seed=4,
            )

    def test_missing_meta_is_untrusted(self, spark, tmp_path):
        import os

        import pytest

        from odibi_spark.patterns.aggregation import cms_incremental

        path = str(tmp_path / "cms_state")
        cms_incremental(
            spark, self._batch(spark, ["a"]),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
        )
        os.remove(os.path.join(path, "_cms_meta.json"))
        with pytest.raises(ValueError, match="no meta"):
            cms_incremental(
                spark, self._batch(spark, ["b"]),
                target_path=path, key_col="tok", width=16, depth=2, seed=4,
            )

    def test_batch_id_replay_is_idempotent(self, spark, tmp_path):
        """foreachBatch retry semantics (ADVICE r9): re-folding an
        already-committed batch_id must be a no-op, not a silent
        double count."""
        from odibi_spark.llm import cms
        from odibi_spark.patterns.aggregation import cms_incremental

        path = str(tmp_path / "cms_state")
        b1, b2 = ["a", "a", "b"], ["b", "c", "c", "c"]
        cms_incremental(
            spark, self._batch(spark, b1),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
            batch_id=0,
        )
        cms_incremental(
            spark, self._batch(spark, b2),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
            batch_id=1,
        )
        # replay batch 1 (checkpoint never committed -> retry)
        replayed = cms_incremental(
            spark, self._batch(spark, b2),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
            batch_id=1,
        )
        one_shot = cms.cms_build(
            self._batch(spark, b1 + b2), "tok", width=16, depth=2, seed=4
        )
        assert sorted(map(tuple, replayed.collect())) == sorted(
            map(tuple, one_shot.collect())
        )

    def test_partial_state_raises_not_reinitializes(self, spark, tmp_path):
        """Meta pointer naming an unreadable state dir = interrupted
        write; the next fold must raise, never silently restart the
        history from scratch (ADVICE r9)."""
        import json
        import os
        import shutil

        import pytest

        from odibi_spark.patterns.aggregation import cms_incremental

        path = str(tmp_path / "cms_state")
        cms_incremental(
            spark, self._batch(spark, ["a", "b"]),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
        )
        with open(os.path.join(path, "_cms_meta.json")) as fh:
            version = json.load(fh)["version"]
        shutil.rmtree(os.path.join(path, f"state_v{version}"))
        with pytest.raises(RuntimeError, match="partial state"):
            cms_incremental(
                spark, self._batch(spark, ["c"]),
                target_path=path, key_col="tok", width=16, depth=2, seed=4,
            )

    def test_crash_between_state_write_and_meta_commit_is_safe(
        self, spark, tmp_path
    ):
        """Versioned-state property: a state dir written WITHOUT the
        meta pointer advancing (crash window) is simply rewritten by
        the retry — the committed history never double-counts."""
        import json
        import os

        from odibi_spark.llm import cms
        from odibi_spark.patterns.aggregation import cms_incremental

        path = str(tmp_path / "cms_state")
        b1, b2 = ["a", "a"], ["b", "b", "b"]
        cms_incremental(
            spark, self._batch(spark, b1),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
            batch_id=0,
        )
        # simulate the crash: batch 2's state_v1 got written but the
        # meta pointer still names v0 / batch 0
        orphan = cms.cms_build(
            self._batch(spark, b2), "tok", width=16, depth=2, seed=4
        )
        orphan.write.mode("overwrite").parquet(
            os.path.join(path, "state_v1")
        )
        with open(os.path.join(path, "_cms_meta.json")) as fh:
            assert json.load(fh)["version"] == 0
        # retry of batch 1 folds from the COMMITTED v0, overwriting the
        # orphan — result equals the clean one-shot
        out = cms_incremental(
            spark, self._batch(spark, b2),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
            batch_id=1,
        )
        one_shot = cms.cms_build(
            self._batch(spark, b1 + b2), "tok", width=16, depth=2, seed=4
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, one_shot.collect())
        )


class TestParquetTargetCrashSafety:
    """Staged-swap overwrite (ADVICE r9): no crash window may leave a
    state the next fold silently reinitializes over."""

    def _target(self, spark, tmp_path):
        from odibi_spark.patterns.merge_target import ParquetTarget

        return ParquetTarget(spark, str(tmp_path / "tgt"))

    def test_interrupted_swap_auto_recovers_backup(self, spark, tmp_path):
        import os

        from pyspark.sql import Row

        t = self._target(spark, tmp_path)
        t.write_initial(spark.createDataFrame([Row(k=1, v="old")]))
        # simulate: overwrite renamed live -> __old then died
        os.rename(t.path, t.path + "__old")
        assert t.exists()  # restores __old as the live dir
        assert [r.v for r in t.read().collect()] == ["old"]

    def test_read_straight_after_crash_recovers(self, spark, tmp_path):
        """ADVICE r10: a caller that skips exists() and goes straight
        to read() after an interrupted swap must see the recovered
        pre-overwrite state, not FileNotFoundError."""
        import os

        from pyspark.sql import Row

        t = self._target(spark, tmp_path)
        t.write_initial(spark.createDataFrame([Row(k=1, v="old")]))
        os.rename(t.path, t.path + "__old")
        assert [r.v for r in t.read().collect()] == ["old"]

    def test_unreadable_live_dir_raises(self, spark, tmp_path):
        import os

        import pytest

        t = self._target(spark, tmp_path)
        os.makedirs(t.path)
        with open(os.path.join(t.path, "part-00000.parquet"), "wb") as fh:
            fh.write(b"not parquet at all")
        with pytest.raises(RuntimeError, match="unreadable"):
            t.exists()

    def test_stale_staging_is_cleaned(self, spark, tmp_path):
        import os

        from pyspark.sql import Row

        t = self._target(spark, tmp_path)
        t.write_initial(spark.createDataFrame([Row(k=1, v="live")]))
        spark.createDataFrame([Row(k=2, v="staged")]).write.parquet(
            t.path + "__staging"
        )
        assert t.exists()
        assert not os.path.exists(t.path + "__staging")
        assert [r.v for r in t.read().collect()] == ["live"]

    def test_overwrite_roundtrip(self, spark, tmp_path):
        import os

        from pyspark.sql import Row

        t = self._target(spark, tmp_path)
        t.write_initial(spark.createDataFrame([Row(k=1, v="old")]))
        assert t.exists()
        t.overwrite(spark.createDataFrame([Row(k=1, v="new")]))
        assert [r.v for r in t.read().collect()] == ["new"]
        assert not os.path.exists(t.path + "__old")
        assert not os.path.exists(t.path + "__staging")
