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


def spark_jobs(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class _Crash(Exception):
    """Stands in for the process dying at an injected step."""


def _crash(*args, **kwargs):
    raise _Crash()


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

    @pytest.mark.parametrize("soft_delete", [False, True])
    def test_repeated_batch_rows(self, spark, tmp_path, t0, soft_delete):
        """A batch may hold a key more than once (at-least-once landing):
        a repeated row is one change, and a key's current row is closed
        once when one of its rows changes it, else kept once."""
        p = str(tmp_path / "dim_rep")
        kw = dict(target_path=p, keys=["cid"], track_cols=["tier"],
                  effective_time_col="updated_at", soft_delete=soft_delete)
        first = t0.unionByName(t0.filter("cid = 1"))
        assert scd2_apply(spark, first, **kw).filter("cid = 1").count() == 1
        at = ts("2024-02-01 00:00:00")
        batch = spark.createDataFrame(
            [
                Row(cid=1, tier="Platinum", city="NYC", updated_at=at),  # change, twice
                Row(cid=1, tier="Platinum", city="NYC", updated_at=at),
                Row(cid=2, tier="Silver", city="LA", updated_at=at),     # unchanged, twice
                Row(cid=2, tier="Silver", city="LA", updated_at=at),
                Row(cid=3, tier="Bronze", city="SF", updated_at=at),     # unchanged + change
                Row(cid=3, tier="Copper", city="SF", updated_at=at),
                Row(cid=4, tier="Gold", city="CHI", updated_at=at),      # new, twice
                Row(cid=4, tier="Gold", city="CHI", updated_at=at),
            ]
        )
        rows = scd2_apply(spark, batch, **kw).collect()
        got = sorted((r.cid, r.tier, r.is_current, r.valid_to) for r in rows)
        assert got == [
            (1, "Gold", False, at), (1, "Platinum", True, None),
            (2, "Silver", True, None),
            (3, "Bronze", False, at), (3, "Copper", True, None),
            (4, "Gold", True, None),
        ]

    def test_null_key_is_a_key(self, spark, tmp_path):
        """The join matches keys null-safely, so a NULL natural key is
        tracked like any other: kept while unchanged, closed on a change."""
        schema = "cid INT, tier STRING, at TIMESTAMP"
        at0, at1 = ts("2024-01-01 00:00:00"), ts("2024-02-01 00:00:00")
        kw = dict(target_path=str(tmp_path / "dim_null"), keys=["cid"],
                  track_cols=["tier"], effective_time_col="at")
        scd2_apply(spark, spark.createDataFrame([(None, "A", at0), (1, "A", at0)], schema), **kw)
        out = scd2_apply(spark, spark.createDataFrame([(None, "B", at1), (1, "A", at1)], schema), **kw)
        got = sorted((r.cid or 0, r.tier, r.is_current, r.valid_to) for r in out.collect())
        assert got == [(0, "A", False, at1), (0, "B", True, None), (1, "A", True, None)]


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
        from odibi_spark.io import write_sink

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
        assert spark_jobs(spark, lambda: merge_apply(spark, batch, target_path=pm, keys=["k"])) <= 5
        assert spark_jobs(spark, lambda: write_sink(batch, path=pw, mode="upsert", keys=["k"])) <= 5
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

    def test_scd2_dimension_job_budget(self, spark, tmp_path):
        """An SCD2 dimension batch against an existing target reads the
        target once, in one join: schema and max SK come from the
        footers, so the batch is at most 6 Spark jobs (the two-read SK
        map plus scd2 pass took 14). A changed key keeps its SK and new
        keys continue from the max."""
        import datetime

        at0, at1 = datetime.datetime(2024, 1, 1), datetime.datetime(2024, 2, 1)
        schema = "cid LONG, tier STRING, at TIMESTAMP"
        spark.createDataFrame(
            [(i, f"t{i % 3}", at0) for i in range(20)], schema
        ).write.parquet(str(tmp_path / "b0"))
        spark.createDataFrame(
            [(i, "changed" if i % 2 else f"t{i % 3}", at1) for i in range(10, 30)], schema
        ).write.parquet(str(tmp_path / "b1"))
        kw = dict(target_path=str(tmp_path / "dim"), natural_keys=["cid"],
                  surrogate_key="sk", scd="2", track_cols=["tier"],
                  effective_time_col="at")
        build_dimension(spark, spark.read.parquet(str(tmp_path / "b0")), **kw)
        batch = spark.read.parquet(str(tmp_path / "b1"))
        assert spark_jobs(spark, lambda: build_dimension(spark, batch, **kw)) <= 6
        rows = spark.read.parquet(kw["target_path"]).collect()
        sks = {}
        for r in rows:
            sks.setdefault(r.cid, set()).add(r.sk)
        assert sks == {cid: {cid + 1} for cid in range(30)}
        closed = sorted(r.cid for r in rows if not r.is_current)
        assert closed == list(range(11, 20, 2))


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
        """State files with no version record (its params unknown) are
        refused, not folded into."""
        import os
        import shutil

        import pytest

        from odibi_spark.patterns.aggregation import cms_incremental

        path = str(tmp_path / "cms_state")
        cms_incremental(
            spark, self._batch(spark, ["a"]),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
        )
        shutil.rmtree(os.path.join(path, "_log"))
        with pytest.raises(ValueError, match="no meta"):
            cms_incremental(
                spark, self._batch(spark, ["b"]),
                target_path=path, key_col="tok", width=16, depth=2, seed=4,
            )

    def test_batch_id_replay_is_idempotent(self, spark, tmp_path, monkeypatch):
        """foreachBatch retry semantics: re-folding an already-committed
        batch_id must be a no-op, not a silent double count — also when
        the first attempt died after publishing its record but before
        applying it (the retry finishes the apply, then skips)."""
        from odibi_spark.llm import cms
        from odibi_spark.patterns.aggregation import cms_incremental
        from odibi_spark.patterns.merge_target import ParquetTarget

        path = str(tmp_path / "cms_state")
        b1, b2 = ["a", "a", "b"], ["b", "c", "c", "c"]
        cms_incremental(
            spark, self._batch(spark, b1),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
            batch_id=0,
        )
        with monkeypatch.context() as m:
            m.setattr(ParquetTarget, "_apply", _crash)
            with pytest.raises(_Crash):
                cms_incremental(
                    spark, self._batch(spark, b2),
                    target_path=path, key_col="tok", width=16, depth=2,
                    seed=4, batch_id=1,
                )
        # replay batch 1 (checkpoint never committed -> retry), twice
        for _ in range(2):
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

    def test_maintenance_rewrite_keeps_the_params(self, spark, tmp_path):
        """``maintain --zorder-by`` on the state dir is a commit without
        metadata: its record keeps the fold's params and batch id, so
        the next fold still checks them and still counts exactly."""
        from odibi_spark.cli import main
        from odibi_spark.llm import cms
        from odibi_spark.patterns.aggregation import cms_incremental

        path = str(tmp_path / "cms_state")
        b1, b2 = ["a", "b", "c", "d"] * 3, ["a", "e"]
        cms_incremental(
            spark, self._batch(spark, b1),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
            batch_id=0,
        )
        assert main(["maintain", path, "--zorder-by", "depth,bucket"]) == 0
        with pytest.raises(ValueError, match="built with"):
            cms_incremental(
                spark, self._batch(spark, b2),
                target_path=path, key_col="tok", width=32, depth=2, seed=4,
            )
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

    def test_partial_state_raises_not_reinitializes(self, spark, tmp_path):
        """A version record whose state files are gone = partial state;
        the next fold must raise, never silently restart the history
        from scratch."""
        import os

        import pytest

        from odibi_spark.patterns.aggregation import cms_incremental

        path = str(tmp_path / "cms_state")
        cms_incremental(
            spark, self._batch(spark, ["a", "b"]),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
        )
        for name in os.listdir(path):
            if not name.startswith(("_", ".")):
                os.remove(os.path.join(path, name))
        with pytest.raises(RuntimeError, match="partial state"):
            cms_incremental(
                spark, self._batch(spark, ["c"]),
                target_path=path, key_col="tok", width=16, depth=2, seed=4,
            )

    def test_crash_between_state_write_and_meta_commit_is_safe(
        self, spark, tmp_path, monkeypatch
    ):
        """A fold that dies after staging its state but before
        publishing the record leaves the committed state and batch id
        as they were; the retry folds from them — no double count —
        and sweeps the orphaned staging."""
        import os

        from odibi_spark.llm import cms
        from odibi_spark.patterns.aggregation import cms_incremental, cms_state_read
        from odibi_spark.patterns.merge_target import ParquetTarget

        path = str(tmp_path / "cms_state")
        b1, b2 = ["a", "a"], ["b", "b", "b"]
        cms_incremental(
            spark, self._batch(spark, b1),
            target_path=path, key_col="tok", width=16, depth=2, seed=4,
            batch_id=0,
        )
        with monkeypatch.context() as m:
            m.setattr(ParquetTarget, "_publish", _crash)
            with pytest.raises(_Crash):
                cms_incremental(
                    spark, self._batch(spark, b2),
                    target_path=path, key_col="tok", width=16, depth=2,
                    seed=4, batch_id=1,
                )
        assert os.listdir(os.path.join(path, "_staging"))  # the orphan
        first = cms.cms_build(self._batch(spark, b1), "tok", width=16, depth=2, seed=4)
        assert sorted(map(tuple, cms_state_read(spark, path).collect())) == sorted(
            map(tuple, first.collect())
        )
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
        assert not os.listdir(os.path.join(path, "_staging"))


class TestParquetTargetFooterMetadata:
    """Schema and max-SK read on the driver from parquet footers, with
    Spark as the fallback where the footers cannot answer."""

    def test_footer_schema_matches_spark_reader(self, spark, tmp_path):
        import datetime
        import decimal

        from odibi_spark.patterns.merge_target import ParquetTarget

        schema = (
            "ts TIMESTAMP, ntz TIMESTAMP_NTZ, d DATE, amt DECIMAL(38,10), "
            "raw BINARY, items ARRAY<STRUCT<a: INT, b: STRING>>, "
            "attrs MAP<STRING, DOUBLE>, id BIGINT NOT NULL, "
            "tag STRUCT<x: INT NOT NULL> NOT NULL"
        )
        row = (
            datetime.datetime(2024, 1, 2, 3, 4, 5), datetime.datetime(2024, 1, 2),
            datetime.date(2024, 1, 2), decimal.Decimal("1.5"), b"\x00\x01",
            [(1, "a")], {"k": 1.0}, 7, (3,),
        )
        p = str(tmp_path / "rich")
        spark.createDataFrame([row], schema).write.parquet(p)
        want = spark.read.parquet(p).schema
        t = ParquetTarget(spark, p)
        assert spark_jobs(spark, lambda: (t.exists(), t.read())) == 0
        assert t.read().schema == want
        assert t.read().collect()[0].id == 7

    def test_exists_and_read_launch_no_job(self, spark, tmp_path):
        from odibi_spark.patterns.merge_target import ParquetTarget

        p = str(tmp_path / "t")
        spark.range(20).selectExpr("id", "id % 3 AS g").repartition(3).write.parquet(p)
        t = ParquetTarget(spark, p)
        assert spark_jobs(spark, lambda: (t.exists(), t.read())) == 0
        assert t.read().count() == 20

    def test_inference_without_spark_footer_or_when_partitioned(self, spark, tmp_path):
        """A pyarrow-written target (no Spark schema in the footer) infers
        through Spark's own footer converter with no job; a partitioned
        one still falls back to Spark's inference."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from odibi_spark.patterns.merge_target import ParquetTarget

        p = str(tmp_path / "arrow")
        os.makedirs(p)
        pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}),
                       os.path.join(p, "part-0.parquet"))
        t = ParquetTarget(spark, p)
        assert t._footer_schema() == spark.read.parquet(p).schema
        assert spark_jobs(spark, t.exists) == 0
        assert t.read().schema == spark.read.parquet(p).schema

        pp = str(tmp_path / "parted")
        t = ParquetTarget(spark, pp, partition_by=["g"])
        t.write_initial(spark.range(6).selectExpr("id", "id % 2 AS g"))
        fresh = ParquetTarget(spark, pp, partition_by=["g"])
        assert fresh._footer_schema() is None
        assert fresh.exists() and fresh.read().count() == 6

    def test_footer_max_matches_spark_max(self, spark, tmp_path):
        from odibi_spark.patterns.merge_target import ParquetTarget

        p = str(tmp_path / "m")
        spark.createDataFrame([(3,), (11,), (None,)], "sk BIGINT").write.parquet(p)
        spark.createDataFrame([], "sk BIGINT").write.mode("append").parquet(p)
        spark.createDataFrame([(None,), (None,)], "sk BIGINT").coalesce(1).write.mode(
            "append").parquet(p)
        spark.createDataFrame([(7,), (-1,)], "sk BIGINT").write.mode("append").parquet(p)
        t = ParquetTarget(spark, p)
        got = []
        assert spark_jobs(spark, lambda: got.append(t.max_of("sk"))) == 0
        assert got == [11] == [spark.read.parquet(p).agg(F.max("sk")).first()[0]]

    def test_footer_max_falls_back_without_statistics(self, spark, tmp_path):
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from odibi_spark.patterns.merge_target import ParquetTarget

        p = str(tmp_path / "nostats")
        os.makedirs(p)
        pq.write_table(pa.table({"sk": pa.array([4, 9, 2], pa.int64())}),
                       os.path.join(p, "part-0.parquet"), write_statistics=False)
        t = ParquetTarget(spark, p)
        got = []
        assert spark_jobs(spark, lambda: got.append(t.max_of("sk"))) >= 1
        assert got == [9]


class TestParquetTargetCrashSafety:
    """The commit protocol: each crash is injected by raising at the
    step, and no crash may leave a state the next fold silently
    reinitializes over or double counts."""

    def _target(self, spark, tmp_path):
        from odibi_spark.patterns.merge_target import ParquetTarget

        return ParquetTarget(spark, str(tmp_path / "tgt"))

    def _rows(self, spark, n, tag):
        return spark.range(n).selectExpr("id AS k", f"'{tag}' AS v")

    def test_crash_before_publish_keeps_previous_version(self, spark, tmp_path, monkeypatch):
        import os

        from odibi_spark.patterns.merge_target import ParquetTarget

        t = self._target(spark, tmp_path)
        t.write_initial(self._rows(spark, 3, "old"))
        monkeypatch.setattr(ParquetTarget, "_publish", _crash)
        with pytest.raises(_Crash):
            self._target(spark, tmp_path).overwrite(self._rows(spark, 5, "new"))
        monkeypatch.undo()
        staging = os.path.join(t.path, "_staging")
        assert len(os.listdir(staging)) == 1  # staged, never published
        fresh = self._target(spark, tmp_path)
        assert sorted(r.v for r in fresh.read().collect()) == ["old"] * 3
        assert fresh.version == 1
        # the retry takes version 2 and sweeps the orphan staged for it
        fresh.overwrite(self._rows(spark, 5, "new"))
        assert os.listdir(staging) == []
        assert sorted(r.v for r in fresh.read().collect()) == ["new"] * 5

    def test_crash_after_publish_rolls_forward(self, spark, tmp_path, monkeypatch):
        import os

        from odibi_spark.patterns.merge_target import ParquetTarget

        t = self._target(spark, tmp_path)
        t.write_initial(self._rows(spark, 3, "old"))
        monkeypatch.setattr(ParquetTarget, "_apply", _crash)
        with pytest.raises(_Crash):
            self._target(spark, tmp_path).overwrite(self._rows(spark, 7, "new"))
        monkeypatch.undo()
        record = t.record(2)
        assert record["rows"] == 7 and record["files"] == len(record["add"])
        assert t.exists()  # rolls forward
        assert sorted(r.v for r in t.read().collect()) == ["new"] * 7
        assert os.listdir(os.path.join(t.path, "_staging")) == []

    def test_read_straight_after_crash_recovers(self, spark, tmp_path, monkeypatch):
        """A caller that skips exists() and goes straight to read() after
        a crash in the middle of the apply (one file moved, the rest
        still staged, nothing removed) reads the committed version,
        with no row lost or doubled."""
        from odibi_spark.patterns import merge_target

        t = self._target(spark, tmp_path)
        t.write_initial(self._rows(spark, 4, "old"))
        moves = []
        real_move = merge_target._LocalFiles.move

        def move_once(fs, src, dst):
            if moves:
                raise _Crash()
            moves.append(src)
            real_move(fs, src, dst)

        monkeypatch.setattr(merge_target._LocalFiles, "move", move_once)
        with pytest.raises(_Crash):
            self._target(spark, tmp_path).overwrite(
                self._rows(spark, 40, "new").repartition(4)
            )
        monkeypatch.undo()
        got = self._target(spark, tmp_path).read()
        assert sorted(r.k for r in got.collect()) == list(range(40))
        assert {r.v for r in got.collect()} == {"new"}

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
        """Staging that no record names is swept once its version is
        taken; staging for the next version is left to its writer."""
        import os

        t = self._target(spark, tmp_path)
        t.write_initial(self._rows(spark, 1, "live"))
        staging = os.path.join(t.path, "_staging")
        self._rows(spark, 1, "lost").write.parquet(os.path.join(staging, "1-lost"))
        self._rows(spark, 1, "running").write.parquet(os.path.join(staging, "2-running"))
        assert t.exists()
        assert os.listdir(staging) == ["2-running"]
        assert [r.v for r in t.read().collect()] == ["live"]
        t.overwrite(self._rows(spark, 1, "next"))
        assert os.listdir(staging) == [] and t.exists()
        assert [r.v for r in t.read().collect()] == ["next"]

    def test_overwrite_roundtrip(self, spark, tmp_path):
        import os

        t = self._target(spark, tmp_path)
        t.write_initial(self._rows(spark, 1, "old"))
        assert t.exists()
        old_files = {rel for rel, _ in t.files}
        t.overwrite(self._rows(spark, 2, "new"))
        assert [r.v for r in t.read().collect()] == ["new", "new"]
        record = t.record(2)
        assert set(record["remove"]) == old_files
        assert {rel for rel, _ in t.files} == set(record["add"])
        assert (record["rows"], record["files"]) == (2, len(record["add"]))
        assert record["bytes"] == sum(size for _, size in t.files)
        assert sorted(os.listdir(os.path.join(t.path, "_log"))) == ["1.json", "2.json"]
        assert os.listdir(os.path.join(t.path, "_staging")) == []

    def test_half_written_temp_record_is_not_a_version(self, spark, tmp_path):
        import os

        t = self._target(spark, tmp_path)
        t.write_initial(self._rows(spark, 1, "old"))
        with open(os.path.join(t.path, "_log", ".2.json.dead.tmp"), "w") as fh:
            fh.write('{"version": 2, "staging": "2-de')  # cut off
        assert t.live() and t.version == 1
        t.overwrite(self._rows(spark, 2, "new"))
        assert t.record(2)["rows"] == 2
        assert [r.v for r in t.read().collect()] == ["new", "new"]

    def test_record_publish_is_exclusive(self, spark, tmp_path):
        """Two writers that read the same version: the second publish
        of that version fails, its writer raises and drops its staging,
        and the first writer's rows stay."""
        import os

        from odibi_spark.patterns.merge_target import CommitConflict

        t = self._target(spark, tmp_path)
        t.write_initial(self._rows(spark, 1, "old"))
        a, b = self._target(spark, tmp_path), self._target(spark, tmp_path)
        assert a.exists() and b.exists()
        a.overwrite(self._rows(spark, 2, "a"))
        with pytest.raises(CommitConflict):
            b.overwrite(self._rows(spark, 3, "b"))
        assert os.listdir(os.path.join(t.path, "_staging")) == []
        assert [r.v for r in t.read().collect()] == ["a", "a"]

    def test_concurrent_overwrites_one_wins(self, spark, tmp_path, monkeypatch):
        """Two threads overwrite one target, lined up by a barrier after
        their staged writes: exactly one returns, the other raises a
        conflict, and the table is the winner's rows with no staging
        left."""
        import os
        import threading

        from odibi_spark.patterns import merge_target

        t = self._target(spark, tmp_path)
        t.write_initial(self._rows(spark, 10, "seed"))
        barrier = threading.Barrier(2, timeout=120)
        real_write = merge_target.ParquetTarget._write

        def write_then_wait(target, df, path):
            real_write(target, df, path)
            barrier.wait()

        monkeypatch.setattr(merge_target.ParquetTarget, "_write", write_then_wait)
        outcome: dict[str, object] = {}

        def writer(tag, n):
            try:
                self._target(spark, tmp_path).overwrite(self._rows(spark, n, tag))
                outcome[tag] = "ok"
            except Exception as ex:
                outcome[tag] = ex

        threads = [
            threading.Thread(target=writer, args=args)
            for args in (("a", 100), ("b", 25))
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=180)
        monkeypatch.undo()
        assert not any(th.is_alive() for th in threads)
        winners = [tag for tag, out in outcome.items() if out == "ok"]
        losers = [out for out in outcome.values() if out != "ok"]
        assert len(winners) == 1 and len(losers) == 1, outcome
        assert isinstance(losers[0], merge_target.CommitConflict)
        rows = [(r.k, r.v) for r in self._target(spark, tmp_path).read().collect()]
        n = {"a": 100, "b": 25}[winners[0]]
        assert sorted(rows) == [(k, winners[0]) for k in range(n)]
        assert os.listdir(os.path.join(t.path, "_staging")) == []

    def test_read_modify_write_under_contention_loses_no_update(self, spark, tmp_path):
        """Eight threads (more than the cores) each add one row by
        read -> append -> commit, retrying on a conflict: every row
        lands exactly once, one version per writer."""
        import os
        import sys
        import threading

        import pyarrow as pa
        import pyarrow.parquet as pq

        from odibi_spark.patterns.merge_target import CommitConflict, ParquetTarget

        path = str(tmp_path / "contended")
        ParquetTarget(spark, path).write_initial(pa.table({"tag": ["seed"]}))
        errors: list[Exception] = []

        def add(tag):
            try:
                for _ in range(500):
                    t = ParquetTarget(spark, path)
                    try:
                        t.live()
                        old = pa.concat_tables(
                            pq.read_table(f"{path}/{rel}") for rel, _ in t.files
                        )
                        t.overwrite(pa.concat_tables([old, pa.table({"tag": [tag]})]))
                        return
                    except (CommitConflict, FileNotFoundError, pa.ArrowInvalid):
                        # a concurrent apply changed the files under this
                        # read; the version check refuses its commit
                        continue
                raise AssertionError(f"{tag} never committed")
            except Exception as ex:  # pragma: no cover - failure path
                errors.append(ex)

        tags = [f"w{i}" for i in range(8)]
        threads = [threading.Thread(target=add, args=(tag,)) for tag in tags]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(th.is_alive() for th in threads) and not errors, errors
        final = ParquetTarget(spark, path)
        assert final.live() and final.version == 1 + len(tags)
        got = pa.concat_tables(pq.read_table(f"{path}/{rel}") for rel, _ in final.files)
        assert sorted(got.column("tag").to_pylist()) == sorted(["seed", *tags])
        assert os.listdir(os.path.join(path, "_staging")) == []

    def test_commit_built_on_an_older_read_conflicts(self, spark, tmp_path):
        """Another writer commits between this writer's read and a later
        look (a URI target's ``max_of`` re-reads through Spark): the
        look keeps the version the read noted, so the commit conflicts
        instead of publishing over the other writer's rows."""
        from odibi_spark.patterns.merge_target import CommitConflict, ParquetTarget

        uri = f"file://{tmp_path}/pinned"
        ParquetTarget(spark, uri).write_initial(self._rows(spark, 3, "old"))
        t = ParquetTarget(spark, uri)
        assert t.read().count() == 3
        ParquetTarget(spark, uri).overwrite(self._rows(spark, 5, "other"))
        assert t.max_of("k") == 4
        with pytest.raises(CommitConflict):
            t.overwrite(self._rows(spark, 2, "mine"))
        got = ParquetTarget(spark, uri).read().collect()
        assert sorted(r.v for r in got) == ["other"] * 5
        # the conflict drops the note: a retry re-reads and commits
        t.read()
        t.overwrite(self._rows(spark, 2, "mine"))
        assert t.version == 3

    def test_version_lookup_does_not_list_the_log(self, spark, tmp_path, monkeypatch):
        """The newest of 1000 versions is found in O(log n) probes, so
        a read costs the same however long the log has grown."""
        import os

        from odibi_spark.patterns import merge_target

        t = self._target(spark, tmp_path)
        t.write_initial(self._rows(spark, 1, "v"))
        for n in range(2, 1001):
            with open(os.path.join(t.path, "_log", f"{n}.json"), "w") as fh:
                fh.write("{}")
        probes = []
        real_exists = merge_target._LocalFiles.exists

        def counted(fs, p):
            probes.append(p)
            return real_exists(fs, p)

        monkeypatch.setattr(merge_target._LocalFiles, "exists", counted)
        fresh = self._target(spark, tmp_path)
        assert fresh.live() and fresh.version == 1000
        assert len(probes) <= 2 * 11

    def test_uri_path_commits_through_hadoop(self, spark, tmp_path):
        """A ``file://`` URI takes the Hadoop FileSystem route: the same
        protocol, with the record published by rename."""
        import os

        from odibi_spark.patterns.merge_target import ParquetTarget

        uri = f"file://{tmp_path}/uri_tgt"
        t = ParquetTarget(spark, uri)
        assert not t.exists()
        t.write_initial(self._rows(spark, 2, "old"))
        t.overwrite(self._rows(spark, 3, "new"))
        assert [r.v for r in ParquetTarget(spark, uri).read().collect()] == ["new"] * 3
        assert t.record(2)["remove"] == t.record(1)["add"]
        log = os.listdir(tmp_path / "uri_tgt" / "_log")
        assert sorted(n for n in log if not n.startswith(".")) == ["1.json", "2.json"]
