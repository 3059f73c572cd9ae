"""Validation layer tests (reference model: examples/validation_pipeline
with known defect rates — FIXTURES.md §6)."""

import pytest
from pyspark.sql import Row

from odibi_spark.validation import (
    GateFailure,
    apply_gate,
    run_validation,
    validate_foreign_key,
)
from odibi_spark.validation.fk import FKViolation


@pytest.fixture()
def dirty(spark):
    return spark.createDataFrame(
        [
            Row(id=1, tier="Gold", age=30, email="a@x.com"),
            Row(id=2, tier="Silver", age=17, email="b@x.com"),   # age fail
            Row(id=None, tier="Gold", age=40, email="c@x.com"),  # null id
            Row(id=4, tier="Wood", age=50, email="nope"),        # tier+email fail
            Row(id=4, tier="Gold", age=60, email="d@x.com"),     # dup id
        ]
    )


TESTS = [
    {"name": "id_not_null", "type": "not_null", "column": "id", "quarantine": True},
    {"name": "tier_vals", "type": "accepted_values", "column": "tier",
     "values": ["Gold", "Silver", "Bronze"], "quarantine": True},
    {"name": "adult", "type": "range", "column": "age", "min": 18, "max": 120},
    {"name": "email_re", "type": "regex_match", "column": "email",
     "pattern": "^[^@]+@[^@]+$"},
    {"name": "id_unique", "type": "unique", "column": "id"},
    {"name": "enough_rows", "type": "row_count", "min": 3},
]


def test_counts_and_quarantine(dirty):
    out = run_validation(dirty, TESTS)
    by = {r.name: r for r in out.results}
    assert by["id_not_null"].failed_rows == 1
    assert by["tier_vals"].failed_rows == 1
    assert by["adult"].failed_rows == 1
    assert by["email_re"].failed_rows == 1
    assert by["id_unique"].failed_rows == 2   # both rows of the dup key
    assert by["enough_rows"].passed
    # quarantine only on the two tests marked quarantine=True
    q = out.quarantined_rows.collect()
    assert len(q) == 2
    reasons = {r._quarantine_reason for r in q}
    assert reasons == {"id_not_null", "tier_vals"}
    assert out.valid_rows.count() == 3


def test_threshold_allows_fraction(dirty):
    out = run_validation(
        dirty, [{"name": "adult", "type": "range", "column": "age",
                 "min": 18, "threshold": 0.5}]
    )
    assert out.results[0].passed  # 1/5 = 0.2 <= 0.5


def test_gate_pass_rate(dirty):
    out = run_validation(dirty, TESTS)
    with pytest.raises(GateFailure):
        apply_gate(out, require_pass_rate=0.99)
    warnings = apply_gate(out, require_pass_rate=0.99, mode="warn")
    assert len(warnings) == 1


def test_gate_row_drop():
    from odibi_spark.validation.engine import ValidationOutcome

    empty = ValidationOutcome(results=[], valid_rows=None, quarantined_rows=None)
    with pytest.raises(GateFailure):
        apply_gate(empty, row_count=40, previous_row_count=100,
                   max_row_drop_percent=20.0)
    assert apply_gate(empty, row_count=95, previous_row_count=100,
                      max_row_drop_percent=20.0) == []


def test_fk_modes(spark):
    fact = spark.createDataFrame([Row(k=1), Row(k=2), Row(k=9)])
    dim = spark.createDataFrame([Row(k=1), Row(k=2)])
    r = validate_foreign_key(fact, dim, fact_keys=["k"])
    assert r.orphan_count == 1 and r.valid_rows.count() == 3  # warn keeps rows
    r2 = validate_foreign_key(fact, dim, fact_keys=["k"], on_violation="quarantine")
    assert r2.valid_rows.count() == 2 and r2.orphan_rows.count() == 1
    with pytest.raises(FKViolation):
        validate_foreign_key(fact, dim, fact_keys=["k"], on_violation="fail")


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "validation pass")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


def test_row_tests_cost_no_jobs_beyond_the_unique_pass(spark, tmp_path):
    """The total and every row-level failure count share one aggregate
    pass, so adding row-level tests to a unique test costs no extra job
    (AQE may split a pass, so compare against the unique test alone
    rather than a fixed number)."""
    src = str(tmp_path / "src")
    spark.range(200).selectExpr(
        "id % 150 AS id", "IF(id % 7 = 0, NULL, id) AS v", "id % 3 AS tier"
    ).write.parquet(src)
    uniq = [{"name": "u", "type": "unique", "column": "id"}]
    rows = [
        {"name": "nn", "type": "not_null", "column": "v"},
        {"name": "rng", "type": "range", "column": "tier", "max": 1},
        {"name": "enough", "type": "row_count", "min": 1},
    ]
    one = _jobs(spark, "val_unique", lambda: run_validation(spark.read.parquet(src), uniq))
    out = {}
    both = _jobs(
        spark, "val_all",
        lambda: out.update(r=run_validation(spark.read.parquet(src), rows + uniq)),
    )
    assert both <= one, f"row tests + unique cost {both} jobs vs {one} for unique alone"
    by = {r.name: r for r in out["r"].results}
    assert by["u"].failed_rows == 100  # ids 0..49 appear twice
    assert by["nn"].failed_rows == 29  # multiples of 7 in [0, 200)
    assert by["rng"].failed_rows == 66
    assert all(r.total_rows == 200 for r in by.values())
    # result order: row-level tests first, then dataset-level ones
    assert [r.name for r in out["r"].results] == ["nn", "rng", "enough", "u"]


def test_two_unique_tests_with_different_keys(spark):
    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=1, b="y"), Row(a=2, b="y"), Row(a=3, b="y"),
         Row(a=3, b="y")]
    )
    out = run_validation(df, [
        {"name": "a_unique", "type": "unique", "column": "a"},
        {"name": "b_unique", "type": "unique", "column": "b"},
        {"name": "ab_unique", "type": "unique", "columns": ["a", "b"]},
        {"name": "a_again", "type": "unique", "columns": ["a"]},
    ])
    by = {r.name: r.failed_rows for r in out.results}
    assert by == {"a_unique": 4, "b_unique": 4, "ab_unique": 2, "a_again": 4}
    assert {r.total_rows for r in out.results} == {5}


def test_empty_input_passes_every_test(spark):
    df = spark.createDataFrame([], "id bigint, v string")
    tests = [
        {"name": "nn", "type": "not_null", "column": "v"},
        {"name": "u", "type": "unique", "column": "id"},
        {"name": "u2", "type": "unique", "column": "v"},
    ]
    for ts in (tests, tests[:1]):
        out = run_validation(df, ts)
        assert [(r.total_rows, r.failed_rows, r.passed) for r in out.results] == [
            (0, 0, True)
        ] * len(ts)


def test_null_key_duplicates_count_as_one_group(spark):
    """NULL keys group together (SQL GROUP BY), so repeated NULL keys
    are duplicates; a single NULL key is not."""
    df = spark.createDataFrame(
        [Row(k=None, j=1), Row(k=None, j=1), Row(k=None, j=None),
         Row(k=1, j=None), Row(k=2, j=2)],
        "k int, j int",
    )
    out = run_validation(df, [
        {"name": "k_unique", "type": "unique", "column": "k"},
        {"name": "kj_unique", "type": "unique", "columns": ["k", "j"]},
        {"name": "k_not_null", "type": "not_null", "column": "k"},
    ])
    by = {r.name: r.failed_rows for r in out.results}
    assert by == {"k_not_null": 3, "k_unique": 3, "kj_unique": 2}
