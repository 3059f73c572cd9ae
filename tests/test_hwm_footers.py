"""Stateful HWM batches planned from parquet footers
(``state.hwm.plan_from_footers``): the footer plan must read the same
rows and store the same HWM string as the Spark path (read, ``col >
cutoff``, ``capture_hwm``), fall back wherever the footers cannot give
Spark's answer, and leave a steady batch with no metadata job and no
recompiled class."""

import datetime
import os
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

import odibi_spark.state.hwm as hwm
from odibi_spark.io.read import read_parquet
from odibi_spark.plans import Pipeline
from odibi_spark.state.hwm import (
    JsonStateBackend,
    capture_hwm,
    format_hwm,
    incremental_filter,
    plan_from_footers,
)

BASE = datetime.datetime(2024, 1, 1)
TYPES = {
    "int": pa.int64(),
    "int32": pa.int32(),
    "date": pa.date32(),
    "ts": pa.timestamp("us"),
    "ts_ms": pa.timestamp("ms"),
    "ts_utc": pa.timestamp("us", tz="UTC"),
}


def _arrow(kind: str, values: list) -> pa.Array:
    """HWM column values (ints, or None for NULL) as ``kind``: days
    for dates, minutes after 2024-01-01 for timestamps."""
    if kind in ("int", "int32"):
        return pa.array(values, TYPES[kind])
    if kind == "date":
        return pa.array([None if v is None else BASE.date() + datetime.timedelta(days=v)
                         for v in values], pa.date32())
    return pa.array([None if v is None else BASE + datetime.timedelta(minutes=v)
                     for v in values], TYPES[kind])


def _land(d: str, kind: str, files: list[list], row_group_size: int = 2, **kw) -> None:
    os.makedirs(d, exist_ok=True)
    for values in files:
        n = len(values)
        ids = pa.array([uuid.uuid4().int % (1 << 62) for _ in range(n)], pa.int64())
        pq.write_table(pa.table({"id": ids, "v": _arrow(kind, values)}),
                       os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"),
                       row_group_size=row_group_size, **kw)


def _stored(spark, kind: str, v) -> str:
    """The HWM string the node would have stored for value ``v``."""
    if kind in ("int", "int32"):
        return str(v)
    if kind == "date":
        return str(BASE.date() + datetime.timedelta(days=v))
    micros = (v * 60 + int((BASE - datetime.datetime(1970, 1, 1)).total_seconds())) * 1_000_000
    return format_hwm(micros, T.TimestampType())


def _both_paths(spark, d: str, stored: str | None, lag: str | None = None):
    """(rows, HWM) by the Spark path and by the footer plan."""
    spark_df = incremental_filter(read_parquet(spark, d), column="v", hwm=stored,
                                  watermark_lag=lag)
    plan = plan_from_footers(spark, d, column="v", hwm=stored, watermark_lag=lag)
    assert plan is not None
    footer_df = incremental_filter(read_parquet(spark, d, plan.read), column="v",
                                   hwm=stored, watermark_lag=lag, covered=plan.covered)
    assert footer_df.schema == spark_df.schema
    got = sorted(footer_df.collect()), plan.hwm if plan.hwm_known else capture_hwm(footer_df, "v")
    want = sorted(spark_df.collect()), capture_hwm(spark_df, "v")
    return want, got, plan


values = st.one_of(st.none(), st.integers(0, 40))


@st.composite
def landings(draw):
    kind = draw(st.sampled_from(sorted(TYPES)))
    files = draw(st.lists(st.lists(values, min_size=0, max_size=5), min_size=1, max_size=4))
    cut = draw(st.one_of(st.none(), st.integers(-1, 41)))
    lag = draw(st.sampled_from([None, "1 day", "3 minutes"])) if kind not in ("int", "int32") else None
    return kind, files, cut, lag


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(case=landings())
# a file straddling the cutoff, and late files wholly below it
@example(case=("ts", [[1, 2, 3], [10, 20, 30], [4, 5], [0, 6]], 5, None))
# NULLs, an all-NULL row group, an all-NULL file
@example(case=("int", [[None, None, 7, 8], [None, None], [9, None, 12]], 6, None))
# no new files
@example(case=("date", [[1, 2], [3]], 3, None))
# every selected file wholly above the cutoff: the predicate is dropped
@example(case=("ts_ms", [[1, 2], [7, 8], [9, 11]], 5, None))
@example(case=("ts", [[1, 2], [30, 40]], 30, "1 day"))
@example(case=("int32", [[], [3, 4]], None, None))
# a sub-day lag on a DATE column: the cutoff is a timestamp
@example(case=("date", [[]], 0, "3 minutes"))
@example(case=("date", [[0, 1], [2]], 1, "3 minutes"))
def test_footer_plan_equals_spark_path(spark, tmp_path_factory, case):
    kind, files, cut, lag = case
    d = str(tmp_path_factory.mktemp("landing"))
    _land(d, kind, files)
    stored = None if cut is None else _stored(spark, kind, cut)
    want, got, plan = _both_paths(spark, d, stored, lag)
    assert got == want
    non_null = [v for f in files for v in f if v is not None]
    if cut is not None and not lag and not any(v > cut for v in non_null):
        assert plan.read.files == [] and plan.hwm is None


def test_cases_pin_selection_and_predicate(spark, tmp_path):
    d = str(tmp_path / "l")
    _land(d, "ts", [[1, 2, 3], [10, 20, 30], [4, 5]])
    above = plan_from_footers(spark, d, column="v", hwm=_stored(spark, "ts", 5))
    assert len(above.read.files) == 1 and above.covered
    assert above.hwm == "2024-01-01 00:30:00"
    straddle = plan_from_footers(spark, d, column="v", hwm=_stored(spark, "ts", 4))
    assert len(straddle.read.files) == 2 and not straddle.covered
    # a non-canonical stored string is cast by Spark to the same cutoff
    spark_cast = plan_from_footers(spark, d, column="v", hwm="2024-01-01T00:05:00")
    assert spark_cast == above
    # a full load names every listed file
    full = plan_from_footers(spark, d, column="v", hwm=None)
    assert sorted(full.read.files) == sorted(os.path.join(d, f) for f in os.listdir(d))


@pytest.mark.parametrize("at", [
    "2024-01-01 03:00:00", "2024-01-01 03:00:00.5", "2024-01-01 03:00:00.000001",
    "2024-02-29 23:59:59.999999", "1969-12-31 23:59:59.9", "0999-12-31 00:00:00.12",
    "9999-12-31 23:59:59",
])
def test_format_hwm_writes_the_string_capture_hwm_stores(spark, at):
    """The footer plan's HWM string for a timestamp or date is the one
    ``capture_hwm`` has Spark write for the same value (UTC session)."""
    df = spark.sql(f"SELECT TIMESTAMP'{at}' AS v, DATE(TIMESTAMP'{at}') AS d")
    r = df.selectExpr("unix_micros(v) AS m", "unix_date(d) AS days").collect()[0]
    assert format_hwm(r.m, T.TimestampType()) == capture_hwm(df, "v") == at
    assert format_hwm(r.days, T.DateType()) == capture_hwm(df, "d") == at[:10]


def test_file_landing_after_the_plan_waits_for_the_next_batch(spark, tmp_path, monkeypatch):
    """A file landing between the footer listing and the read is not
    read by that batch, whose HWM comes from the listed files, but by
    the next one: each row is written once, on a full load and on a
    steady batch alike (a late file below the cutoff is never read)."""
    src, out, state = (str(tmp_path / n) for n in ("src", "out", "state.json"))
    y = _pipeline(src, out, state, spark_path=False)
    real = hwm.plan_from_footers

    def run_landing(files):
        def then_land(*args, **kwargs):
            plan = real(*args, **kwargs)
            _land(src, "ts", files)
            return plan

        monkeypatch.setattr(hwm, "plan_from_footers", then_land)
        assert Pipeline.from_yaml(y, spark).run()["sink"].status == "success"
        monkeypatch.setattr(hwm, "plan_from_footers", real)

    _land(src, "ts", [[1, 2, 3]])
    run_landing([[4, 5]])
    assert JsonStateBackend(state).get("sink:v") == "2024-01-01 00:03:00"
    run_landing([[0, 1], [6]])
    assert JsonStateBackend(state).get("sink:v") == "2024-01-01 00:05:00"
    assert Pipeline.from_yaml(y, spark).run()["sink"].status == "success"
    assert JsonStateBackend(state).get("sink:v") == "2024-01-01 00:06:00"
    minutes = sorted(r.v.minute for r in spark.read.parquet(out).collect())
    assert minutes == [1, 2, 3, 4, 5, 6]


def test_fallbacks(spark, tmp_path):
    # a file:// URI lists through Spark
    d = str(tmp_path / "flat")
    _land(d, "int", [[1, 2], [3, 4]])
    assert plan_from_footers(spark, "file://" + d, column="v", hwm="2") is None
    # a partitioned landing
    parted = str(tmp_path / "parted")
    _land(os.path.join(parted, "g=1"), "int", [[1, 2]])
    assert plan_from_footers(spark, parted, column="v", hwm="1") is None
    # files whose schemas differ
    mixed = str(tmp_path / "mixed")
    _land(mixed, "int", [[1, 2]])
    _land(mixed, "int32", [[3, 4]])
    assert plan_from_footers(spark, mixed, column="v", hwm="1") is None
    # a data file that is not parquet: Spark's read raises its own error
    junk = str(tmp_path / "junk")
    _land(junk, "int", [[1, 2]])
    with open(os.path.join(junk, "notes.txt"), "w") as fh:
        fh.write("not parquet")
    assert plan_from_footers(spark, junk, column="v", hwm="1") is None
    # files without statistics are opened, the predicate stays, and the
    # HWM is captured from the rows
    bare = str(tmp_path / "bare")
    _land(bare, "int", [[1, 2], [5, 6]], write_statistics=False)
    want, got, plan = _both_paths(spark, bare, "2")
    assert got == want and want[1] == "6"
    assert len(plan.read.files) == 2 and not plan.covered and not plan.hwm_known
    # a column the footers cannot compare: a decimal
    dec = str(tmp_path / "dec")
    os.makedirs(dec)
    pq.write_table(pa.table({"v": pa.array([1, 2], pa.decimal128(10, 2))}),
                   os.path.join(dec, "part-0.parquet"))
    assert plan_from_footers(spark, dec, column="v", hwm="1") is None


def _pipeline(src, out, state, *, spark_path: bool):
    flt = ', filter: "id IS NOT NULL"' if spark_path else ""
    return f"""
name: hwm_fp
nodes:
  - name: sink
    read: {{format: parquet, path: "{src}"{flt}}}
    incremental: {{column: v}}
    state_path: "{state}"
    write: {{path: "{out}", mode: append}}
"""


@pytest.mark.parametrize("spark_path", [False, True], ids=["footers", "spark"])
def test_crash_between_write_and_hwm_commit_replays_the_same(spark, tmp_path, monkeypatch,
                                                             spark_path):
    """The write succeeds, the HWM commit dies: the next run re-reads
    the batch (at-least-once) on either path, and the two paths agree."""
    src, out, state = (str(tmp_path / n) for n in ("src", "out", "state.json"))
    y = _pipeline(src, out, state, spark_path=spark_path)
    _land(src, "ts", [[1, 2, 3]])
    assert Pipeline.from_yaml(y, spark).run()["sink"].status == "success"
    _land(src, "ts", [[4, 5]])
    real_set = JsonStateBackend.set

    def dies(self, key, value):
        raise OSError("killed before the HWM commit")

    monkeypatch.setattr(JsonStateBackend, "set", dies)
    assert Pipeline.from_yaml(y, spark).run()["sink"].status == "failed"
    monkeypatch.setattr(JsonStateBackend, "set", real_set)
    assert JsonStateBackend(state).get("sink:v") == "2024-01-01 00:03:00"
    assert Pipeline.from_yaml(y, spark).run()["sink"].status == "success"
    assert JsonStateBackend(state).get("sink:v") == "2024-01-01 00:05:00"
    minutes = sorted(r.v.minute for r in spark.read.parquet(out).collect())
    assert minutes == [1, 2, 3, 4, 4, 5, 5]


@pytest.mark.parametrize("zone", ["Asia/Tokyo", "America/New_York"])
@pytest.mark.parametrize("spark_path", [False, True], ids=["footers", "spark"])
def test_timestamp_hwm_round_trips_off_utc_driver(spark, tmp_path, monkeypatch, zone, spark_path):
    """The stored HWM is the session-zone (UTC) wall clock whatever the
    driver process's zone, so the second batch is read exactly once."""
    src, out, state = (str(tmp_path / n) for n in ("src", "out", "state.json"))
    y = _pipeline(src, out, state, spark_path=spark_path)
    monkeypatch.setenv("TZ", zone)
    time.tzset()
    try:
        _land(src, "ts_utc", [[60, 120, 180]])
        assert Pipeline.from_yaml(y, spark).run()["sink"].status == "success"
        assert JsonStateBackend(state).get("sink:v") == "2024-01-01 03:00:00"
        _land(src, "ts_utc", [[240]])
        assert Pipeline.from_yaml(y, spark).run()["sink"].status == "success"
        assert JsonStateBackend(state).get("sink:v") == "2024-01-01 04:00:00"
        ids = [r.id for r in spark.read.parquet(out).collect()]
    finally:
        monkeypatch.undo()
        time.tzset()
    assert len(ids) == 4 and len(set(ids)) == 4


def test_steady_batch_compiles_nothing_and_plans_without_jobs(spark, tmp_path, monkeypatch):
    """Third batch of a small merge pipeline: no class is compiled (the
    codegen cache holds batch two's, and no HWM literal reaches
    generated code), and read planning plus HWM capture run no job."""
    import odibi_spark.plans.node as node

    src, state = str(tmp_path / "src"), str(tmp_path / "state.json")
    y = f"""
name: steady
nodes:
  - name: dim
    read: {{format: parquet, path: "{src}"}}
    incremental: {{column: v}}
    state_path: "{state}"
    pattern: {{type: merge, target_path: "{tmp_path}/dim", keys: [id]}}
"""
    sc = spark.sparkContext
    jobs = []

    def counted(fn):
        def run(*args, **kwargs):
            group = f"steady-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return run

    monkeypatch.setattr(node, "read_source", counted(node.read_source))
    monkeypatch.setattr(hwm, "plan_from_footers", counted(hwm.plan_from_footers))
    monkeypatch.setattr(hwm, "capture_hwm", counted(hwm.capture_hwm))
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    os.makedirs(src)
    for batch in range(3):
        ids = np.arange(4) + 10 * batch
        pq.write_table(pa.table({"id": ids, "x": ids * 2,
                                 "v": _arrow("ts", [int(i) + 1 for i in ids])}),
                       os.path.join(src, f"b{batch}.parquet"))
        jobs.clear()
        before = compiles.getCount()
        r = Pipeline.from_yaml(y, spark).run()
        assert r["dim"].status == "success", r["dim"].error
    assert compiles.getCount() - before == 0
    assert jobs == [0, 0]  # plan_from_footers, read_source; no capture_hwm
    assert spark.read.parquet(str(tmp_path / "dim")).count() == 12


def test_a_node_run_reads_the_stored_hwm_once(spark, tmp_path, monkeypatch):
    """A footer-planned stateful node reads its HWM state once a run:
    the footer plan and the filter share the value."""
    src, out, state = (str(tmp_path / n) for n in ("src", "out", "state.json"))
    y = _pipeline(src, out, state, spark_path=False)
    _land(src, "int", [[1, 2, 3]])
    assert Pipeline.from_yaml(y, spark).run()["sink"].status == "success"
    _land(src, "int", [[4, 5]])
    gets, real = [], JsonStateBackend.get

    def counted(self, key):
        gets.append(key)
        return real(self, key)

    monkeypatch.setattr(JsonStateBackend, "get", counted)
    assert Pipeline.from_yaml(y, spark).run()["sink"].status == "success"
    assert gets == ["sink:v"]
    assert sorted(r.v for r in spark.read.parquet(out).collect()) == [1, 2, 3, 4, 5]
