"""High-water-mark state for incremental loads (reference:
odibi/state/__init__.py:109-894 — LocalJSON / Catalog-Delta / SqlServer
backends; incremental predicates odibi/node.py:1019-1273).

Backends here: JSON file (local dev) and a small parquet key-value
table (the Delta ``meta_state`` analogue; on a cluster this becomes a
Delta table with MERGE upserts). HWM commit discipline follows the
reference: the new HWM is computed from the batch but committed only
AFTER the write succeeds (pipeline buffering, reference
pipeline.py:1537-1543) — crash between write and commit replays rows
(at-least-once) rather than losing them.

The new HWM is the maximum of the rows the node READ, after the HWM
filter — not of its transformed, pattern or validated output. Rows a
transform drops or validation quarantines are therefore not re-read
on every later run.

A node reading a local flat parquet directory plans the batch from the
files' footers (``plan_from_footers``, the model is Structured
Streaming's file source): it opens only the files whose max passes the
cutoff, drops the predicate when every opened file's minimum already
passes it, and takes the new HWM from the same statistics, so neither
the read nor the capture launches a Spark job. Everywhere else the HWM
is ``capture_hwm``'s one column-pruned top-1 job over the batch scan.
Timestamp HWMs are stored as Spark renders them in the session zone,
the zone the filter's cast parses them back in; the footer plan runs
only in a UTC session and writes the same string (``format_hwm``).
"""

from __future__ import annotations

import datetime
import fcntl
import json
import os
import tempfile
from abc import ABC, abstractmethod
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from odibi_spark.io.read import _UNKNOWN, PlannedRead, _replace_ntz, jvm_class, parquet_footers


class StateBackend(ABC):
    @abstractmethod
    def get(self, key: str) -> str | None: ...

    @abstractmethod
    def set(self, key: str, value: str) -> None: ...


class JsonStateBackend(StateBackend):
    """Local JSON file (reference LocalJSON backend)."""

    def __init__(self, path: str):
        self.path = path

    def _load(self) -> dict[str, str]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def get(self, key: str) -> str | None:
        return self._load().get(key)

    def set(self, key: str, value: str) -> None:
        # writers sharing one file (layer-parallel nodes, one state_path)
        # take turns under the lock, each staging its own temp file
        with open(self.path + ".lock", "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            data = self._load()
            data[key] = value
            fd, tmp = tempfile.mkstemp(dir=os.path.dirname(os.path.abspath(self.path)))
            with os.fdopen(fd, "w") as f:
                json.dump(data, f, indent=2, sort_keys=True)
            os.replace(tmp, self.path)


_STATE_SCHEMA = "key string, value string, seq bigint"


class ParquetStateBackend(StateBackend):
    """Key-value parquet table (Delta ``meta_state`` analogue).

    Concurrency: each ``set`` appends ONE (key, value, seq) row as one
    ``ParquetTarget.append`` commit — never a read-modify-overwrite of
    the whole table — and an append that loses the publish is staged
    again on the newer version, so concurrent writers of DIFFERENT keys
    both land, and same-key races resolve last-seq-wins (the same
    outcome a retried Delta MERGE gives the reference,
    odibi/state/__init__.py:43-107). Readers resolve the latest seq per
    key on the driver (``io/append.read_rows``, no Spark job on a local
    path); files from the pre-append overwrite layout read as seq 0.
    ``Catalog.optimize()`` bin-packs the accreted files."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> dict[str, str]:
        from odibi_spark.io.append import read_rows

        rows = read_rows(self.spark, self.path, _STATE_SCHEMA)
        data: dict[str, str] = {}
        for r in sorted(rows, key=lambda r: r["seq"] or 0):
            data[r["key"]] = r["value"]
        return data

    def get(self, key: str) -> str | None:
        return self._read().get(key)

    def set(self, key: str, value: str) -> None:
        import time

        from odibi_spark.io.append import rows_table
        from odibi_spark.patterns.merge_target import ParquetTarget

        ParquetTarget(self.spark, self.path).append(
            rows_table([(key, value, time.time_ns())], _STATE_SCHEMA)
        )


def incremental_filter(
    df: DataFrame,
    *,
    column: str,
    hwm: str | None,
    fallback_column: str | None = None,
    watermark_lag: str | None = None,
    covered: bool = False,
) -> DataFrame:
    """Stateful HWM filter (reference node.py:1075-1108):
    ``WHERE col > hwm [- watermark_lag]``. ``hwm`` is the stored HWM,
    read once by the caller; None (no state, or no target yet) is a
    first run -> full load (smart read, reference :1032-1040).
    ``covered``: the footers proved every row of ``df`` passes the
    cutoff (``FooterPlan.covered``), so the predicate is left out."""
    if hwm is None or covered:
        return df
    col = F.coalesce(F.col(column), F.col(fallback_column)) if fallback_column else F.col(column)
    return df.filter(col > _cutoff(hwm, df.schema[column].dataType, column, watermark_lag))


def _cutoff(hwm: str, dtype: T.DataType, column: str, watermark_lag: str | None) -> Column:
    """``hwm [- watermark_lag]`` as a literal of the column's type."""
    # Cast the stored (string) HWM to the column's OWN type: an
    # unconditional timestamp cast turns a numeric HWM ('12345') into
    # NULL, and `col > NULL` silently reads zero new rows.
    cutoff = F.lit(hwm).cast(dtype)
    if watermark_lag:
        if not isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            raise ValueError(
                f"watermark_lag requires a temporal HWM column; "
                f"'{column}' is {dtype.simpleString()}"
            )
        cutoff = cutoff - F.expr(f"INTERVAL {watermark_lag}")
    return cutoff


def rolling_window_filter(df: DataFrame, *, column: str, lookback: str) -> DataFrame:
    """Rolling-window filter (reference node.py:1045-1073):
    ``WHERE col >= now() - lookback``."""
    return df.filter(
        F.col(column) >= F.current_timestamp() - F.expr(f"INTERVAL {lookback}")
    )


def capture_hwm(df: DataFrame, column: str) -> str | None:
    """Max of the batch's HWM column (reference node.py:3379+
    ``_get_column_max``) — commit via ``StateBackend.set`` only after
    the downstream write succeeds. Pass the rows read, as
    ``incremental_filter`` returned them: the optimizer prunes the scan
    to the one column, and the result is the max of exactly the rows
    the batch consumed. Taken as the top row of a descending order
    (nulls last): one column-pruned top-1 job, where a global ``max``
    aggregate runs a shuffle map stage and a result stage as two. A
    TIMESTAMP is cast to its string by Spark, in the session zone (the
    zone ``incremental_filter``'s cast parses it back in), not
    collected as a datetime, which PySpark renders in the driver
    process's zone."""
    top = df.select(F.col(column).alias("m")).orderBy(F.desc_nulls_last("m")).limit(1)
    if isinstance(df.schema[column].dataType, T.TimestampType):
        top = top.select(F.col("m").cast("string").alias("m"))
    rows = top.collect()
    if not rows or rows[0].m is None:
        return None
    return str(rows[0].m)


def format_hwm(value: int, dtype: T.DataType) -> str:
    """The stored string of an HWM taken from footer statistics, as
    ``capture_hwm`` stores the same value: a TIMESTAMP ``value`` is
    epoch microseconds, written as UTC wall-clock time the way Spark
    casts a timestamp to string in a UTC session (fraction trimmed of
    trailing zeros); a DATE is epoch days; an integer is ``str``'d.
    OverflowError beyond Python's years 1-9999."""
    if isinstance(dtype, T.TimestampType):
        at = _EPOCH + datetime.timedelta(microseconds=value)
        text = at.isoformat(sep=" ")
        return text.rstrip("0") if at.microsecond else text
    if isinstance(dtype, T.DateType):
        return str(_EPOCH.date() + datetime.timedelta(days=value))
    return str(value)


_EPOCH = datetime.datetime(1970, 1, 1)


@dataclass(frozen=True)
class FooterPlan:
    """A stateful HWM batch planned from parquet footers."""

    #: the schema and the files to open, named from the one listing the
    #: footers were read from
    read: PlannedRead
    #: every opened file's non-NULL values pass the cutoff and it holds
    #: no NULL, so ``col > cutoff`` keeps every row: the filter is left out
    covered: bool
    #: the batch's new HWM (None: no non-NULL value read, keep the old one)
    hwm: str | None
    #: False when a file without statistics was opened: ``capture_hwm``
    #: takes the HWM instead
    hwm_known: bool


def plan_from_footers(
    spark: SparkSession,
    path: str,
    *,
    column: str,
    hwm: str | None,
    watermark_lag: str | None = None,
) -> FooterPlan | None:
    """Plan a stateful batch over the parquet directory ``path`` from its
    footers, or None where they cannot give Spark's answer
    (``io.read.parquet_footers``; a timestamp column outside a UTC
    session). ``hwm`` is the stored HWM, None on a full load. A file is
    opened when its max passes ``hwm [- watermark_lag]`` or it has no
    statistics. The files are always named, even when all are opened:
    a file landing after the listing is left to the next batch, whose
    footers then see it, so the rows read and the new HWM describe the
    same files."""
    footers = parquet_footers(spark, path, column)
    if footers is None:
        return None
    dtype, _ = _replace_ntz(footers.schema[column].dataType)
    if isinstance(dtype, T.TimestampType) and spark.conf.get("spark.sql.session.timeZone") != "UTC":
        return None
    if hwm is None:
        cut = None
    else:
        cut = _raw_cutoff(spark, hwm, dtype, column, watermark_lag)
        if cut is None:  # `col > NULL` reads nothing; leave that to Spark
            return None
    chosen = [f for f in footers.files if f.max is _UNKNOWN or cut is None or (f.max is not None and f.max > cut)]
    covered = all(
        f.max is not _UNKNOWN and f.nulls == 0 and (cut is None or f.min > cut)
        for f in chosen
    )
    hwm_known = all(f.max is not _UNKNOWN for f in chosen)
    top = max((f.max for f in chosen if f.max is not None), default=None) if hwm_known else None
    try:
        text = None if top is None else format_hwm(top, dtype)
    except OverflowError:  # beyond Python's datetime: Spark formats it
        return None
    return FooterPlan(
        read=PlannedRead(footers.schema, [f.path for f in chosen]),
        covered=covered,
        hwm=text,
        hwm_known=hwm_known,
    )


def _raw_cutoff(spark: SparkSession, hwm: str, dtype: T.DataType, column: str,
                watermark_lag: str | None):
    """``hwm [- watermark_lag]`` by Spark's cast rules, in the units the
    footer statistics compare in (epoch microseconds, epoch days or the
    integer); None when the cast gives NULL. A sub-day lag makes a DATE
    cutoff a timestamp, which Spark compares a date after by casting
    the date to its midnight: the dates kept are those after the
    cutoff's own date. Spark evaluates it over a one-row local
    relation, which the optimizer folds: no job runs and no class is
    generated."""
    cutoff = _cutoff(hwm, dtype, column, watermark_lag)
    if isinstance(dtype, T.TimestampType):
        cutoff = F.unix_micros(cutoff)
    elif isinstance(dtype, T.DateType):
        cutoff = F.unix_date(cutoff.cast("date"))
    row = jvm_class(spark, "org.apache.spark.sql.RowFactory").create(
        spark.sparkContext._gateway.new_array(jvm_class(spark, "java.lang.Object"), 0))
    one = jvm_class(spark, "java.util.ArrayList")()
    one.add(row)
    frame = DataFrame(spark._jsparkSession.createDataFrame(
        one, jvm_class(spark, "org.apache.spark.sql.types.StructType")()), spark)
    return frame.select(cutoff.alias("v")).collect()[0].v


class DeltaStateBackend(StateBackend):
    """HWM state as a 2-column Delta table MERGE'd per update
    (reference: odibi/state SQL Server backend semantics re-expressed
    on Delta; SURVEY §7.2 stage 6). Transactional on clusters —
    concurrent pipelines get snapshot-isolated commits instead of the
    read-modify-write race of the JSON/parquet backends.

    ``delta_table_cls`` is injectable (no Delta jars in this sandbox);
    the MERGE call shape is locked by tests/test_delta_contracts.py.
    """

    def __init__(self, spark: SparkSession, path: str, delta_table_cls=None):
        self.spark = spark
        self.path = path
        if delta_table_cls is None:
            try:
                from delta.tables import DeltaTable as delta_table_cls  # type: ignore
            except ImportError as ex:
                raise ImportError(
                    "DeltaStateBackend requires delta-spark; use "
                    "JsonStateBackend/ParquetStateBackend otherwise"
                ) from ex
        self._cls = delta_table_cls

    def get(self, key: str) -> str | None:
        if not self._cls.isDeltaTable(self.spark, self.path):
            return None
        rows = (
            self._cls.forPath(self.spark, self.path)
            .toDF()
            .filter(F.col("key") == key)
            .select("value")
            .collect()
        )
        return rows[0]["value"] if rows else None

    def set(self, key: str, value: str) -> None:
        update = self.spark.createDataFrame([(key, value)], ["key", "value"])
        if not self._cls.isDeltaTable(self.spark, self.path):
            update.write.format("delta").mode("overwrite").save(self.path)
            return
        (
            self._cls.forPath(self.spark, self.path)
            .alias("t")
            .merge(update.alias("s"), "t.`key` = s.`key`")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
