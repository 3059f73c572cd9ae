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
on every later run, and the capture is one column-pruned top-1 job
over the batch scan.
"""

from __future__ import annotations

import fcntl
import json
import os
import tempfile
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T


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

    Concurrency: each ``set`` appends ONE uniquely-named file carrying
    (key, value, seq) — never a read-modify-overwrite of the whole
    table — so concurrent writers of DIFFERENT keys both land, and
    same-key races resolve last-seq-wins (the same outcome a retried
    Delta MERGE gives the reference, odibi/state/__init__.py:43-107).
    Readers resolve the latest seq per key on the driver
    (``io/append.read_rows``, no Spark job on a local path); files from
    the pre-append overwrite layout read as seq 0. ``Catalog.optimize()``
    bin-packs the accreted files; on an object store without atomic
    rename the upgrade path is the Delta MERGE backend."""

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

        from odibi_spark.io.append import atomic_append

        atomic_append(
            self.spark, self.path, [(key, value, time.time_ns())], _STATE_SCHEMA,
        )


def incremental_filter(
    df: DataFrame,
    *,
    column: str,
    state: StateBackend,
    state_key: str,
    fallback_column: str | None = None,
    watermark_lag: str | None = None,
    target_exists: bool = True,
) -> DataFrame:
    """Stateful HWM filter (reference node.py:1075-1108):
    ``WHERE col > last_hwm [- watermark_lag]``; first run (no state or
    no target) -> full load (smart read, reference :1032-1040)."""
    hwm = state.get(state_key)
    if hwm is None or not target_exists:
        return df
    col = (
        F.coalesce(F.col(column), F.col(fallback_column))
        if fallback_column
        else F.col(column)
    )
    # Cast the stored (string) HWM to the column's OWN type: an
    # unconditional timestamp cast turns a numeric HWM ('12345') into
    # NULL, and `col > NULL` silently reads zero new rows.
    dtype = df.schema[column].dataType
    cutoff = F.lit(hwm).cast(dtype)
    if watermark_lag:
        if not isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            raise ValueError(
                f"watermark_lag requires a temporal HWM column; "
                f"'{column}' is {dtype.simpleString()}"
            )
        cutoff = cutoff - F.expr(f"INTERVAL {watermark_lag}")
    return df.filter(col > cutoff)


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
    (nulls last): one Spark job, where a global ``max`` aggregate runs
    a shuffle map stage and a result stage as two."""
    rows = (
        df.select(F.col(column).alias("m"))
        .orderBy(F.desc_nulls_last("m"))
        .limit(1)
        .collect()
    )
    return None if not rows or rows[0].m is None else str(rows[0].m)


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
