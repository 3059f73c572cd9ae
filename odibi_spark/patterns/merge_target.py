"""Target-table abstraction for merge-style patterns.

The reference performs all merge patterns through Delta MERGE
(odibi/transformers/scd.py:553-735, merge_transformer.py:406-640).
Without Delta jars, ``ParquetTarget`` gives the same row semantics via
read -> transform -> staged-overwrite, and is the only parquet rewrite
path for merges: the patterns' and ``write_sink``'s merge modes. The
interface is the seam where ``DeltaTarget`` (partition-pruned,
ACID-transactional MERGE) plugs in on a real cluster — call sites are
identical. Each instance learns the schema at most once and reads
with the known schema after that. On a local unpartitioned target the
schema is read on the driver from the footer of the first data file,
where Spark's writer stores it, and ``max_of`` folds a column's max
from the row-group statistics, so neither launches a Spark job; URI
paths, partitioned directories and files without that metadata fall
back to Spark inference and a Spark aggregate. A driver-sized state
(the catalog's rollups) can be staged as a ``pyarrow.Table`` instead of
a DataFrame; it goes through the same swap.

Crash safety (ADVICE r9): ``overwrite`` never truncates the live dir
in place. The new contents are written to ``{path}__staging`` first,
then swapped in via rename with the previous state parked at
``{path}__old`` until the swap completes. The only unrecoverable-by-
code window (live dir renamed away, staging not yet renamed in) is
auto-recovered on the next ``exists()`` by restoring ``__old`` — the
overwrite then simply never happened and the caller's retry redoes it.
A live dir that exists but is unreadable as parquet (e.g. a crashed
direct write from outside this class) raises instead of being treated
as absent, so a fold can never silently reinitialize over history.

Caveat of the parquet emulation (Delta versioning solves this): a
DataFrame handle returned BEFORE a later overwrite of the same target
references swapped-out files. Re-read (or ``spark.catalog.
refreshByPath``) after every apply; pattern functions always return a
fresh read.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

# footer key under which Spark's writer stores the frame's schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class ParquetTarget:
    def __init__(self, spark: SparkSession, path: str, partition_by=None):
        self.spark = spark
        self.path = path
        self.partition_by = partition_by or []
        self._schema = None  # set by the first inference or write

    def _staging(self) -> str:
        return self.path + "__staging"

    def _backup(self) -> str:
        return self.path + "__old"

    def _recover(self) -> bool:
        """Restore the pre-overwrite state after an interrupted swap
        (live dir renamed away but the new state never renamed in).
        Returns whether a live dir exists after recovery. Called from
        every entry point that reads the live dir, so a caller that
        goes straight to read() after a crash sees the recovered
        history instead of FileNotFoundError."""
        live = os.path.exists(self.path) and bool(os.listdir(self.path))
        if not live and os.path.exists(self._backup()):
            # the overwrite never committed; the caller's retry redoes
            # it against the restored history
            if os.path.exists(self.path):
                os.rmdir(self.path)
            os.replace(self._backup(), self.path)
            live = True
        return live

    def live(self) -> bool:
        """Whether a live dir exists, after recovering an interrupted
        swap and dropping stale leftovers. Reads no data, so it
        launches no Spark job; ``exists`` also checks the dir reads."""
        live = self._recover()
        if live:
            # stale swap leftovers: __old after a committed swap,
            # __staging from an overwrite that died before the swap —
            # both superseded by the healthy live dir
            for leftover in (self._backup(), self._staging()):
                if os.path.exists(leftover):
                    shutil.rmtree(leftover, ignore_errors=True)
        elif os.path.exists(self._staging()):
            shutil.rmtree(self._staging(), ignore_errors=True)
        return live

    def _data_files(self) -> list[str] | None:
        """The live dir's data files in the order Spark's listing sorts
        them, or None where only Spark's listing will do: a URI path, a
        partitioned (or otherwise nested) directory, summary metadata,
        or no live dir (Spark raises the error a reader expects)."""
        from odibi_spark.io.append import _is_local  # io imports this module

        if not _is_local(self.path) or self.partition_by or not os.path.isdir(self.path):
            return None
        names = sorted(os.listdir(self.path))
        for name in names:
            if name in ("_metadata", "_common_metadata") or os.path.isdir(
                os.path.join(self.path, name)
            ):
                return None
        return [os.path.join(self.path, n) for n in names if not n.startswith(("_", "."))]

    def _footer_schema(self) -> StructType | None:
        """The schema Spark's writer stored in the footer of the first
        data file (the file non-merging inference reads), read on the
        driver, so no job runs; the reader makes it nullable as inference
        does. None when the file carries no Spark schema (a
        pyarrow-written file) or ``_data_files`` is None."""
        files = self._data_files()
        if not files:
            return None
        stored = (pq.read_metadata(files[0]).metadata or {}).get(SPARK_SCHEMA_KEY)
        if stored is None:
            return None
        return StructType.fromJson(json.loads(stored))

    def _infer_schema(self) -> StructType:
        return self._footer_schema() or self.spark.read.parquet(self.path).schema

    def max_of(self, column: str):
        """Max of an integer column. On a local unpartitioned target it
        is folded from the footers' row-group statistics on the driver;
        a URI path, a partitioned target or a non-empty row group
        without min/max statistics takes a Spark aggregate instead."""
        files = self._data_files()
        maxima = [_UNKNOWN] if files is None else []
        for path in files or []:
            meta = pq.read_metadata(path)
            maxima += [_row_group_max(meta.row_group(i), column)
                       for i in range(meta.num_row_groups)]
        if any(m is _UNKNOWN for m in maxima):
            return self.read().agg(F.max(column)).collect()[0][0]
        return max((m for m in maxima if m is not None), default=None)

    def exists(self) -> bool:
        if self.live():
            try:
                self._schema = self._schema or self._infer_schema()
                return True
            except Exception as exc:
                raise RuntimeError(
                    f"target at {self.path} exists but is unreadable as "
                    "parquet — partial state from an interrupted write; "
                    "restore or delete it explicitly rather than letting "
                    "a merge silently reinitialize over history"
                ) from exc
        return False

    def read(self) -> DataFrame:
        self._recover()
        self._schema = self._schema or self._infer_schema()
        return self.spark.read.schema(self._schema).parquet(self.path)

    def _write(self, df: DataFrame | pa.Table, path: str) -> None:
        if isinstance(df, pa.Table):
            # a driver-sized table (catalog rollups): one file written
            # by pyarrow, no Spark job
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            tmp = os.path.join(path, ".part-00000.parquet.tmp")
            pq.write_table(df, tmp)
            os.replace(tmp, os.path.join(path, "part-00000.parquet"))
            self._schema = from_arrow_schema(df.schema)
            return
        df.write.mode("overwrite").partitionBy(*self.partition_by).parquet(path)
        self._schema = df.schema

    def overwrite(self, df: DataFrame | pa.Table) -> None:
        # stage the new state beside the live dir (the plan may read
        # from the live dir — staging never truncates its own input),
        # then swap: live -> __old, staging -> live, drop __old
        staging, backup = self._staging(), self._backup()
        self._write(df, staging)
        if os.path.exists(backup):
            shutil.rmtree(backup)
        os.rename(self.path, backup)
        os.rename(staging, self.path)
        shutil.rmtree(backup, ignore_errors=True)

    def write_initial(self, df: DataFrame | pa.Table) -> None:
        self._write(df, self.path)


_UNKNOWN = object()


def _row_group_max(rg: pq.RowGroupMetaData, column: str):
    """One row group's max of an integer column from its statistics:
    None when it holds no non-NULL value, ``_UNKNOWN`` when the
    statistics cannot tell (absent, or not an integer column)."""
    if rg.num_rows == 0:
        return None
    for j in range(rg.num_columns):
        chunk = rg.column(j)
        if chunk.path_in_schema != column:
            continue
        stats = chunk.statistics
        if stats is None or chunk.physical_type not in ("INT32", "INT64"):
            return _UNKNOWN
        if stats.has_min_max:
            return stats.max
        return None if stats.null_count == rg.num_rows else _UNKNOWN
    return _UNKNOWN

