"""Target-table abstraction for merge-style patterns.

The reference performs all merge patterns through Delta MERGE
(odibi/transformers/scd.py:553-735, merge_transformer.py:406-640).
Without Delta jars, ``ParquetTarget`` gives the same row semantics via
read -> transform -> staged-overwrite, and is the only parquet rewrite
path for merges: the patterns' and ``write_sink``'s merge modes. The
interface is the seam where ``DeltaTarget`` (partition-pruned,
ACID-transactional MERGE) plugs in on a real cluster — call sites are
identical. Each instance infers the schema at most once (a Spark job)
and reads with the known schema after that. A driver-sized state (the
catalog's rollups) can be staged as a ``pyarrow.Table`` instead of a
DataFrame; it goes through the same swap.

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

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema


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

    def exists(self) -> bool:
        if self.live():
            try:
                self._schema = self._schema or self.spark.read.parquet(self.path).schema
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
        self._schema = self._schema or self.spark.read.parquet(self.path).schema
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
