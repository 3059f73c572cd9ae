"""Target-table abstraction for merge-style patterns, and the one way a
parquet table's files get replaced.

The reference runs merges through Delta MERGE (odibi/transformers/
scd.py:553-735, merge_transformer.py:406-640) and maintenance through
OPTIMIZE, all on one transaction log. Without Delta jars,
``ParquetTarget`` gives the same row semantics via read -> transform ->
``commit``, and every parquet table the library maintains is committed
this way: the merge patterns, ``write_sink`` (quarantines and semantic
materializations too), compaction, ``maintain --zorder-by``, the
catalog, the parquet HWM and CMS states, and (``replace_partitions``)
the signature store, the ANN codes and the streaming dedup outputs.
It is the seam where ``DeltaTable`` plugs in on a real cluster. Each
instance learns the schema at most once; on a local unpartitioned
target it comes from the first data file's footer through Spark's own converter
(``io.read.footer_schema``), and ``max_of`` from row-group statistics,
so neither launches a Spark job (URI paths, partitioned dirs and
row groups without statistics fall back to Spark).

A commit (the model is Structured Streaming's ``_spark_metadata`` log):
a read notes the newest version n (0 without a ``_log``) and the data
files; the writer stages new files under ``_staging/<n+1>-<id>``
(``_`` names are invisible to Spark, DuckDB's ``*.parquet`` glob and
``pyarrow.dataset``); it publishes ``_log/<n+1>.json`` — files added
and removed, rows, bytes, file count, caller metadata — whole, and only
if that version is free (a temp file and ``os.link`` on local paths; on
URIs a Hadoop rename, which HDFS refuses onto an existing name); the
loser drops its staging and raises ``CommitConflict``. Then it applies
the record: staged files move in, removed files go. Every read first
re-applies a published record whose staging is still there (applying
is idempotent) and sweeps staging no record names once its version is
taken: staging for the next version may be a writer still running.
A commit builds on the version its writer's first read noted, so data
read before another writer's commit conflicts. Records are never
deleted, so no stale writer can reuse a version number.
After a commit returns the directory holds exactly the committed files,
so directory readers need no log. A live dir that is unreadable as
parquet raises rather than reading as absent, so a fold never silently
reinitializes over history. A DataFrame read BEFORE a later commit
references removed files: re-read after every apply.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

LOG_DIR = "_log"
STAGING_DIR = "_staging"


class CommitConflict(RuntimeError):
    """Another writer published the version a commit needed: the table
    changed after this writer read it. Re-read and redo the work."""


class ParquetTarget:
    def __init__(self, spark: SparkSession, path: str, partition_by=None):
        from odibi_spark.io.append import _is_local  # io imports this module

        self.spark = spark
        self.path = path.rstrip("/")
        self.partition_by = partition_by or []
        self._schema = None  # set by the first inference or write
        self._fs = _LocalFiles() if _is_local(path) else _HadoopFiles(spark, path)
        # the newest version and the (relative path, bytes) data files
        # the last read saw; a commit builds on them
        self.version: int | None = None
        self.files: list[tuple[str, int]] = []

    def _at(self, *parts: str) -> str:
        return "/".join((self.path, *parts))

    def _latest_version(self) -> int:
        return latest_version(lambda n: self._fs.exists(self._at(LOG_DIR, f"{n}.json")))

    def record(self, version: int) -> dict | None:
        """The published record of ``version``; None when absent."""
        text = self._fs.read_text(self._at(LOG_DIR, f"{version}.json"))
        return None if text is None else json.loads(text)

    def _roll(self) -> int:
        """Finish every published commit, sweep staging no record names
        and return the newest version (see the module docstring)."""
        if self._fs.is_file(self.path):
            raise NotADirectoryError(
                f"parquet table path '{self.path}' is a file: a table needs "
                "a directory; remove the file or use another path"
            )
        version = self._latest_version()
        for name, _, _ in self._fs.ls(self._at(STAGING_DIR)):
            n = int(name.split("-", 1)[0])
            if n > version:  # a writer may still publish it
                continue
            rec = self.record(n)
            if rec is not None and rec["staging"] == name:
                self._apply(rec)
            else:
                self._fs.delete(self._at(STAGING_DIR, name))
        return version

    def live(self) -> bool:
        """``_roll``, then note the version and the data files; returns
        whether any exist. Launches no Spark job. A later look keeps the
        version the first one noted (until a commit), so a commit on
        data read before it conflicts. A file path raises
        ``NotADirectoryError``."""
        version = self._roll()
        files = _list_data(self._fs, self.path)
        if self.version in (None, version):
            self.version, self.files = version, files
        return bool(files)

    def _data_files(self) -> list[str] | None:
        """The live dir's data files, or None where only Spark's listing
        will do (``io.read.parquet_files``; a partitioned target)."""
        from odibi_spark.io.read import parquet_files  # io imports this module

        return None if self.partition_by else parquet_files(self.path)

    def _footer_schema(self) -> StructType | None:
        """Spark's inferred schema, read on the driver from the first
        data file's footer (``io.read.footer_schema``), so no job runs.
        None when ``_data_files`` is None or empty."""
        from odibi_spark.io.read import footer_schema

        files = self._data_files()
        return footer_schema(self.spark, files[0]) if files else None

    def _infer_schema(self) -> StructType:
        return self._footer_schema() or self.spark.read.parquet(self.path).schema

    def max_of(self, column: str):
        """Max of an integer column. On a local unpartitioned target it
        is folded from the footers' row-group statistics on the driver;
        a URI path, a partitioned target or a non-empty row group
        without min/max statistics takes a Spark aggregate instead."""
        from odibi_spark.io.read import _UNKNOWN, column_stats

        files = self._data_files()
        stats = [_UNKNOWN] if files is None else [column_stats(pq.read_metadata(f), column) for f in files]
        if any(st is _UNKNOWN for st in stats):
            return self.read().agg(F.max(column)).collect()[0][0]
        return max((hi for _, hi, _ in stats if hi is not None), default=None)

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
        self.live()
        self._schema = self._schema or self._infer_schema()
        return self.spark.read.schema(self._schema).parquet(self.path)

    def commit(self, stage, remove: list[str] | None = None, meta: dict | None = None) -> dict:
        """Replace data files in one version. ``stage(dir)`` writes the
        new files under ``dir``; ``remove`` names the data files
        (relative paths) they replace, every file the last read saw
        when None; it is read once ``stage`` returns, so a stage may
        fill it from the files it wrote; only a None ``remove`` lists
        the table. ``meta`` rides in the record (the previous record's
        when None). Raises ``CommitConflict`` when another writer
        committed since that read. Returns the record."""
        if self.version is None:
            if remove is None:
                self.live()
            else:
                self.version = self._roll()
        n = self.version + 1
        name = f"{n}-{uuid.uuid4().hex}"
        staged = self._at(STAGING_DIR, name)
        try:
            stage(staged)
            added = _list_data(self._fs, staged)
            record = {
                "version": n,
                "staging": name,
                "add": [rel for rel, _ in added],
                "remove": [rel for rel, _ in self.files] if remove is None else list(remove),
                "rows": self._rows(staged, added),
                "bytes": sum(size for _, size in added),
                "files": len(added),
                "meta": (self.record(self.version) or {}).get("meta", {}) if meta is None else meta,
            }
        except Exception:
            self._fs.delete(staged)  # a failed stage's partial files
            if self._latest_version() >= n:  # the winner swept this staging
                self._conflict(n, staged)
            raise
        self._publish(record)
        self._apply(record)
        self.version = None
        if remove is None:
            self.live()  # notes the committed files
        return record

    def replace_partitions(self, stage, meta: dict | None = None) -> dict:
        """Commit what ``stage(dir)`` writes, removing the live files
        under each outermost partition dir it wrote and nothing else
        (Spark's dynamic partition overwrite at that granularity): a
        replayed batch replaces its own files, a stage writing no rows
        replaces nothing."""
        if self.version is None:
            self.live()
        replaced: list[str] = []

        def stage_then_match(staged: str) -> None:
            stage(staged)
            # the staged dir names, as Spark escaped the values (epoch%3D3)
            dirs = {_partition_dir(rel) for rel, _ in _list_data(self._fs, staged)} - {None}
            replaced.extend(rel for rel, _ in self.files if _partition_dir(rel) in dirs)

        return self.commit(stage_then_match, remove=replaced, meta=meta)

    def _publish(self, record: dict) -> None:
        n = record["version"]
        if not self._fs.publish(self._at(LOG_DIR, f"{n}.json"), json.dumps(record)):
            self._conflict(n, self._at(STAGING_DIR, record["staging"]))

    def _conflict(self, n: int, staged: str):
        self._fs.delete(staged)
        self.version = None  # a retry re-reads
        raise CommitConflict(
            f"version {n} of {self.path} was committed by another "
            f"writer after this one read version {n - 1}"
        )

    def _apply(self, record: dict) -> None:
        """Move the staged files in, delete the removed ones (and the
        partition dirs they empty), drop the staging dir. Idempotent."""
        staged = self._at(STAGING_DIR, record["staging"])
        for rel in record["add"]:
            self._fs.move(f"{staged}/{rel}", self._at(rel))
        for rel in record["remove"]:
            self._fs.delete(self._at(rel))
        dirs = {rel.rsplit("/", i)[0] for rel in record["remove"] for i in range(1, rel.count("/") + 1)}
        for d in sorted(dirs, key=len, reverse=True):
            self._fs.prune(self._at(d))
        self._fs.delete(staged)

    def _rows(self, staged: str, added: list[tuple[str, int]]) -> int | None:
        """Rows in the staged files, from their parquet footers; None
        where the footers are not read on the driver (URI paths)."""
        if not isinstance(self._fs, _LocalFiles) or not all(r.endswith(".parquet") for r, _ in added):
            return None
        return sum(pq.read_metadata(f"{staged}/{rel}").num_rows for rel, _ in added)

    def _write(self, df: DataFrame | pa.Table, path: str) -> None:
        if isinstance(df, pa.Table) and not isinstance(self._fs, _LocalFiles):
            df = self.spark.createDataFrame(df.to_pylist(), from_arrow_schema(df.schema))
        if isinstance(df, pa.Table):
            # a driver-sized table (catalog rollups): one file written
            # by pyarrow, no Spark job
            os.makedirs(path)
            pq.write_table(df, os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"))
            self._schema = from_arrow_schema(df.schema)
            return
        df.write.mode("overwrite").partitionBy(*self.partition_by).parquet(path)
        self._schema = df.schema

    def overwrite(self, df: DataFrame | pa.Table) -> None:
        # the plan may read from the live dir: staging never touches it
        self.commit(lambda staged: self._write(df, staged))

    def append(self, data: DataFrame | pa.Table) -> dict:
        """Commit ``data``'s rows, removing nothing. A pyarrow table
        that loses the publish is staged again on the newer version, so
        concurrent appenders all land; a DataFrame raises
        ``CommitConflict`` (staging again would re-run its plan)."""
        while True:
            try:
                return self.commit(lambda staged: self._write(data, staged), remove=[])
            except CommitConflict:
                if not isinstance(data, pa.Table):
                    raise

    # a first write is the same commit, from version 0 on a new table
    write_initial = overwrite


def latest_version(taken) -> int:
    """The newest version for which ``taken(n)`` holds, 0 when none does,
    by galloping search in O(log n) probes: versions run densely from 1
    (each writer read the one before)."""
    lo, hi = 0, 1  # taken(lo) (version 0 always is), not taken(hi)
    while taken(hi):
        lo, hi = hi, 2 * hi
    while hi - lo > 1:
        mid = (lo + hi) // 2
        lo, hi = (mid, hi) if taken(mid) else (lo, mid)
    return lo


def hidden(name: str) -> bool:
    """Whether Spark's listing skips ``name``: ``.`` names, and ``_``
    names but partition dirs (``_load_date=2024-01-01`` is data)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _partition_dir(rel: str) -> str | None:
    """The outermost partition dir of the data file ``rel``: its path
    up to the first ``name=value`` dir (``sigs/batch_id=1``), or None."""
    m = re.match(r"([^=]*=[^/]*)/", rel)
    return m and m.group(1)


def _list_data(fs, root: str, prefix: str = "") -> list[tuple[str, int]]:
    """(path relative to ``root``, bytes) of every data file under
    ``root``, partition dirs included; names Spark's listing skips are
    skipped at every level."""
    out = []
    for name, is_dir, size in fs.ls(root):
        if hidden(name):
            continue
        if is_dir:
            out += _list_data(fs, f"{root}/{name}", f"{prefix}{name}/")
        else:
            out.append((prefix + name, size))
    return sorted(out)


class _LocalFiles:
    """The file operations a commit needs, on a local path."""

    def ls(self, d: str) -> list[tuple[str, bool, int]]:
        try:
            with os.scandir(d) as entries:
                return [(e.name, e.is_dir(), 0 if e.is_dir() else e.stat().st_size) for e in entries]
        except FileNotFoundError:
            return []

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def is_file(self, p: str) -> bool:
        return os.path.isfile(p)

    def read_text(self, p: str) -> str | None:
        try:
            with open(p, encoding="utf-8") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def publish(self, final: str, text: str) -> bool:
        """Write ``final`` whole, only if it does not exist yet."""
        d, base = os.path.split(final)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{base}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(text)
        try:
            os.link(tmp, final)  # atomic, and fails if final exists
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    def move(self, src: str, dst: str) -> None:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.replace(src, dst)
        except FileNotFoundError:
            if not os.path.exists(dst):  # else an earlier apply moved it
                raise

    def delete(self, p: str) -> None:
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
            return
        d, base = os.path.split(p)
        for f in (p, os.path.join(d, f".{base}.crc")):  # and Hadoop's checksum
            try:
                os.remove(f)
            except FileNotFoundError:
                pass

    def prune(self, d: str) -> None:
        try:
            os.rmdir(d)
        except OSError:  # not empty, or gone
            pass


class _HadoopFiles:
    """The same operations through the Hadoop FileSystem API (URIs)."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        self._fs = self._p(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def ls(self, d: str) -> list[tuple[str, bool, int]]:
        if not self._fs.exists(self._p(d)):
            return []
        return [
            (st.getPath().getName(), st.isDirectory(), st.getLen())
            for st in self._fs.listStatus(self._p(d))
        ]

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._p(p)))

    def is_file(self, p: str) -> bool:
        return self.exists(p) and bool(self._fs.getFileStatus(self._p(p)).isFile())

    def read_text(self, p: str) -> str | None:
        if not self._fs.exists(self._p(p)):
            return None
        stream = self._fs.open(self._p(p))
        try:
            return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)).decode("utf-8")
        finally:
            stream.close()

    def publish(self, final: str, text: str) -> bool:
        d, base = final.rsplit("/", 1)
        tmp = self._p(f"{d}/.{base}.{uuid.uuid4().hex}.tmp")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        try:
            # HDFS's rename fails onto an existing name
            return not self._fs.exists(self._p(final)) and self._fs.rename(tmp, self._p(final))
        finally:
            self._fs.delete(tmp, False)

    def move(self, src: str, dst: str) -> None:
        self._fs.mkdirs(self._p(dst).getParent())
        if not self._fs.rename(self._p(src), self._p(dst)) and not self._fs.exists(self._p(dst)):
            raise OSError(f"rename {src} -> {dst} failed")

    def delete(self, p: str) -> None:
        self._fs.delete(self._p(p), True)

    def prune(self, d: str) -> None:
        if self._fs.exists(self._p(d)) and not self._fs.listStatus(self._p(d)):
            self._fs.delete(self._p(d), False)
