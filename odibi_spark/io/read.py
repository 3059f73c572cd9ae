"""Source readers (reference: odibi/engine/spark_engine.py:497-902,
ReadConfig odibi/config.py:2591-2788).

Spark-first: ``spark.read.format(fmt).options(...).load(path)`` with
options passthrough, a read-time filter (applied post-load so Catalyst
pushes it into the scan — reference :672-674), and custom-format
plugin registration (reference: odibi/engine/base.py:16-28).

Scale note: every reader returns a lazy DataFrame; filters/projections
supplied here reach the parquet scan as PushedFilters/ReadSchema. A
parquet read on a local flat directory can be planned on the driver
from the files' footers (``parquet_footers``: Spark's schema from its
own footer converter, per-file column statistics); given that plan
(``PlannedRead``) the read infers nothing and opens only the files
named, so a steady incremental batch costs no metadata job. The
footers are re-read on every plan: O(files in the directory) small
driver reads, no data scan.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from odibi_spark.io.append import _is_local
from odibi_spark.patterns.merge_target import hidden

# Custom format plugins: name -> reader(spark, path, options) -> DataFrame
_CUSTOM_READERS: dict[str, Callable[..., DataFrame]] = {}


def register_format(name: str, reader: Callable[..., DataFrame]) -> None:
    """Plugin hook for user formats (reference: engine/base.py:16-28)."""
    _CUSTOM_READERS[name] = reader


#: builtin formats read_table dispatches on before the plugin hook
_BUILTIN_FORMATS = [
    "parquet", "csv", "json", "orc", "text", "avro", "delta",
    "simulation", "api", "cloudfiles", "jdbc", "rate", "kafka", "socket",
]


def list_formats() -> list[str]:
    """Builtin + plugin-registered read formats (CLI `list formats`)."""
    return sorted(set(_BUILTIN_FORMATS) | set(_CUSTOM_READERS))


# footer key under which Spark's writer stores the frame's schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def parquet_files(path: str) -> list[str] | None:
    """The data files of a local flat parquet directory, sorted, named
    by Spark's listing rule (``merge_target.hidden``); None where only
    Spark's listing will do: a URI path, no directory, a partitioned or
    otherwise nested directory, or summary metadata (``_metadata``,
    ``_common_metadata``, which Spark's inference reads first)."""
    if not _is_local(path):
        return None
    try:
        with os.scandir(path) as it:
            entries = list(it)
    except OSError:  # absent, or a file
        return None
    files = []
    for e in entries:
        if e.name in ("_metadata", "_common_metadata"):
            return None
        if hidden(e.name):
            continue
        if e.is_dir():
            return None
        files.append(e.path)
    return sorted(files)


def jvm_class(spark: SparkSession, name: str) -> JavaClass:
    """The JVM class ``name`` (fully qualified) in one py4j lookup; the
    ``spark._jvm.org.apache...`` path costs one per package segment."""
    return JavaClass(name, spark.sparkContext._gateway._gateway_client)


def footer_schema(spark: SparkSession, file: str) -> StructType:
    """The schema Spark's inference gives a parquet file, read from its
    footer on the driver by Spark's own code
    (``ParquetFileFormat.readSchemaFromFooter`` with the session's
    ``ParquetToSparkSchemaConverter``), made nullable as inference does.
    No job runs."""
    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    p = jvm_class(spark, "org.apache.hadoop.fs.Path")(file)
    meta = jvm_class(spark, parquet + "ParquetFooterReader").readFooter(
        jvm_class(spark, "org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(
            p, spark._jsc.hadoopConfiguration()),
        jvm_class(spark, "org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
    )
    converter = jvm_class(spark, parquet + "ParquetToSparkSchemaConverter")(
        spark._jsparkSession.sessionState().conf())
    footer = jvm_class(spark, "org.apache.parquet.hadoop.Footer")(p, meta)
    schema = jvm_class(spark, parquet + "ParquetFileFormat").readSchemaFromFooter(footer, converter)
    return StructType.fromJson(json.loads(schema.asNullable().json()))


#: statistics that cannot tell
_UNKNOWN = object()


def column_stats(meta: pq.FileMetaData, column: str):
    """(min, max, NULL count) of a top-level INT32/INT64 column over a
    file's non-empty row groups, from their statistics, as stored (the
    physical values); min and max are None when no value is non-NULL,
    the count None when a row group does not record it. ``_UNKNOWN``
    when the statistics cannot tell min and max."""
    lo = hi = None
    nulls = 0
    for r in range(meta.num_row_groups):
        rg = meta.row_group(r)
        if rg.num_rows == 0:
            continue
        chunks = [rg.column(j) for j in range(rg.num_columns) if rg.column(j).path_in_schema == column]
        if len(chunks) != 1 or chunks[0].physical_type not in ("INT32", "INT64"):
            return _UNKNOWN
        st = chunks[0].statistics
        if st is None:
            return _UNKNOWN
        if st.has_min_max:
            lo = st.min_raw if lo is None else min(lo, st.min_raw)
            hi = st.max_raw if hi is None else max(hi, st.max_raw)
        elif not (st.has_null_count and st.null_count == rg.num_rows):
            return _UNKNOWN
        nulls = nulls + st.null_count if nulls is not None and st.has_null_count else None
    return lo, hi, nulls


@dataclass(frozen=True)
class FileStats:
    """One data file's HWM column statistics, in the units Spark compares
    the column in (epoch microseconds, epoch days or the integer); min
    and max are None when it holds no non-NULL value, ``_UNKNOWN`` when
    the statistics cannot tell (the file is then always opened)."""

    path: str
    min: Any
    max: Any
    nulls: int | None


@dataclass(frozen=True)
class Footers:
    schema: StructType
    files: list[FileStats]


@dataclass(frozen=True)
class PlannedRead:
    """A parquet read planned on the driver: Spark's schema of the
    directory, and the files to open, named from the listing the plan
    was built from (the directory is not listed again)."""

    schema: StructType
    files: list[str]


def _stat_scale(col: pq.ColumnSchema) -> int | None:
    """Factor from stored values to Spark's comparison units: 1 for
    signed integers, dates and microsecond timestamps, 1000 for
    millisecond timestamps; None for anything else (unsigned, nanos)."""
    logical = json.loads(col.logical_type.to_json()) if col.logical_type.type != "NONE" else {}
    kind = logical.get("Type")
    if kind == "Timestamp":
        return {"milliseconds": 1000, "microseconds": 1}.get(logical.get("timeUnit"))
    if kind in (None, "Date") or (kind == "Int" and logical.get("isSigned")):
        ok = ("NONE", "DATE", "INT_8", "INT_16", "INT_32", "INT_64")
        return 1 if col.converted_type in ok else None
    return None


def parquet_footers(spark: SparkSession, path: str, column: str) -> Footers | None:
    """Schema and per-file ``column`` statistics of a parquet directory,
    read from the footers on the driver; None unless they give exactly
    Spark's answer: a flat local directory (``parquet_files``) whose
    every data file reads as parquet with one identical schema and no
    legacy-calendar datetimes, and a top-level integer, date or
    timestamp (ms/µs) ``column`` stored as INT32/INT64."""
    files = parquet_files(path)
    if not files:
        return None
    try:
        metas = [pq.read_metadata(f) for f in files]
    except (OSError, pa.ArrowException):  # not parquet: Spark raises the reader's error
        return None
    first = metas[0]
    spark_schema = (first.metadata or {}).get(SPARK_SCHEMA_KEY)
    for m in metas:
        kv = m.metadata or {}
        if (not m.schema.equals(first.schema) or kv.get(SPARK_SCHEMA_KEY) != spark_schema
                or any(k.startswith(b"org.apache.spark.legacy") for k in kv)):
            return None
    leaves = [first.schema.column(i) for i in range(len(first.schema))]
    col = next((c for c in leaves if c.path == column), None)
    if (col is None or col.physical_type not in ("INT32", "INT64") or col.max_repetition_level
            or any("nanoseconds" in c.logical_type.to_json() for c in leaves)):
        return None
    scale = _stat_scale(col)
    if scale is None:
        return None
    schema = footer_schema(spark, files[0])
    if column not in schema.names:
        return None
    stats = []
    for f, m in zip(files, metas):
        st = column_stats(m, column)
        if st is _UNKNOWN:
            stats.append(FileStats(f, _UNKNOWN, _UNKNOWN, None))
        else:
            lo, hi, nulls = st
            stats.append(FileStats(f, None if lo is None else lo * scale,
                                   None if hi is None else hi * scale, nulls))
    return Footers(schema, stats)


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects outright. Footer inspection is a driver-side metadata
    read (no data scan), so it's O(1) regardless of table size. A
    directory ``parquet_files`` leaves to Spark (summary metadata, a
    subdirectory) is judged by its first top-level ``*.parquet`` file."""
    if os.path.isdir(path):
        files = parquet_files(path)
        if files is None:
            files = sorted(glob.glob(os.path.join(glob.escape(path), "*.parquet")))
    else:
        files = [path]
    if not files:
        return []
    try:
        schema = pq.read_schema(files[0])
    except Exception:
        return []
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def read_parquet(
    spark: SparkSession, path: str, planned: PlannedRead | None = None, **options: str
) -> DataFrame:
    """Parquet read that tolerates TIMESTAMP(NANOS) columns.

    Spark has no nanosecond timestamp type; ``nanosAsLong`` reads them
    as epoch-nanos LONG, which we truncate to microseconds — the same
    truncation DuckDB/pyarrow apply — restoring TimestampType.

    ``planned`` (from the footers) gives the schema, so nothing is
    inferred, and the files to open; none gives an empty frame. A
    planned read has no TIMESTAMP(NANOS) column (``parquet_footers``).
    """
    ns_cols = [] if planned else _nanos_timestamp_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if planned is None:
        df = spark.read.options(**options).parquet(path)
    elif not planned.files:
        jschema = jvm_class(spark, "org.apache.spark.sql.types.DataType").fromJson(planned.schema.json())
        rows = jvm_class(spark, "java.util.ArrayList")()
        df = DataFrame(spark._jsparkSession.createDataFrame(rows, jschema), spark)
    else:
        df = spark.read.options(**options).schema(planned.schema).parquet(*planned.files)
    dtypes = dict(df.dtypes)
    for c in ns_cols:
        # Only convert when nanosAsLong actually kicked in (INT64 nanos).
        # INT96 timestamps also show as timestamp[ns] in the pyarrow
        # footer but Spark reads them natively as TimestampType.
        if dtypes.get(c) != "bigint":
            continue
        # integer DIV, not float division — ns values exceed double's
        # 53-bit integer range, so `/ 1000` would round the microseconds
        df = df.withColumn(c, F.expr(f"timestamp_micros(CAST(`{c}` DIV 1000 AS BIGINT))"))
    # Parquet timestamps without a timezone (isAdjustedToUTC=false) infer
    # as TIMESTAMP_NTZ under Spark 4. Normalize to TimestampType so the
    # engine presents one timestamp type regardless of how the file was
    # written. The cast interprets the stored wall-clock in the session
    # timezone, so wall-clock display is preserved in any session tz;
    # the resulting *instant* matches DuckDB/pyarrow only when the
    # session is UTC (get_spark pins it).
    for field in df.schema.fields:
        new_type, changed = _replace_ntz(field.dataType)
        if changed:
            quoted = "`" + field.name.replace("`", "``") + "`"
            df = df.withColumn(field.name, F.col(quoted).cast(new_type))
    return df


def _replace_ntz(dt):
    """Recursively rewrite TimestampNTZType -> TimestampType inside
    structs/arrays/maps. Returns (new_type, changed)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType(), True
    if isinstance(dt, T.StructType):
        fields, changed = [], False
        for f in dt.fields:
            new, ch = _replace_ntz(f.dataType)
            changed = changed or ch
            fields.append(T.StructField(f.name, new, f.nullable, f.metadata))
        return (T.StructType(fields), True) if changed else (dt, False)
    if isinstance(dt, T.ArrayType):
        new, ch = _replace_ntz(dt.elementType)
        return (T.ArrayType(new, dt.containsNull), True) if ch else (dt, False)
    if isinstance(dt, T.MapType):
        nk, ck = _replace_ntz(dt.keyType)
        nv, cv = _replace_ntz(dt.valueType)
        if ck or cv:
            return T.MapType(nk, nv, dt.valueContainsNull), True
        return dt, False
    return dt, False


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table: ``{sf_dir}/{name}.parquet``."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def scale_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan a narrow-split input out to the cluster's parallelism
    before CPU-heavy per-row work.

    A file smaller than ``spark.sql.files.maxPartitionBytes`` (or with
    a single row group) arrives as ONE input split, so every map-side
    expression — shingling, hashing, regex chains, decimal partial
    aggregation — runs on one core no matter how many the cluster has.
    This helper round-robin-repartitions ONLY when the current
    partition count is below the target (default
    ``sparkContext.defaultParallelism``); at real scale, where input
    splits already exceed cluster parallelism, it is a no-op returning
    ``df`` unchanged — the small-input case pays one cheap shuffle of
    data that is by definition small. Filters and column pruning still
    reach the scan (Catalyst pushes both through Repartition), and the
    explicit partition count keeps AQE from coalescing the fan-out
    away.

    Call this on (near-)scan frames only: the partition-count guard
    reads ``df.rdd``, and under AQE converting a plan WITH SHUFFLES to
    an RDD materializes its query stages — i.e. runs real jobs at what
    looks like build time. On a raw read (this helper's purpose) no
    job runs.
    """
    target = (
        min_partitions
        if min_partitions is not None
        else df.sparkSession.sparkContext.defaultParallelism
    )
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def read_source(
    spark: SparkSession,
    *,
    format: str,
    path: str | None = None,
    table: str | None = None,
    schema: str | None = None,
    options: dict[str, object] | None = None,
    filter: str | None = None,
    columns: list[str] | None = None,
    streaming: bool = False,
    planned: PlannedRead | None = None,
) -> DataFrame:
    """Declarative read (reference: spark_engine.py:856-888 batch,
    :830-855 streaming; read-time filter :672-674).

    ``filter``/``columns`` are applied immediately after load so they
    are part of the scan plan (predicate pushdown + column pruning).
    ``planned`` is a parquet read planned from the footers (see
    ``read_parquet``).
    """
    fmt = format.lower()
    opts = {k: str(v) for k, v in (options or {}).items()}

    if fmt in _CUSTOM_READERS:
        df = _CUSTOM_READERS[fmt](spark, path, opts)
    elif streaming:
        reader = spark.readStream.format(fmt).options(**opts)
        if schema:
            reader = reader.schema(schema)
        elif fmt in ("csv", "json", "avro"):
            raise ValueError(f"streaming {fmt} read requires an explicit DDL schema")
        # pathless sources (rate, kafka, socket) configure via options only
        df = reader.load(path) if path else reader.load()
    elif fmt == "jdbc":
        # filter is consumed by the pushdown rewrite (reaches the DB),
        # not applied post-load
        merged = jdbc_read_options(
            table=table, query=opts.pop("query", None), filter=filter, options=opts
        )
        df = spark.read.format("jdbc").options(**merged).load()
        filter = None
    elif fmt == "api":
        # driver-side paginated HTTP fetch (sources/api.py); path is
        # the URL and options pass through UN-stringified — fetch_all
        # takes dict/int/callable kwargs (params, page_size, transport)
        from odibi_spark.sources.api import read_api

        df = read_api(spark, path, schema=schema, **(options or {}))
    elif table:
        df = spark.read.table(table)
    elif fmt == "parquet":
        df = read_parquet(spark, path, planned, **opts)
    elif fmt == "csv":
        # bool header normalization (reference: spark_engine.py:866)
        opts.setdefault("header", "true")
        reader = spark.read.options(**opts)
        if schema:
            reader = reader.schema(schema)
        df = reader.csv(path)
    elif fmt == "json":
        reader = spark.read.options(**opts)
        if schema:
            reader = reader.schema(schema)
        df = reader.json(path)
    elif fmt == "avro":
        df = _read_avro(spark, path, schema, opts)
    elif fmt in ("orc", "text"):
        df = spark.read.format(fmt).options(**opts).load(path)
    elif fmt == "delta":
        # time travel: versionAsOf / timestampAsOf pass through the
        # standard option channel (reference spark_engine.py:518-545;
        # helper io/delta_ops.time_travel_options builds them). Needs
        # delta-spark on the classpath — absent here, Spark raises
        # DATA_SOURCE_NOT_FOUND with the jar coordinates.
        df = spark.read.format("delta").options(**opts).load(path)
    else:
        raise ValueError(f"unsupported source format '{format}'")

    if filter:
        df = df.filter(filter)
    if columns:
        df = df.select(*columns)
    return df


def _read_avro(
    spark: SparkSession, path: str, schema: str | None, opts: dict
) -> DataFrame:
    """Avro batch read (reference: spark_engine.py:856-888 lists avro
    among the standard formats). Avro ships as the *external*
    spark-avro module, so on a bare classpath the load fails with
    FAILED_FIND_AVRO_SOURCE — re-raised here as a precise gated error
    with the exact package coordinates. When the jar IS present the
    same call shape works unchanged (contract-tested with a mocked
    reader builder, like Delta)."""
    reader = spark.read.format("avro").options(**opts)
    if schema:
        reader = reader.schema(schema)
    try:
        return reader.load(path)
    except Exception as ex:
        msg = str(ex)
        if "FAILED_FIND_AVRO_SOURCE" in msg or "Failed to find data source" in msg:
            scala = "2.13" if spark.version >= "4" else "2.12"
            raise RuntimeError(
                "avro reads need the external spark-avro module on the "
                "classpath: launch with --packages "
                f"org.apache.spark:spark-avro_{scala}:{spark.version} "
                "(or add the jar to spark.jars). The call shape is "
                "otherwise ready — no code change needed once present."
            ) from ex
        raise


def _read_excel(spark: SparkSession, path: str, opts: dict) -> DataFrame:
    """Excel bridge (reference: spark_engine.py:707-742, pandas
    `_read_excel_with_patterns`): pandas reads the workbook driver-side,
    Arrow ships it to Spark. ``sheet_pattern`` globs sheet names and
    unions matches with a ``_sheet_name`` column; ``sheet_name`` picks
    one sheet. Uses pandas+openpyxl when available, else falls back to
    the pure-Python SpreadsheetML reader in ``io.xlsx`` — either way a
    real .xlsx parses end-to-end. Tests may still inject a reader via
    ``set_excel_reader``.
    """
    import fnmatch

    read_excel = _EXCEL_READER or _default_excel_reader
    sheet_pattern = opts.pop("sheet_pattern", None)
    sheet_name = opts.pop("sheet_name", None)
    kw = {k: v for k, v in opts.items() if k in ("header", "skiprows", "usecols")}
    for k in ("header", "skiprows"):
        # read_source stringifies option values; pandas wants ints here
        if isinstance(kw.get(k), str) and kw[k].isdigit():
            kw[k] = int(kw[k])
    try:
        if sheet_pattern:
            all_sheets = read_excel(path, sheet_name=None, **kw)
            matched = {
                name: pdf
                for name, pdf in all_sheets.items()
                if fnmatch.fnmatch(name, sheet_pattern)
            }
            if not matched:
                raise ValueError(
                    f"no sheets match pattern '{sheet_pattern}' "
                    f"(have: {sorted(all_sheets)})"
                )
            frames = [
                spark.createDataFrame(pdf).withColumn("_sheet_name", F.lit(name))
                for name, pdf in sorted(matched.items())
            ]
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f, allowMissingColumns=True)
            return out
        pdf = read_excel(path, sheet_name=sheet_name or 0, **kw)
        return spark.createDataFrame(pdf)
    except ImportError as ex:
        raise ImportError(
            "excel reads need openpyxl (`pip install openpyxl`), which is "
            "not available in this environment"
        ) from ex


def _default_excel_reader(path, sheet_name=0, **kw):
    """pandas+openpyxl when present, else the pure-Python xlsx reader."""
    try:
        import openpyxl  # noqa: F401
    except ImportError:
        from odibi_spark.io.xlsx import read_xlsx

        return read_xlsx(path, sheet_name=sheet_name, **kw)
    import pandas as pd

    return pd.read_excel(path, sheet_name=sheet_name, **kw)


_EXCEL_READER = None  # test hook: inject a pandas-compatible reader


def set_excel_reader(fn) -> None:
    """Install a pandas-read_excel-compatible callable (tests inject a
    fake; clusters may install a tuned reader)."""
    global _EXCEL_READER
    _EXCEL_READER = fn


register_format("excel", _read_excel)


def jdbc_read_options(
    *,
    table: str | None = None,
    query: str | None = None,
    filter: str | None = None,
    options: dict | None = None,
) -> dict:
    """Build the option map for a JDBC read with WHERE-clause pushdown
    (reference: spark_engine.py:562-587 rewrites ``filter`` into the
    source query so the database scans less).

    Deliberate fix vs the reference: when the existing query already has
    a WHERE, the reference emits ``(query) AND (filter)`` — invalid SQL
    (spark_engine.py:572-574). Here every filtered query is wrapped as
    ``SELECT * FROM (query) AS _subq WHERE filter``, which is valid for
    any inner query.

    For scale, pass ``partitionColumn/lowerBound/upperBound/
    numPartitions`` through ``options`` — without them a JDBC read is a
    single connection on one executor.
    """
    merged = dict(options or {})
    if query:
        merged.pop("dbtable", None)
        merged["query"] = (
            f"SELECT * FROM ({query}) AS _subq WHERE {filter}" if filter else query
        )
    elif table:
        merged.pop("dbtable", None)
        if filter:
            merged["query"] = f"SELECT * FROM {table} WHERE {filter}"
        else:
            merged["dbtable"] = table
    elif "dbtable" not in merged and "query" not in merged:
        raise ValueError("jdbc read requires 'table' or a 'query' option")
    return merged


def cloudfiles_read_options(
    *,
    format: str,
    schema_location: str | None = None,
    max_files_per_trigger: int | None = None,
    infer_column_types: bool | None = None,
    options: dict[str, object] | None = None,
) -> dict[str, str]:
    """Databricks Autoloader option builder (reference:
    spark_engine.py:815-855). Use with
    ``read_source(format='cloudFiles', streaming=True, options=...)``
    — the cloudFiles DataSource itself exists only on Databricks, so
    executing the read off-platform fails with DATA_SOURCE_NOT_FOUND;
    the option shape here is the portable part.

    Schema note (parity with the reference's warning logic): cloudFiles
    needs either an explicit DDL schema, a ``schema_location`` for
    schema evolution tracking, or a self-describing inner format
    (avro/parquet)."""
    out: dict[str, str] = {"cloudFiles.format": format}
    if schema_location:
        out["cloudFiles.schemaLocation"] = schema_location
    if max_files_per_trigger is not None:
        out["cloudFiles.maxFilesPerTrigger"] = str(max_files_per_trigger)
    if infer_column_types is not None:
        out["cloudFiles.inferColumnTypes"] = str(infer_column_types).lower()
    for k, v in (options or {}).items():
        key = k if str(k).startswith("cloudFiles.") else f"cloudFiles.{k}"
        out[key] = str(v)
    if format not in ("avro", "parquet") and not schema_location:
        import logging

        logging.getLogger(__name__).warning(
            "cloudFiles '%s' without schema_location: supply an explicit "
            "DDL schema or schema evolution will not be tracked", format,
        )
    return out


def _read_webdataset(spark, path, opts):
    """Builtin-registered reader for WebDataset tar shards (the
    llm/webdataset.py sink's counterpart): one row per sample, binary
    member columns. ``members`` option accepts a dict (YAML) or its
    JSON/py-literal string form."""
    import ast

    from odibi_spark.llm.webdataset import read_webdataset

    members = opts.get("members")
    if isinstance(members, str):
        members = ast.literal_eval(members)
    return read_webdataset(
        spark, path, members=members, key_type=opts.get("key_type", "string")
    )


register_format("webdataset", _read_webdataset)
