"""Driver-side rows for small metadata tables: the catalog's meta
tables and the parquet HWM state.

Their appends are ``ParquetTarget.append`` commits of a pyarrow table
built by ``rows_table``: one file staged and one ``_log/<n>.json``
record published per call, and an append that loses the publish to a
concurrent one is staged again on the newer version, so every
appender lands (the reference's catalog state retries concurrent Delta
commits the same way, odibi/state/__init__.py:43-107). Roots with a
URI scheme commit through the Hadoop FileSystem API.

``read_rows`` loads a local table with ``pyarrow.dataset`` (hidden
``.``/``_`` files skipped, as Spark's listing does), so catalog lookups
and folds and the parquet HWM state launch no Spark job. Paths with a
URI scheme fall back to a Spark read with the given schema.
"""

from __future__ import annotations

import os

import pyarrow as pa

_PA_TYPES = {
    "string": pa.string(),
    "bigint": pa.int64(),
    "long": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
}


def _is_local(path: str) -> bool:
    return "://" not in path and not path.startswith("dbfs:")


def parse_ddl(ddl_schema: str) -> pa.Schema:
    fields = []
    for part in ddl_schema.split(","):
        name, typ = part.strip().split()
        try:
            fields.append(pa.field(name, _PA_TYPES[typ.lower()]))
        except KeyError:
            raise ValueError(
                f"meta tables support flat {sorted(_PA_TYPES)} columns; "
                f"got '{typ}' for '{name}'"
            ) from None
    return pa.schema(fields)


def read_rows(spark, path: str, ddl_schema: str) -> list[dict]:
    """Every row of the small parquet table at ``path`` as dicts, read
    with ``ddl_schema`` (a column missing from older files reads as
    None); ``[]`` when the table does not exist. Local paths are read
    on the driver with ``pyarrow.dataset``; URIs through Spark."""
    if not _is_local(path):
        from pyspark.errors import AnalysisException

        try:
            rows = spark.read.schema(ddl_schema).parquet(path).collect()
        except AnalysisException as ex:
            if "PATH_NOT_FOUND" in str(ex):
                return []
            raise
        return [r.asDict() for r in rows]
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    dataset = ds.dataset(path, schema=parse_ddl(ddl_schema), format="parquet")
    return dataset.to_table().to_pylist()


def rows_table(rows: list[tuple], ddl_schema: str) -> pa.Table:
    """``rows`` (tuples in ``ddl_schema``'s column order) as a pyarrow
    table of that schema."""
    schema = parse_ddl(ddl_schema)
    return pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
