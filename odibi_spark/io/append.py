"""Concurrency-safe parquet appends, and driver-side reads, for small
metadata tables.

Spark's ``mode("append")`` stages output under a SHARED
``_temporary/<jobId>`` directory: two drivers appending to the same
catalog table concurrently can delete each other's staging files
(FileOutputCommitter is single-writer by design). The reference's
catalog state retries on concurrent Delta commits
(odibi/state/__init__.py:43-107); the open-format twin here gets the
same safety a different way — each append is ONE parquet file written
driver-side via pyarrow to a unique name and renamed into place
atomically, so concurrent writers can never observe or destroy each
other's in-flight work, and readers never see a partial file (names
starting with '.' are invisible to Spark's file listing).

This is the right tool ONLY for driver-sized metadata rows (catalog
runs/metrics/state: O(nodes) rows per call). Distributed data writes
keep using Spark writers. On object stores without atomic rename the
upgrade path is a Delta table with MERGE/append commits — documented
at the call sites; paths with a URI scheme fall back to a plain Spark
append (single-writer semantics, as before).

Reads of the same tables happen on the driver too: ``read_rows`` loads
a local table with ``pyarrow.dataset`` (hidden ``.``/``_`` files
skipped, as Spark's listing does), so catalog lookups and folds and the
parquet HWM state launch no Spark job. Paths with a URI scheme fall
back to a Spark read with the given schema.
"""

from __future__ import annotations

import os
import uuid

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
                f"atomic append supports flat {sorted(_PA_TYPES)} columns; "
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


def atomic_append(spark, path: str, rows: list[tuple], ddl_schema: str) -> str:
    """Append ``rows`` to the parquet directory ``path`` as one new
    uniquely-named file (concurrent-writer safe on any filesystem with
    atomic rename). Returns the file written. Falls back to a Spark
    append for non-local URIs."""
    if not _is_local(path):
        df = spark.createDataFrame(rows, ddl_schema)
        df.write.mode("append").parquet(path)
        return path
    import pyarrow.parquet as pq

    schema = parse_ddl(ddl_schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(schema)
        ],
        schema=schema,
    )
    os.makedirs(path, exist_ok=True)
    stem = f"part-{uuid.uuid4().hex}"
    tmp = os.path.join(path, f".{stem}.parquet.tmp")
    final = os.path.join(path, f"{stem}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, final)  # atomic: readers see the file whole or not at all
    return final
