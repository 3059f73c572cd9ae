"""Reference checks computed outside odibi_spark.

Every expected value comes from DuckDB over the generated input files
(or from the generator's labels), never from the program; the program's
outputs are read back from the parquet files it wrote. Each ``check_*``
returns a list of error strings, empty when the output is correct.
"""

from __future__ import annotations

import glob

import duckdb

REL_TOL = 1e-9


def _pq(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _count(con, path: str) -> int:
    if not glob.glob(f"{path}/*.parquet"):
        return 0
    return con.execute(f"SELECT count(*) FROM {_pq(path)}").fetchone()[0]


def check_cdc(landing: str, out: str) -> list[str]:
    """SCD2 current and total version counts and current contents,
    last-write-wins contents of the upserted fact and merged products,
    against every landing file written so far, and no fact row without
    a customer surrogate key or in quarantine (every batch keeps the
    sale grain and its customers land with it)."""
    con = duckdb.connect()
    q = con.execute
    errors = []
    want_total, want_current = q(
        f"SELECT count(*), count(DISTINCT customer_id) FROM {_pq(landing + '/customers')}"
    ).fetchone()
    got_total, got_current = q(
        f"SELECT count(*), count(*) FILTER (WHERE is_current) FROM {_pq(out + '/dim_customer')}"
    ).fetchone()
    if (got_total, got_current) != (want_total, want_current):
        errors.append(f"scd2 versions total/current {got_total}/{got_current} "
                      f"!= {want_total}/{want_current}")

    for table, key, cols, target, where in (
        ("customers", "customer_id", "customer_id, name, segment, region",
         "dim_customer", "WHERE is_current"),
        ("sales", "sale_id", "sale_id, customer_id, amount, updated_at", "fact_sales", ""),
        ("products", "product_id", "product_id, category, list_price", "dim_product", ""),
    ):
        want = f"SELECT {cols} FROM ({_last_write(landing, table, key)})"
        got = f"SELECT {cols} FROM {_pq(out + '/' + target)} {where}"
        diff = q(f"SELECT (SELECT count(*) FROM ({want} EXCEPT ALL {got})) + "
                 f"(SELECT count(*) FROM ({got} EXCEPT ALL {want}))").fetchone()[0]
        if diff:
            errors.append(f"{target}: {diff} rows differ from last-write-wins")
    unknown = q(f"SELECT count(*) FROM {_pq(out + '/fact_sales')} "
                "WHERE customer_sk IS NULL OR customer_sk < 0").fetchone()[0]
    quarantined = _count(con, f"{out}/quarantine/fact_sales")
    if unknown or quarantined:
        errors.append(f"fact rows with unknown customer {unknown}, quarantined {quarantined}")
    return errors


SEMANTIC_METRICS = {
    "revenue": "sum(amount)",
    "orders": "count(*)",
    "buyers": "count(DISTINCT customer_id)",
    "aov": "sum(amount) / NULLIF(count(*), 0)",
}
SEMANTIC_DIMENSIONS = {
    "segment": "segment",
    "region": "region",
    "customer_id": "customer_id",
    "hour": "CAST(date_trunc('hour', updated_at) AS TIMESTAMP)",
}


def _last_write(landing: str, table: str, key: str) -> str:
    return (f"SELECT * FROM {_pq(landing + '/' + table)} "
            f"QUALIFY row_number() OVER (PARTITION BY {key} ORDER BY updated_at DESC) = 1")


def semantic_reference(landing: str, metrics: list[str], dims: list[str], where: str | None):
    """Hand-written SQL for a semantic query over the star: the
    last-write-wins sales joined with each customer's latest version,
    grouped by ``dims``. Returns a pandas frame."""
    sql = (f"WITH s AS ({_last_write(landing, 'sales', 'sale_id')}), "
           f"c AS ({_last_write(landing, 'customers', 'customer_id')}), "
           "v AS (SELECT s.sale_id, s.customer_id, s.amount, s.updated_at, c.segment, c.region "
           "FROM s JOIN c USING (customer_id)) "
           "SELECT " + ", ".join(
               [f"{SEMANTIC_DIMENSIONS[d]} AS {d}" for d in dims]
               + [f"{SEMANTIC_METRICS[m]} AS {m}" for m in metrics])
           + " FROM v")
    if where:
        sql += f" WHERE {where}"
    if dims:
        sql += " GROUP BY " + ", ".join(str(i + 1) for i in range(len(dims)))
    return duckdb.connect().execute(sql).fetchdf()


class CurationReference:
    """Planted-structure checks for the curated documents: exact copies
    removed exactly, good unique docs all kept, short docs filtered,
    near-duplicate recall at or above ``NEAR_DUP_RECALL_FLOOR``, ids
    unique and no zero-width or mojibake left in the text."""

    NEAR_DUP_RECALL_FLOOR = 0.9

    def __init__(self, inp: str):
        self.con = duckdb.connect()
        q = self.con.execute
        q(f"CREATE TABLE docs AS SELECT * FROM {_pq(inp + '/docs')}")
        q(f"CREATE TABLE labels AS SELECT * FROM {_pq(inp + '/labels')}")
        # exact duplicate groups recomputed from the text itself
        q("CREATE TABLE exact_losers AS SELECT doc_id FROM docs "
          "QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1")

    def check(self, out: str) -> list[str]:
        q = self.con.execute
        q(f"CREATE OR REPLACE TABLE kept AS SELECT doc_id, text FROM {_pq(out + '/curated')}")
        errors = []
        n, distinct = q("SELECT count(*), count(DISTINCT doc_id) FROM kept").fetchone()
        if n != distinct:
            errors.append(f"{n - distinct} repeated doc ids in output")
        for what, sql in (
            ("exact duplicates kept", "SELECT count(*) FROM kept JOIN exact_losers USING (doc_id)"),
            ("good unique docs dropped",
             "SELECT count(*) FROM labels l WHERE kind = 'base' AND doc_id NOT IN "
             "(SELECT doc_id FROM kept) AND doc_id NOT IN (SELECT doc_id FROM exact_losers)"),
            ("low-quality docs kept",
             "SELECT count(*) FROM kept JOIN labels USING (doc_id) WHERE kind = 'low'"),
            ("uncleaned texts", "SELECT count(*) FROM kept WHERE text LIKE '%' || chr(8203) || '%' "
                                "OR text LIKE '%' || chr(226) || chr(8364) || '%'"),
        ):
            bad = q(sql).fetchone()[0]
            if bad:
                errors.append(f"{bad} {what}")
        near, removed = q(
            "SELECT count(*), count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM kept)) "
            "FROM labels WHERE kind = 'near'").fetchone()
        if near and removed / near < self.NEAR_DUP_RECALL_FLOOR:
            errors.append(f"near-duplicate recall {removed / near:.3f} "
                          f"< {self.NEAR_DUP_RECALL_FLOOR}")
        return errors


def frames_match(got, want, keys: list[str]) -> list[str]:
    """Compare a collected query result with the reference frame: same
    columns and rows; key and text columns exactly, numbers within
    ``REL_TOL`` (aggregation order differs between engines), NULLs
    equal. Timestamps compare as epoch microseconds."""
    import numpy as np
    import pandas as pd

    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows != {len(want)}"]

    def norm(df):
        df = df.copy()
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]").astype("int64")
        return df.sort_values(keys).reset_index(drop=True) if keys else df

    got, want = norm(got), norm(want)
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            ok = np.allclose(a.astype("float64"), b.astype("float64"),
                             rtol=REL_TOL, atol=1e-6, equal_nan=True)
        else:
            ok = (a.astype(str) == b.astype(str)).all()
        if not ok:
            return [f"column {c} differs"]
    return []
