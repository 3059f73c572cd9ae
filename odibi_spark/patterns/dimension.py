"""Dimension pattern (reference: odibi/patterns/dimension.py:23-682):
SCD0/1/2 dimension build with surrogate-key assignment and unknown
member seeding.

- surrogate keys (reference :252-295): existing members keep their SK;
  new members get ``max(existing SK) + row_number()`` — a window over
  ONLY the new members. The max comes from the target's parquet footer
  statistics (``ParquetTarget.max_of``, no Spark job on a local
  target), so the existing dimension is read once, by the one join
  that matches the batch against it.
- unknown member (reference :578+): SK -1 row seeded on first build so
  fact FK lookups never produce nulls.
- scd: "0" (insert-only), "1" (overwrite attributes in place),
  "2" (the scd2 pattern's one-pass apply, which also assigns the SKs
  from its join of the batch against the current slice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from odibi_spark.patterns.merge_target import ParquetTarget

# ``scd2_apply`` stays importable from here, as before (perfbench's
# tracer wraps ``dimension.scd2_apply``); the scd "2" path calls the
# pattern's shared body, which also assigns the surrogate keys
from odibi_spark.patterns.scd2 import _scd2_apply, scd2_apply  # noqa: F401


def build_dimension(
    spark: SparkSession,
    batch: DataFrame,
    *,
    target_path: str,
    natural_keys: list[str],
    surrogate_key: str = "sk",
    scd: str = "1",
    track_cols: list[str] | None = None,
    effective_time_col: str | None = None,
    seed_unknown_member: bool = True,
) -> DataFrame:
    if scd == "2":
        assert track_cols and effective_time_col, "SCD2 needs track_cols + effective_time_col"
        return _scd2_apply(
            spark, batch, surrogate_key, target_path=target_path, keys=natural_keys,
            track_cols=track_cols, effective_time_col=effective_time_col,
        )

    target = ParquetTarget(spark, target_path)
    if not target.exists():
        w = Window.orderBy(*natural_keys)
        dim = batch.dropDuplicates(natural_keys).withColumn(
            surrogate_key, F.row_number().over(w).cast("long")
        )
        if seed_unknown_member:
            unknown = _unknown_member(spark, dim, natural_keys, surrogate_key)
            dim = unknown.unionByName(dim)
        target.write_initial(dim)
        return target.read()

    existing = target.read()
    incoming = batch.dropDuplicates(natural_keys)
    new_members = incoming.join(existing.select(*natural_keys), natural_keys, "left_anti")
    max_sk = target.max_of(surrogate_key) or 0
    w = Window.orderBy(*natural_keys)
    new_with_sk = new_members.withColumn(
        surrogate_key, (F.row_number().over(w) + F.lit(max_sk)).cast("long")
    )

    if scd == "0":
        out = existing.unionByName(new_with_sk, allowMissingColumns=True)
    elif scd == "1":
        # overwrite attributes of existing members, keep their SK
        sk_map = existing.select(*natural_keys, surrogate_key)
        updated = incoming.join(sk_map, natural_keys, "inner")
        untouched = existing.join(incoming.select(*natural_keys), natural_keys, "left_anti")
        out = untouched.unionByName(updated, allowMissingColumns=True).unionByName(
            new_with_sk, allowMissingColumns=True
        )
    else:
        raise ValueError(f"unknown scd type '{scd}'")
    target.overwrite(out)
    return target.read()


def _unknown_member(
    spark: SparkSession, dim: DataFrame, natural_keys: list[str], surrogate_key: str
) -> DataFrame:
    row = {}
    for f in dim.schema.fields:
        if f.name == surrogate_key:
            row[f.name] = -1
        elif f.dataType.simpleString() == "string":
            row[f.name] = "UNKNOWN"
        else:
            row[f.name] = None
    return spark.createDataFrame([row], dim.schema)

