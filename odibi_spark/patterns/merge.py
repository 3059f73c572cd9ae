"""Merge pattern (reference: odibi/transformers/merge_transformer.py:
18-640): strategies ``upsert`` / ``append_only`` / ``delete_match``
with optional row-level conditions and audit columns.

- upsert: matched rows updated (optionally only when
  ``update_condition`` holds), unmatched inserted (optionally gated by
  ``insert_condition``).
- append_only: insert-if-absent (idempotent replays).
- delete_match: delete target rows whose keys appear in the batch
  (GDPR erasure), optionally gated by ``delete_condition``.
- audit cols (reference :191-229): created_at on insert, updated_at on
  update.

Conditions reference columns as ``t.col`` (target) / ``s.col``
(source), same contract as the reference's Delta MERGE conditions.
Keys match by plain equality, so a NULL key never matches.
``write_sink``'s parquet upsert / append_once modes run ``merge_into``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from odibi_spark.patterns.merge_target import ParquetTarget


def merge_apply(
    spark: SparkSession,
    batch: DataFrame,
    *,
    target_path: str,
    keys: list[str],
    strategy: str = "upsert",
    update_condition: str | None = None,
    insert_condition: str | None = None,
    delete_condition: str | None = None,
    audit_cols: bool = False,
) -> DataFrame:
    target = ParquetTarget(spark, target_path)
    merge_into(
        target, batch, keys, strategy, update_condition, insert_condition,
        delete_condition, audit_cols,
    )
    if not target.exists():  # delete_match against an absent target
        return spark.createDataFrame([], batch.schema)
    return target.read()


def merge_into(
    target: ParquetTarget,
    batch: DataFrame,
    keys: list[str],
    strategy: str = "upsert",
    update_condition: str | None = None,
    insert_condition: str | None = None,
    delete_condition: str | None = None,
    audit_cols: bool = False,
) -> None:
    """``merge_apply`` against a given target, without the read-back."""
    if strategy not in ("upsert", "append_only", "delete_match"):
        raise ValueError(f"unknown merge strategy '{strategy}'")
    now = F.current_timestamp()

    def with_insert_audit(df: DataFrame) -> DataFrame:
        if audit_cols:
            return df.withColumn("created_at", now).withColumn("updated_at", now)
        return df

    if strategy == "delete_match":
        if target.exists():
            cond = _keys_match(keys)
            if delete_condition:
                cond = cond & F.expr(delete_condition)
            kept = target.read().alias("t").join(batch.alias("s"), cond, "left_anti")
            target.overwrite(kept)
        return

    incoming = batch.dropDuplicates(keys)
    if not target.exists():
        if insert_condition:
            incoming = _filter_merge_cond(incoming, insert_condition, side="s")
        target.write_initial(with_insert_audit(incoming))
        return

    existing = target.read()
    new_rows = incoming.join(existing.select(*keys), on=keys, how="left_anti")
    if insert_condition:
        new_rows = _filter_merge_cond(new_rows, insert_condition, side="s")
    if strategy == "append_only":
        out = existing.unionByName(with_insert_audit(new_rows), allowMissingColumns=True)
        target.overwrite(out)
        return

    # upsert: replace matched target rows with source versions
    if update_condition or insert_condition:
        t, s = existing.alias("t"), incoming.alias("s")
        matched = _keys_match(keys)
        if update_condition:
            # only matched pairs satisfying the condition are updated
            matched = matched & F.expr(update_condition)
        kept = t.join(s, matched, "left_anti")
        written = s.join(t, matched, "left_semi").unionByName(new_rows)
    else:
        # the raw batch has the same key set without the dedup's exchange
        kept = existing.join(batch.select(*keys), on=keys, how="left_anti")
        written = incoming
    if audit_cols:
        created = existing.select(*keys, "created_at")
        written = (
            written.drop("created_at", "updated_at")
            .join(created, on=keys, how="left")
            .withColumn("created_at", F.coalesce(F.col("created_at"), now))
            .withColumn("updated_at", now)
        )
    target.overwrite(kept.unionByName(written, allowMissingColumns=True))


def _keys_match(keys: list[str]) -> Column:
    return F.expr(" AND ".join(f"t.`{k}` = s.`{k}`" for k in keys))


def _filter_merge_cond(df: DataFrame, condition: str, side: str) -> DataFrame:
    """Apply a merge-style condition (``s.col``) to a bare frame."""
    return df.alias(side).filter(F.expr(condition))
