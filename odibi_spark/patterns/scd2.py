"""SCD Type-2 dimension maintenance.

Semantics reproduced from the reference transformer (odibi/transformers/
scd.py:15-123 params, :310-551 Spark path, :553-735 Delta MERGE path):

- match on ``keys``; compare ``track_cols`` between incoming batch and
  the CURRENT version of each key;
- changed key: close the old version (``valid_to`` = incoming
  ``effective_time_col``, ``is_current`` = false) and insert the new
  version (``valid_from`` = effective time, ``valid_to`` = null,
  ``is_current`` = true);
- new key: insert as current;
- unchanged key: untouched;
- optional soft delete: keys present in the target but absent from the
  batch get their current version closed with ``is_deleted`` = true;
- a key repeated in one batch (at-least-once landing): rows that agree
  on key, tracked values and effective time are one change, and an
  unchanged row next to a changed one does not keep the old version
  current.

Scale design: the target is read only by the batch's one write, in
which the historical slice passes straight through (it is never
compared) and the current slice meets the batch in one full-outer join
on the keys. One window over each key's join rows drops repeated
changes and finds the keys no batch row changes. Each join row then
yields its current row, a new version, or both, with the close decided
by ``CASE`` on the match and change flags, so the join runs once and
there is no anti-join of the current slice against the closed or
vanished keys. With surrogate keys (``build_dimension(scd="2")``) a
changed key keeps the current row's SK and only brand-new keys are
numbered, from a max the target's footer statistics give on the
driver. The target's schema comes from its footer too, so the union
write is the batch's only Spark work.
On Delta this becomes the dual-match MERGE idiom (update-close +
insert via union'd source) exactly as the reference does; here the
ParquetTarget seam rewrites the table.

First-run bootstrap (reference :436-470): the whole batch becomes
version 1. Multi-batch replay is covered in tests/test_patterns.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from odibi_spark.patterns.merge_target import ParquetTarget


def scd2_apply(
    spark: SparkSession,
    batch: DataFrame,
    *,
    target_path: str,
    keys: list[str],
    track_cols: list[str],
    effective_time_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    is_current_col: str = "is_current",
    soft_delete: bool = False,
    is_deleted_col: str = "is_deleted",
) -> DataFrame:
    """Apply one batch; returns the new full dimension contents."""
    return _scd2_apply(
        spark, batch, None, target_path=target_path, keys=keys,
        track_cols=track_cols, effective_time_col=effective_time_col,
        valid_from_col=valid_from_col, valid_to_col=valid_to_col,
        is_current_col=is_current_col, soft_delete=soft_delete,
        is_deleted_col=is_deleted_col,
    )


def _scd2_apply(
    spark: SparkSession,
    batch: DataFrame,
    surrogate_key: str | None,
    *,
    target_path: str,
    keys: list[str],
    track_cols: list[str],
    effective_time_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    is_current_col: str = "is_current",
    soft_delete: bool = False,
    is_deleted_col: str = "is_deleted",
) -> DataFrame:
    """``scd2_apply``, assigning ``surrogate_key`` when it is given
    (``build_dimension(scd="2")``): a changed key keeps its current
    version's SK, brand-new keys get ``max SK + dense_rank()`` in key
    order."""
    target = ParquetTarget(spark, target_path)
    eff = F.col(effective_time_col)

    def as_version(df: DataFrame) -> DataFrame:
        out = (
            df.withColumn(valid_from_col, eff)
            .withColumn(valid_to_col, F.lit(None).cast("timestamp"))
            .withColumn(is_current_col, F.lit(True))
        )
        if soft_delete:
            out = out.withColumn(is_deleted_col, F.lit(False))
        return out

    # a batch may hold a key more than once (at-least-once delivery, or
    # several landed batches read together); rows that agree on the key,
    # the tracked values and the effective time are one change
    change = [*keys, *track_cols, effective_time_col]

    if not target.exists():
        batch = batch.dropDuplicates(change)
        if surrogate_key:
            batch = batch.withColumn(
                surrogate_key, F.dense_rank().over(Window.orderBy(*keys)).cast("long")
            )
        target.write_initial(as_version(batch))
        return target.read()

    existing = target.read()
    is_current = F.col(is_current_col)

    # one equi-join current-slice vs batch on the keys; explicit join
    # condition so both sides keep their own key columns (c.k / b.k),
    # and a marker per side, so a NULL key still counts as present
    b = batch.withColumn("__in", F.lit(True)).alias("b")
    c = existing.filter(is_current).withColumn("__in", F.lit(True)).alias("c")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"c.{k}").eqNullSafe(F.col(f"b.{k}"))
    joined = c.join(b, cond, "full_outer")

    in_batch = F.col("b.__in").isNotNull()
    in_current = F.col("c.__in").isNotNull()
    changed = F.lit(False)
    for t in track_cols:
        changed = changed | ~F.col(f"c.{t}").eqNullSafe(F.col(f"b.{t}"))
    changed = in_batch & changed
    vanished = ~in_batch if soft_delete else F.lit(False)

    # order each key's join rows by change: a repeat of the row before
    # it is dropped, and changing rows come first, so the key's first
    # row is unchanged only when no batch row changes the current one
    this = F.struct(*[F.col(f"b.{col}") for col in change])
    per_key = Window.partitionBy(
        *[F.coalesce(F.col(f"c.{k}"), F.col(f"b.{k}")) for k in keys]
    ).orderBy(changed.desc(), *[F.col(f"b.{col}") for col in change])
    rows = joined.withColumns({
        "__first": F.row_number().over(per_key) == 1,
        "__repeat": F.lag(this).over(per_key).eqNullSafe(this),
    }).filter(~F.col("__repeat"))

    # each join row yields its key's current row, a new version, or both,
    # so the join runs once for the whole write. The current row is
    # closed once per change to it (valid_to = the new version's
    # effective time), else emitted once: untouched or, under
    # soft_delete, closed as vanished from the batch (flagged deleted).
    # Changed and brand-new keys get a new version.
    new = F.col("__new")
    rows = rows.withColumn("__new", F.explode(F.array(F.lit(False), F.lit(True)))).filter(
        F.when(new, in_batch & (~in_current | changed)).otherwise(
            in_current & (changed | F.col("__first"))
        )
    )
    current_row = {col: F.col(f"c.{col}") for col in existing.columns}
    current_row[valid_to_col] = F.when(changed, F.col(f"b.{effective_time_col}")).otherwise(
        F.col(f"c.{valid_to_col}")
    )
    current_row[is_current_col] = ~(changed | vanished)
    new_row = {col: F.col(f"b.{col}") for col in batch.columns}
    new_row[valid_from_col] = F.col(f"b.{effective_time_col}")
    new_row[valid_to_col] = F.lit(None).cast("timestamp")
    new_row[is_current_col] = F.lit(True)
    if soft_delete:
        current_row[is_deleted_col] = vanished | F.col(f"c.{is_deleted_col}")
        new_row[is_deleted_col] = F.lit(False)
    if surrogate_key:
        # a changed key keeps its SK; brand-new keys number among themselves
        fresh = Window.partitionBy(new & ~in_current).orderBy(*[F.col(f"b.{k}") for k in keys])
        max_sk = target.max_of(surrogate_key) or 0
        new_row[surrogate_key] = (
            F.when(in_current, F.col(f"c.{surrogate_key}"))
            .otherwise(F.dense_rank().over(fresh) + F.lit(max_sk))
            .cast("long")
        )
    out = rows.select(*[
        F.when(new, new_row.get(col)).otherwise(current_row.get(col)).alias(col)
        for col in [*current_row, *(col for col in new_row if col not in current_row)]
    ])

    new_contents = existing.filter(~is_current).unionByName(out, allowMissingColumns=True)
    target.overwrite(new_contents)
    return target.read()


def scd2_delta_merge(
    spark: SparkSession,
    batch: DataFrame,
    *,
    target_path: str,
    keys: list[str],
    track_cols: list[str],
    effective_time_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    is_current_col: str = "is_current",
    delta_table_cls=None,
):
    """Delta MERGE fast path (reference odibi/transformers/scd.py:
    553-735): instead of rewriting the whole dimension, MERGE touches
    only files holding matched current rows.

    Phase 1 — one MERGE against the current slice:
      match  = keys AND target.is_current = true
      update (when any track_col changed, null-safe):
               close old version (valid_to = source effective time,
               is_current = false)
      insert (key absent): brand-new key as current version
    Phase 2 — MERGE can't insert for MATCHED keys, so the new versions
    of changed keys are appended separately: keys with no current row
    after phase 1 (left_anti vs current slice).

    Returns the merge-source frame on success, or ``None`` when Delta
    isn't available / the target isn't a Delta table — callers fall
    back to the ``scd2_apply`` full-rewrite path. ``delta_table_cls``
    is injectable so the MERGE call shape is contract-testable without
    Delta jars (it must quack like ``delta.tables.DeltaTable``).
    """
    cls = delta_table_cls
    if cls is None:
        try:
            from delta.tables import DeltaTable as cls  # type: ignore
        except ImportError:
            return None
    try:
        is_delta = cls.isDeltaTable(spark, target_path)
    except Exception:
        return None

    eff = F.col(effective_time_col)
    merge_source = (
        batch.withColumn(valid_from_col, eff)
        .withColumn(valid_to_col, F.lit(None).cast("timestamp"))
        .withColumn(is_current_col, F.lit(True))
    )

    if not is_delta:  # first run: the whole batch becomes version 1
        merge_source.write.format("delta").mode("overwrite").save(target_path)
        return merge_source

    target = cls.forPath(spark, target_path)
    match_condition = (
        " AND ".join(f"target.`{k}` = source.`{k}`" for k in keys)
        + f" AND target.`{is_current_col}` = true"
    )
    change_condition = (
        " OR ".join(
            f"NOT (target.`{c}` <=> source.`{c}`)" for c in track_cols
        )
        or "true"
    )
    update_set = {
        f"`{valid_to_col}`": f"source.`{effective_time_col}`",
        f"`{is_current_col}`": "false",
    }
    insert_values = {f"`{c}`": f"source.`{c}`" for c in merge_source.columns}
    (
        target.alias("target")
        .merge(merge_source.alias("source"), match_condition)
        .whenMatchedUpdate(condition=change_condition, set=update_set)
        .whenNotMatchedInsert(values=insert_values)
        .execute()
    )

    # phase 2: append the new versions of keys whose current row was
    # just closed (they matched, so whenNotMatchedInsert skipped them)
    updated = cls.forPath(spark, target_path).toDF()
    current_keys = updated.filter(F.col(is_current_col)).select(*keys)
    changed_new = merge_source.join(current_keys, on=keys, how="left_anti")
    changed_new.write.format("delta").mode("append").save(target_path)
    return merge_source
