"""Sink writers (reference: odibi/engine/spark_engine.py:904-1749,
WriteConfig odibi/config.py:4163-4342).

Modes: overwrite / append / error / ignore (native), plus the
reference's merge modes **upsert** and **append_once**, which the
reference implements with Delta MERGE (spark_engine.py:1254-1335).
On parquet every mode commits one ``ParquetTarget`` version (files
staged under ``_staging``, then the exclusive ``_log/<n>.json``
record), keeping ``partition_by``, so a failed plan leaves the previous
version; merges run ``patterns.merge.merge_into``. With delta-spark
importable, ``format='delta'`` runs ``DeltaTable.merge`` instead;
merge modes on other formats raise.

Scale notes:
- ``partition_by`` drives directory layout -> partition pruning.
- ``coalesce_partitions`` compacts small outputs (reference :958-969).
- a parquet merge is one anti-join plus a union and rewrites the
  target; with Delta it touches only matched files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from odibi_spark.patterns.merge import merge_into
from odibi_spark.patterns.merge_target import ParquetTarget

try:  # Delta is the designed scale path; optional in this environment
    from delta.tables import DeltaTable  # type: ignore

    _HAS_DELTA = True
except ImportError:
    DeltaTable = None
    _HAS_DELTA = False


def add_write_metadata(
    df: DataFrame,
    *,
    source_connection: str | None = None,
    source_table: str | None = None,
) -> DataFrame:
    """Bronze lineage columns (reference: odibi/engine/base.py:312-334,
    config.py:4260-4267): _extracted_at, _source_file, plus optional
    connection/table labels."""
    df = df.withColumn("_extracted_at", F.current_timestamp()).withColumn(
        "_source_file", F.input_file_name()
    )
    if source_connection:
        df = df.withColumn("_source_connection", F.lit(source_connection))
    if source_table:
        df = df.withColumn("_source_table", F.lit(source_table))
    return df


def write_sink(
    df: DataFrame,
    *,
    path: str,
    format: str = "parquet",
    mode: str = "overwrite",
    keys: list[str] | None = None,
    partition_by: list[str] | None = None,
    coalesce_partitions: int | None = None,
    sort_by: list[str] | None = None,
    bucket_by: list[str] | None = None,
    bucket_count: int = 16,
    table: str | None = None,
    options: dict[str, object] | None = None,
    zorder_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    auto_optimize: bool = False,
    vacuum_retention_hours: float | None = None,
    register_as: str | None = None,
) -> None:
    """Declarative write. ``mode`` adds 'upsert' / 'append_once' to the
    standard overwrite/append/error/ignore set.

    ``sort_by``: sortWithinPartitions before writing — clusters values
    so parquet row-group min/max stats skip files on those columns (the
    open-format analogue of Delta OPTIMIZE ZORDER for one-dimension
    predicates; reference zorder_by config.py:4222-4229).
    ``zorder_by`` on NON-Delta formats lays the data out by a Morton
    (bit-interleaved) key over the given columns before writing —
    multi-dimensional min/max pruning from plain parquet (the
    operators/layout implementation; pruning proven from parquet
    footers in tests/test_layout.py); ``coalesce_partitions`` then
    sets the output file count, and combining it with ``sort_by`` /
    ``bucket_by`` / merge modes raises (conflicting layout
    directives; a merge rewrite would discard the layout). On Delta it
    runs the engine's OPTIMIZE ZORDER post-write instead, matching the
    reference.
    ``bucket_by``/``bucket_count`` + ``table``: hash-bucketed managed
    table — joins/aggregations on the bucket keys skip the shuffle
    entirely (plan-asserted in tests/test_scale_plans.py).

    Delta-only post-write maintenance (reference spark_engine.py:
    297-325, 1497-1503, 2607-2636; applied via io/delta_ops):
    ``zorder_by`` / ``auto_optimize`` run OPTIMIZE [ZORDER BY],
    ``vacuum_retention_hours`` appends VACUUM ... RETAIN,
    ``register_as`` registers the path in the metastore, and
    ``cluster_by`` raises with the liquid-clustering DDL to run at
    table creation (clustering cannot be bolted on after path writes).
    """
    spark = df.sparkSession
    merge_mode = mode in ("upsert", "append_once")
    if merge_mode and format != "parquet" and not (format == "delta" and _HAS_DELTA):
        raise ValueError(
            f"mode '{mode}' needs format 'parquet' (or 'delta' with "
            f"delta-spark installed), not '{format}'"
        )
    if format == "webdataset":
        # training-shard tar sink (llm/webdataset.py) — its layout IS
        # the partitioning, so layout directives conflict by definition
        if partition_by or bucket_by or keys or sort_by or zorder_by:
            raise ValueError(
                "webdataset manages its own layout; partition_by/"
                "bucket_by/keys/sort_by/zorder_by do not apply"
            )
        from odibi_spark.llm.webdataset import write_webdataset_shards

        opts = dict(options or {})
        kwargs = {
            "key_col": opts.pop("key_col"),
            "members": opts.pop("members"),
            "samples_per_shard": int(opts.pop("samples_per_shard", 1000)),
            "order_by": opts.pop("order_by", None),
            "prefix": opts.pop("prefix", "shard"),
        }
        if opts:
            raise ValueError(f"unknown webdataset options: {sorted(opts)}")
        write_webdataset_shards(df, path, mode=mode, **kwargs)
        return
    if cluster_by and format == "delta":
        from odibi_spark.io import delta_ops

        raise ValueError(
            "cluster_by is a table-creation property; create the table "
            "first with: "
            + delta_ops.create_clustered_table_sql(
                table or path, cluster_by, is_table=bool(table)
            )
        )
    if zorder_by and format != "delta":
        if merge_mode:
            raise ValueError(
                "zorder_by with merge modes needs Delta (the merge "
                "rewrite discards a parquet layout); write plain then "
                "re-layout, or use format='delta'"
            )
        if sort_by or bucket_by:
            raise ValueError(
                "sort_by/bucket_by and zorder_by are conflicting "
                "layout directives — a Morton layout IS the sort "
                "order; pick one"
            )
        from odibi_spark.operators.layout import morton_layout

        n_files = (
            coalesce_partitions
            or df.sparkSession.sparkContext.defaultParallelism
        )
        # with partition_by: Z-order WITHIN each value-partition, so a
        # partition dir's files hold contiguous Morton ranges (Delta's
        # partitioned OPTIMIZE ZORDER semantics)
        df = morton_layout(
            df, zorder_by, n_files=int(n_files), lead_cols=partition_by
        )
    else:
        if coalesce_partitions:
            df = df.coalesce(coalesce_partitions)
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)

    if bucket_by:
        if not table:
            raise ValueError("bucket_by requires 'table' (bucketing needs saveAsTable)")
        writer = (
            df.write.mode(mode)
            .options(**{k: str(v) for k, v in (options or {}).items()})
            .bucketBy(bucket_count, *bucket_by)
            .sortBy(*(sort_by or bucket_by))
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.format(format).option("path", path).saveAsTable(table)
        return

    if merge_mode:
        assert keys, f"mode '{mode}' requires merge keys"
        if format == "delta":
            _merge_delta(spark, df, path, keys, mode)
        else:
            merge_into(
                ParquetTarget(spark, path, partition_by), df, keys=keys,
                strategy="upsert" if mode == "upsert" else "append_only",
            )
        _delta_post_write(
            spark, path, format,
            zorder_by=zorder_by, auto_optimize=auto_optimize,
            vacuum_retention_hours=vacuum_retention_hours,
            register_as=register_as,
        )
        return

    writer = df.write.mode(mode).options(**{k: str(v) for k, v in (options or {}).items()})
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if format == "parquet":
        target = ParquetTarget(spark, path, partition_by)
        if mode in ("error", "errorifexists", "ignore") and target.live():
            if mode == "ignore":
                return
            raise FileExistsError(f"parquet table '{path}' already exists (mode '{mode}')")
        # the plan may read from the live dir: staging never touches it
        target.commit(
            lambda staged: writer.mode("overwrite").parquet(staged),
            remove=[] if mode == "append" else None,
        )
    elif format == "csv":
        writer.option("header", "true").csv(path)
    elif format == "json":
        writer.json(path)
    elif format == "orc":
        writer.orc(path)
    else:
        writer.format(format).save(path)
    _delta_post_write(
        spark, path, format,
        zorder_by=zorder_by, auto_optimize=auto_optimize,
        vacuum_retention_hours=vacuum_retention_hours,
        register_as=register_as,
        parquet_compactable=(mode == "append" and not partition_by),
    )


def _delta_post_write(
    spark: SparkSession,
    path: str,
    format: str,
    *,
    zorder_by: list[str] | None,
    auto_optimize: bool,
    vacuum_retention_hours: float | None,
    register_as: str | None,
    parquet_compactable: bool = False,
) -> None:
    """Post-write maintenance (reference _optimize_delta_write call
    sites spark_engine.py:1312,1370,1510). On Delta: OPTIMIZE
    [ZORDER] / VACUUM / register. On parquet, ``auto_optimize`` runs
    the open small-file compaction instead — same knob, open-format
    implementation — but ONLY where it helps and cannot harm:
    append-mode flat-directory writes (the case where fragments
    accumulate). Overwrites already control their file count,
    partitioned layouts need per-partition maintenance (the CLI
    ``maintain`` verb), and a fresh Morton layout must not be
    round-robin'd away by its own write call."""
    if format != "delta":
        if (
            auto_optimize
            and format == "parquet"
            and parquet_compactable
            and not zorder_by
        ):
            from odibi_spark.io.compact import compact_small_files

            compact_small_files(spark, path)
        return
    if not (zorder_by or auto_optimize or vacuum_retention_hours or register_as):
        return
    from odibi_spark.io import delta_ops

    if register_as:
        delta_ops.register_table(spark, register_as, path)
    if zorder_by or auto_optimize or vacuum_retention_hours is not None:
        delta_ops.maintain(
            spark, path,
            zorder_by=zorder_by,
            vacuum_retention_hours=vacuum_retention_hours,
        )


def _merge_delta(
    spark: SparkSession, df: DataFrame, path: str, keys: list[str], mode: str
) -> None:
    """Delta MERGE path (reference: spark_engine.py:1254-1335; condition
    built at :1293). Active only when delta-spark is importable."""
    if not DeltaTable.isDeltaTable(spark, path):
        df.write.format("delta").mode("overwrite").save(path)
        return
    target = DeltaTable.forPath(spark, path)
    cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
    merge = target.alias("t").merge(df.alias("s"), cond)
    if mode == "upsert":
        merge = merge.whenMatchedUpdateAll()
    merge.whenNotMatchedInsertAll().execute()
