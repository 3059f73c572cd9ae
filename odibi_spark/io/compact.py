"""Small-file compaction for plain-parquet tables.

The reference gets this from Delta's ``OPTIMIZE`` / ``auto_optimize``
(spark_engine.py:2446-2636, config auto_optimize); on open formats the
same operational problem — streaming/incremental writers leaving
thousands of KB-sized files that crush scan planning and NameNode/
object-store listing — needs an explicit bin-packing rewrite. This is
that tool: size-driven (target bytes per output file, not a guessed
partition count), rewriting ONLY the under-sized files (files already
at target size stay untouched, like Delta OPTIMIZE).

The rewrite is one ``ParquetTarget`` commit: the compacted files are
staged under ``_staging`` and a version record names them and the
small files they replace, so a crash at any point leaves either the
previous table or a published record the next read finishes, and a
commit that raced the compaction (a merge) makes it raise
``CommitConflict`` instead of duplicating rows. Delta table paths are
REFUSED outright (a ``_delta_log`` directory means rewriting parquet
behind the transaction log would corrupt the table for every reader;
use ``delta_ops.maintain`` there).

Hive-partitioned directories (data in subdirectories) are rejected:
compacting them through the table root would rewrite partition values
into the data files and corrupt the layout — maintain each partition
directory instead.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from odibi_spark.patterns.merge_target import ParquetTarget, hidden


def reject_partitioned_layout(target: ParquetTarget) -> None:
    """Raise if ``target`` is a Delta table (``_delta_log``, which the
    data-file listing skips: rewriting parquet behind a transaction log
    corrupts the table) or holds data in subdirectories (a root-level
    rewrite would fold partition values into the data files)."""
    if target._fs.exists(target._at("_delta_log")):
        raise ValueError(
            f"'{target.path}' is a Delta table (_delta_log present) — plain-"
            "parquet compaction would corrupt it; use delta_ops.maintain"
        )
    for name, is_dir, _ in target._fs.ls(target.path):
        if is_dir and not hidden(name):
            raise ValueError(
                f"'{target.path}' contains subdirectory '{name}' — layout "
                "maintenance works on leaf data directories; run it on "
                "each partition directory instead"
            )


def compact_small_files(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    format: str = "parquet",
    sort_within_by: list[str] | None = None,
    min_files_to_compact: int = 2,
) -> dict:
    """Bin-pack the UNDER-SIZED data files of a directory into
    ``ceil(small_bytes / target_file_bytes)`` files; files already at
    or above ~target size are left untouched (rewriting them would be
    a pure full-table-shuffle tax — Delta OPTIMIZE makes the same
    cut). ``sort_within_by`` optionally re-establishes a clustering
    order inside each output file so row-group min/max pruning
    survives the rewrite. No-op (returns stats, touches nothing) when
    fewer than ``min_files_to_compact`` small files exist or they
    already form no more than the target bin count.
    """
    target = ParquetTarget(spark, path)
    reject_partitioned_layout(target)
    target.live()
    files = target.files
    small = [(f, sz) for f, sz in files if sz < target_file_bytes]
    small_bytes = sum(sz for _, sz in small)
    n_out = max(1, math.ceil(small_bytes / target_file_bytes))
    stats = {
        "files_before": len(files),
        "small_files": len(small),
        "bytes_total": sum(sz for _, sz in files),
        "small_bytes": small_bytes,
        "target_file_bytes": int(target_file_bytes),
        "files_after": len(files),
        "compacted": False,
    }
    if len(small) < max(min_files_to_compact, n_out + 1):
        return stats

    df = spark.read.format(format).load([f"{target.path}/{f}" for f, _ in small])
    df = df.repartition(n_out)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    record = target.commit(
        lambda staged: df.write.mode("overwrite").format(format).save(staged),
        remove=[f for f, _ in small],
    )
    stats.update(
        {"files_after": len(files) - len(small) + record["files"], "compacted": True}
    )
    return stats
