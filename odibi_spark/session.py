"""SparkSession factory tuned for both local testing and cluster scale.

The reference applies session config passthrough + pre-SQL ``SET`` support
(reference: odibi/engine/spark_engine.py:221-250); here the session is
built once with scale-aware defaults:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  at 100 TB the static ``spark.sql.shuffle.partitions`` is always wrong
  for some stage, so let AQE re-plan.
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
- Session timezone pinned to UTC so timestamp semantics are stable and
  comparable against external oracles.
- A generated-class cache sized to a pipeline's working set, and no
  per-call Python call-site capture (see ``get_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: generated classes Spark keeps compiled (see ``get_spark``)
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "odibi_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    On a real cluster ``master`` comes from the environment; locally we
    default to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``.

    ``spark.sql.codegen.cache.maxEntries`` (a static conf) is
    ``CODEGEN_CACHE_ENTRIES``. Spark's default keeps 100 generated
    classes, about one incremental batch's worth, so batch k+1
    recompiled byte-identical Java that batch k had compiled: 92-102
    Janino compiles, 0.74-0.83 s of a 4 s perfbench ``incremental_cdc``
    op, and 51-61 compiles (0.9 s) of a ``curation_dedup`` op (4 vCPU).
    With a cache that evicts nothing, one whole perfbench run generates
    220 distinct classes on ``incremental_cdc`` (set-up, warm-up op and
    two ops; each later op adds about 20 that differ only in per-batch
    literals) and 128 on ``curation_dedup``. 1000 entries hold either
    working set with more than 4x headroom; a steady op then compiles
    about 22 (``incremental_cdc``) and 8 (``curation_dedup``) classes.

    ``spark.python.sql.dataFrameDebugging.enabled`` (a static conf) is
    ``false``. PySpark's default wraps every DataFrame and Column API
    call to record its Python call site: it reads
    ``spark.sql.stackTracesInDataFrameContext`` and sets and clears
    ``PySparkCurrentOrigin`` over py4j, and tries ``import ipykernel``
    (a ``sys.path`` search when it is absent). Building the curation
    chain's ``repetition_signals``, ``gopher_quality_flags`` and MinHash
    candidate frames, with no action, sent 1038, 545 and 2471 gateway
    commands with it and 368, 215 and 1111 without (pyspark 4.1.2, 4
    vCPU); the Column-API builders took 378, 203 and 473 ms against
    209, 184 and 338 ms. What is lost is the Python call site in a
    ``DataFrame`` error's query context; for a YAML node that call site
    is a frame inside odibi_spark, never the user's spec. ``extra_conf``
    can turn it back on.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # r15 (guide §5): the curation operators pin ~50 eagerly
        # localCheckpointed model tables per full run; the Context-
        # Cleaner only reaps their blocks after a DRIVER GC, and the
        # default periodic-GC interval (30min) outlives a whole
        # session — blocks accumulated until storage eviction and GC
        # pressure inflated late-session queries. r16: long-lived
        # query runners (bench.py) now release each query's blocks
        # deterministically between queries, so the forced-GC cadence
        # relaxes 1min -> 5min (ADVICE r15: a per-minute full GC adds
        # stop-the-world pauses on large production driver heaps);
        # override via env for different session lifetimes. NOTE
        # getOrCreate may return an existing session, in which case
        # this conf (like any other here) does not re-apply.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min"),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
