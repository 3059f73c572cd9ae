"""Incremental aggregation pattern (reference: odibi/patterns/
aggregation.py:49-570, merge fns :344-504): grain + measures with
HAVING, merged into an existing target by strategy:

- merge_replace: incoming grain rows replace target rows
- merge_sum / merge_min / merge_max: combine measure values
  (tgt.m + src.m / least / greatest) — the Delta form is
  ``WHEN MATCHED UPDATE SET tgt.m = tgt.m + src.m``.

This is what makes incremental rollups possible: each batch aggregates
only its own rows, the merge folds them into the running totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from odibi_spark.patterns.merge_target import ParquetTarget

_COMBINE = {
    "merge_sum": lambda t, s: t + s,
    "merge_min": F.least,
    "merge_max": F.greatest,
}


def aggregate_incremental(
    spark: SparkSession,
    batch: DataFrame,
    *,
    target_path: str,
    grain: list[str],
    measures: dict[str, str],
    strategy: str = "merge_replace",
    having: str | None = None,
) -> DataFrame:
    """``measures``: {out_col: sql_agg_expr} e.g. {"revenue": "sum(amount)"}."""
    aggs = [F.expr(expr).alias(name) for name, expr in measures.items()]
    agged = batch.groupBy(*grain).agg(*aggs)
    if having:
        agged = agged.filter(having)

    target = ParquetTarget(spark, target_path)
    if not target.exists():
        target.write_initial(agged)
        return target.read()

    existing = target.read()
    if strategy == "merge_replace":
        kept = existing.join(agged.select(*grain), grain, "left_anti")
        out = kept.unionByName(agged, allowMissingColumns=True)
    elif strategy in _COMBINE:
        combine = _COMBINE[strategy]
        t = existing.alias("t")
        s = agged.alias("s")
        matched = t.join(s, grain, "inner").select(
            *grain,
            *[
                combine(F.col(f"t.{m}"), F.col(f"s.{m}")).alias(m)
                for m in measures
            ],
        )
        unmatched_t = existing.join(agged.select(*grain), grain, "left_anti")
        unmatched_s = agged.join(existing.select(*grain), grain, "left_anti")
        out = matched.unionByName(unmatched_t).unionByName(unmatched_s)
    else:
        raise ValueError(f"unknown aggregation merge strategy '{strategy}'")
    target.overwrite(out)
    return target.read()


def aggregate_incremental_sketches(
    spark: SparkSession,
    batch: DataFrame,
    *,
    target_path: str,
    grain: list[str],
    distinct_of: dict[str, str] | None = None,
    quantiles_of: dict[str, str] | None = None,
    quantile_points: tuple[float, ...] = (0.5,),
) -> DataFrame:
    """Incremental aggregation for the two measures plain partials
    CANNOT decompose — COUNT DISTINCT and percentiles — via mergeable
    sketches (beyond reference: odibi/patterns/aggregation.py merges
    only sum/min/max/replace-able measures).

    Per batch, ONE groupBy builds an HLL sketch per ``distinct_of``
    column and a KLL sketch per ``quantiles_of`` column at each grain
    row; the parquet target stores the BINARY sketches, and each new
    batch folds in with ``hll_union`` / ``kll_sketch_merge_double``.
    Per-batch cost stays O(batch) + O(|grain| x sketch bytes)
    regardless of history size, and the running estimate keeps the
    sketch's error bound no matter how many batches fold in (pinned
    by test: 3-batch replay lands within HLL error of the truth).
    Note DataSketches estimates are PATH-dependent, not
    set-deterministic: even a "one-shot" aggregate unions per-
    partition sketches, so running and one-shot estimates agree only
    within the error bound, not bit-for-bit — both are deterministic
    for a fixed partitioning.

    ``distinct_of`` / ``quantiles_of``: {out_name: input_col}.
    Returns the estimates frame: grain + ``<name>`` distinct counts +
    ``<name>_p<q>`` quantiles; the sketch state stays in the target.
    """
    distinct_of = distinct_of or {}
    quantiles_of = quantiles_of or {}
    if not distinct_of and not quantiles_of:
        raise ValueError("need at least one of distinct_of / quantiles_of")
    aggs = [
        F.expr(f"hll_sketch_agg({col})").alias(f"__hll_{name}")
        for name, col in distinct_of.items()
    ] + [
        F.expr(f"kll_sketch_agg_double(CAST({col} AS DOUBLE))").alias(
            f"__kll_{name}"
        )
        for name, col in quantiles_of.items()
    ]
    agged = batch.groupBy(*grain).agg(*aggs)

    target = ParquetTarget(spark, target_path)
    if target.exists():
        existing = target.read()
        t, s = existing.alias("t"), agged.alias("s")
        merged_cols = [
            F.expr(f"hll_union(t.__hll_{n}, s.__hll_{n})").alias(f"__hll_{n}")
            for n in distinct_of
        ] + [
            F.expr(
                f"kll_sketch_merge_double(t.__kll_{n}, s.__kll_{n})"
            ).alias(f"__kll_{n}")
            for n in quantiles_of
        ]
        matched = t.join(s, grain, "inner").select(*grain, *merged_cols)
        unmatched_t = existing.join(agged.select(*grain), grain, "left_anti")
        unmatched_s = agged.join(existing.select(*grain), grain, "left_anti")
        state = matched.unionByName(unmatched_t).unionByName(unmatched_s)
        target.overwrite(state)
    else:
        target.write_initial(agged)
    state = target.read()
    est = [
        F.expr(f"hll_sketch_estimate(__hll_{n})").alias(n) for n in distinct_of
    ]
    for n in quantiles_of:
        for q in quantile_points:
            est.append(
                F.expr(
                    f"kll_sketch_get_quantile_double(__kll_{n}, {float(q)})"
                ).alias(f"{n}_p{int(round(q * 100))}")
            )
    return state.select(*grain, *est)


def cms_state_read(spark: SparkSession, target_path: str) -> DataFrame:
    """Read the current committed CMS state. Raises if no fold has
    ever committed."""
    target = ParquetTarget(spark, target_path)
    if not target.live():
        raise ValueError(f"no committed CMS state at {target_path}")
    return target.read()


def cms_incremental(
    spark: SparkSession,
    batch: DataFrame,
    *,
    target_path: str,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
    seed: int = 42,
    batch_id: int | None = None,
) -> DataFrame:
    """Incremental count-min sketch state: fold each batch's CMS
    (llm/cms.py) into a parquet-stored running sketch, the frequency
    analog of the HLL/KLL state above. Per-batch cost is O(batch) +
    one merge over at most ``depth x width`` state rows, regardless
    of history size — and unlike the DataSketches estimates, CMS
    folding is EXACT cell arithmetic: the running sketch is
    bit-identical to a one-shot build over the concatenated batches
    (pinned by test), so replay order and partitioning never move the
    estimates.

    (width, depth, seed) must stay constant across batches — every
    fold's version record carries them, and a mismatch — or state with
    no record, which could have been built under anything — raises
    rather than silently mixing incompatible hash spaces.

    Exactly-once folding: each fold is one ``ParquetTarget`` commit
    whose record also carries ``last_batch_id``, so the state and the
    batch id it covers land together or not at all. A crash before the
    publish leaves the previous version, and the retry re-reads it —
    no double count. From Structured Streaming ``foreachBatch``, pass
    the epoch id as ``batch_id``: a micro-batch retry AFTER the commit
    but before the checkpoint did is detected (``batch_id <=
    last_batch_id``, foreachBatch ids are monotonic) and skipped, so
    replays are idempotent end to end. A record whose state files are
    gone raises (partial state) instead of silently reinitializing
    over history.

    Layout: a ``ParquetTarget`` at ``target_path`` (parquet files plus
    ``_log``). Read the committed state with :func:`cms_state_read`;
    query it with :func:`odibi_spark.llm.cms.cms_query`.

    Returns the merged sketch (depth, bucket, cnt).
    """
    from odibi_spark.llm import cms

    params = {"width": int(width), "depth": int(depth), "seed": int(seed)}
    target = ParquetTarget(spark, target_path)
    has_state = target.exists()
    meta = (target.record(target.version) or {}).get("meta")
    if meta is None:
        if has_state:
            raise ValueError(
                f"CMS state at {target_path} was built with unknown params "
                f"(no meta); got {params} — rebuild the state or restore "
                "its log"
            )
        meta = {**params, "last_batch_id": None}
    else:
        stored = {k: meta.get(k) for k in ("width", "depth", "seed")}
        if stored != params:
            raise ValueError(
                f"CMS state at {target_path} was built with {stored}; "
                f"got {params} — rebuild the state or match the params"
            )
        if not has_state:
            raise RuntimeError(
                f"CMS log at {target_path} names version {target.version} "
                "but its state files are gone — partial state; restore or "
                "rebuild it rather than letting a fold reinitialize over "
                "history"
            )

    last = meta.get("last_batch_id")
    if batch_id is not None and last is not None and int(batch_id) <= int(last):
        # foreachBatch replay of an already-folded epoch: skip
        return target.read()

    state = cms.cms_build(
        batch, key_col,
        width=width, depth=depth, weight_col=weight_col, seed=seed,
    )
    if has_state:
        state = cms.cms_merge(target.read(), state)
    target.commit(
        lambda staged: state.write.parquet(staged),
        meta={
            **params,
            "last_batch_id": int(batch_id) if batch_id is not None else last,
        },
    )
    return target.read()
