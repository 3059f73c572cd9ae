"""Structured Streaming surface.

Reference parity (odibi/engine/spark_engine.py:1751-2049, config
odibi/config.py:4023-4161): streaming writes with output modes
append/update/complete, triggers once / availableNow / processingTime /
continuous, checkpoint location, await-termination; foreachBatch merge
(merge_transformer.py:455).

Beyond the reference (SURVEY §2.14 notes it has NO watermark/window
API): ``windowed_aggregate`` (tumbling/sliding windows with
watermarked late-data handling) and ``streaming_sessionize``
(``session_window``) — the streaming twin of the batch sessionize
operator.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery


def start_stream_write(
    df: DataFrame,
    *,
    path: str | None = None,
    format: str = "parquet",
    output_mode: str = "append",
    checkpoint: str | None = None,
    trigger: dict | None = None,
    query_name: str | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    await_termination: bool = False,
    options: dict[str, str] | None = None,
) -> StreamingQuery:
    """Declarative streaming write (reference :1751-2049).

    ``trigger``: {"once": True} | {"availableNow": True} |
    {"processingTime": "5 seconds"} | {"continuous": "1 second"}.
    """
    writer = df.writeStream.outputMode(output_mode)
    if query_name:
        writer = writer.queryName(query_name)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if trigger:
        writer = writer.trigger(**trigger)
    if foreach_batch is not None:
        query = writer.foreachBatch(foreach_batch).start()
    elif format == "memory":
        query = writer.format("memory").start()
    else:
        query = writer.format(format).start(path)
    if await_termination:
        query.awaitTermination()
    return query


def foreach_batch_merge(
    df: DataFrame,
    *,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    strategy: str = "upsert",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Exactly-once-style merge sink: each micro-batch is MERGEd into
    the target (reference merge_transformer.py:455 ``merge_batch``).
    Idempotent per-batch merge + checkpointed offsets = effectively-once
    row semantics even under reprocessing."""
    from odibi_spark.patterns.merge import merge_apply

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        merge_apply(
            batch.sparkSession, batch, target_path=target_path, keys=keys,
            strategy=strategy,
        )

    return start_stream_write(
        df, checkpoint=checkpoint, foreach_batch=merge_batch,
        trigger=trigger or {"availableNow": True},
    )


def windowed_aggregate(
    stream: DataFrame,
    *,
    ts_col: str,
    window: str,
    slide: str | None = None,
    watermark: str = "10 minutes",
    group_cols: list[str] = (),
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Tumbling/sliding windowed aggregation with late-data watermark."""
    w = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    agg_exprs = [F.expr(e).alias(n) for n, e in (aggs or {"n": "count(*)"}).items()]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(w.alias("window"), *group_cols)
        .agg(*agg_exprs)
    )


def streaming_sessionize(
    stream: DataFrame,
    *,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    group_cols: list[str] = (),
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Session-window aggregation — the streaming form of the batch
    ``sessionize`` operator (dynamic-gap session_window)."""
    agg_exprs = [F.expr(e).alias(n) for n, e in (aggs or {"n": "count(*)"}).items()]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), *group_cols)
        .agg(*agg_exprs)
    )


def streaming_dedup_within_watermark(
    stream: DataFrame,
    *,
    keys: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup bounded by a watermark: duplicates of a key
    arriving within the watermark horizon are dropped; state for keys
    older than the watermark is evicted, so state size is bounded by the
    arrival rate x horizon, never the full history (the unbounded-state
    form of dropDuplicates is a non-starter at 100 TB/day)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stateful_running_stats(
    stream: DataFrame,
    *,
    keys: list[str],
    value_col: str,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key
    running (n, total, mean) maintained in GroupState across
    micro-batches and across restarts (state lives in the checkpoint).

    The reference has no stateful streaming operators at all (SURVEY
    §2.14); this is the documented beyond-reference extension. Arrow
    batches keep the Python boundary vectorized; state per key is three
    scalars, so the state store stays O(distinct keys).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    # groupBy(*keys) order, NOT schema order — see stateful_ewma
    key_fields = [stream.schema[k] for k in keys]
    key_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in key_fields)
    output_ddl = f"{key_ddl}, n BIGINT, total DOUBLE, mean DOUBLE"
    state_ddl = "n BIGINT, total DOUBLE"

    def update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            vals = pd.to_numeric(pdf[value_col], errors="coerce").dropna()
            n += int(len(vals))
            total += float(vals.sum())
        state.update((n, total))
        yield pd.DataFrame(
            [[*key, n, total, (total / n) if n else None]],
            columns=[*(f.name for f in key_fields), "n", "total", "mean"],
        )

    timeout_conf = {
        "NoTimeout": GroupStateTimeout.NoTimeout,
        "ProcessingTimeTimeout": GroupStateTimeout.ProcessingTimeTimeout,
        "EventTimeTimeout": GroupStateTimeout.EventTimeTimeout,
    }[timeout]
    return stream.groupBy(*keys).applyInPandasWithState(
        update, output_ddl, state_ddl, "Update", timeout_conf
    )


def stateful_ewma(
    stream: DataFrame,
    *,
    keys: list[str],
    ts_col: str,
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
    tiebreak_cols: list[str] = (),
) -> DataFrame:
    """Streaming twin of the batch EWMA (operators/analytics
    ``ewma_scan`` / ``ewma_frames``): per-key smoothing continued
    ACROSS micro-batches and restarts via applyInPandasWithState.
    State is one double per key — the last EWMA value — so the state
    store is O(distinct keys) regardless of stream length.

    Continuation is exact: each batch's rows (sorted by ``ts_col``
    within the batch) are run through the same pandas
    ``ewm(adjust=False)`` recursion SEEDED with the stored value by
    prepending it as a virtual sample (y' = a*x + (1-a)*y_prev — the
    identical recurrence), so a stream split across any number of
    micro-batches emits byte-identical values to one batch pass.
    Late rows older than a batch boundary are smoothed in arrival
    order (document upstream watermarking if order matters).
    ``tiebreak_cols`` pins a total within-batch order when ``ts_col``
    can repeat inside a key (same contract as the batch ``ewma_scan``);
    without it, equal-timestamp rows smooth in arrival order.
    """
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    from pyspark.sql.streaming.state import GroupStateTimeout

    # key tuple arrives in groupBy(*keys) order — build the field list
    # in THAT order, not schema order, or keys would land in the wrong
    # output columns when the caller's key order differs from the schema
    key_fields = [stream.schema[k] for k in keys]
    key_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in key_fields)
    ts_type = stream.schema[ts_col].dataType.simpleString()
    val_type = stream.schema[value_col].dataType.simpleString()
    tie_ddl = "".join(
        f", {c} {stream.schema[c].dataType.simpleString()}"
        for c in tiebreak_cols
    )
    # tiebreak columns ride through to the output so callers can key
    # result rows on them (they are usually unique row ids)
    output_ddl = (
        f"{key_ddl}, {ts_col} {ts_type}{tie_ddl}, {value_col} {val_type}, "
        f"{out_col} DOUBLE"
    )
    state_ddl = "y DOUBLE"
    a = float(alpha)
    sort_cols = [ts_col, *tiebreak_cols]

    def update(key, pdfs, state):
        import pandas as pd

        prev = state.get[0] if state.exists else None
        frames = [pdf for pdf in pdfs]
        if not frames:  # empty invocation: nothing to emit or update
            return
        pdf = pd.concat(frames).sort_values(sort_cols, kind="mergesort")
        vals = pdf[value_col].astype(float)
        if prev is None:
            ew = vals.ewm(alpha=a, adjust=False).mean()
        else:
            seeded = pd.concat([pd.Series([prev]), vals], ignore_index=True)
            ew = seeded.ewm(alpha=a, adjust=False).mean().iloc[1:]
            ew.index = vals.index
        if len(ew):
            state.update((float(ew.iloc[-1]),))
        out = pdf[[ts_col, *tiebreak_cols, value_col]].copy()
        for i, f in enumerate(key_fields):
            out.insert(i, f.name, key[i])
        out[out_col] = ew
        yield out

    # no timeout parameter: this operator implements no hasTimedOut
    # branch, so accepting timeout modes it cannot service would be a
    # silent no-op contract
    return stream.groupBy(*keys).applyInPandasWithState(
        update, output_ddl, state_ddl, "Update", GroupStateTimeout.NoTimeout
    )


def streaming_shard_writer(
    stream: DataFrame,
    *,
    path: str,
    checkpoint: str,
    token_col: str,
    tokens_per_shard: int,
    order_col: str,
    id_col: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    format: str = "json",
    trigger: dict | None = None,
    query_name: str | None = None,
    small_input_rows: int | None = None,
) -> StreamingQuery:
    """Streaming production of token-balanced training shards — the
    sink-side half of batch/stream unification (VERDICT r4 task 4):
    the same scrub -> chunk -> pack column ops that run in backfill
    also run here, per micro-batch, via foreachBatch.

    Per-batch packing scale bound (VERDICT r6 task 4): each
    micro-batch is packed independently, and ``pack_sequences``' size
    gate applies PER TRIGGER — batches at or under its 2M-row gate use
    the single global window (the source of benign ``WindowExec: No
    Partition Defined`` warnings on small batches; one task sorting
    <=2M narrow rows is faster than the two-pass fixed costs), while a
    larger trigger automatically takes the distributed two-pass prefix
    sum. Size triggers so a micro-batch stays executor-sized —
    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` on file sources,
    ``maxOffsetsPerTrigger`` on Kafka — and pass
    ``small_input_rows=0`` to force the two-pass path unconditionally
    (skips the per-batch ``count()`` too) when triggers routinely
    exceed the gate.

    Layout: ``path/batch_id=<epoch>/shard_id=<k>/`` — each micro-batch
    packs ITS OWN documents into ~tokens_per_shard files (global
    repacking across an unbounded stream is ill-defined; training
    readers glob ``batch_id=*/shard_id=*`` and see one uniformly
    token-balanced corpus).

    Exactly-once replay: foreachBatch may re-run an epoch after a
    crash (offsets are checkpointed, output commits are not), so the
    writer is keyed BY the epoch — each batch overwrites exactly its
    own ``batch_id=<epoch>`` directory. Replaying batch N rewrites the
    same bytes; it can neither duplicate shards (overwrite) nor drop
    them (the checkpoint replays every uncommitted epoch). The
    restart-replay test pins both properties.

    ``transform`` (optional) is applied to each micro-batch before
    packing — e.g. ``scrub_pii`` + ``chunk_documents`` — keeping ONE
    curation code path for backfill and live ingestion.
    """
    from odibi_spark.llm.chunking import write_training_shards

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        df = transform(batch) if transform is not None else batch
        if not df.take(1):
            return
        kw = (
            {} if small_input_rows is None
            else {"small_input_rows": int(small_input_rows)}
        )
        write_training_shards(
            df, f"{path}/batch_id={epoch_id}",
            token_col=token_col, tokens_per_shard=int(tokens_per_shard),
            order_col=order_col, id_col=id_col, format=format,
            mode="overwrite", **kw,
        )

    return start_stream_write(
        stream, checkpoint=checkpoint, foreach_batch=write_batch,
        trigger=trigger or {"availableNow": True}, query_name=query_name,
    )


def streaming_webdataset_writer(
    stream: DataFrame,
    *,
    path: str,
    checkpoint: str,
    key_col: str,
    members: dict[str, str],
    samples_per_shard: int = 1000,
    order_by: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger: dict | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """Streaming WebDataset production — the tar twin of
    ``streaming_shard_writer``: each micro-batch is laid out as its own
    shard set under ``path/batch_id=<epoch>/`` via
    ``llm.webdataset.write_webdataset_shards`` (training readers glob
    ``batch_id=*/*.tar``). The per-epoch directory gives exactly-once
    replay semantics for free: a replayed epoch overwrites exactly its
    own directory with byte-identical tars (the sink zeroes tar
    metadata and orders samples deterministically), so at-least-once
    foreachBatch execution converges to the exactly-once layout.

    ``transform`` applies the curation chain per micro-batch (one code
    path for backfill and live ingestion, same contract as the jsonl
    writer). Size triggers so a micro-batch stays executor-sized.
    """
    from odibi_spark.llm.webdataset import write_webdataset_shards

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        df = transform(batch) if transform is not None else batch
        if not df.take(1):
            return
        write_webdataset_shards(
            df, f"{path}/batch_id={epoch_id}",
            key_col=key_col, members=members,
            samples_per_shard=int(samples_per_shard),
            order_by=order_by, mode="overwrite",
        )

    return start_stream_write(
        stream, checkpoint=checkpoint, foreach_batch=write_batch,
        trigger=trigger or {"availableNow": True}, query_name=query_name,
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    within: str,
    how: str = "inner",
    left_watermark: str | None = None,
    right_watermark: str | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Stream-stream equi + time-interval join (beyond reference —
    SURVEY §2.14 notes the reference has no streaming join at all).

    Matches every left row to right rows with equal ``keys`` whose
    ``right_ts`` falls in ``[left_ts, left_ts + within]`` — the
    streaming twin of the batch bucketized range join
    (operators/temporal_join.py), e.g. click -> purchases-within-1h
    attribution.

    Scale contract (100 TB/day): BOTH sides carry event-time
    watermarks and the join predicate carries an explicit time-range
    bound, so Spark derives state-eviction watermarks for each side —
    buffered state is bounded by (arrival rate x (watermark + within)),
    never the full history. An unbounded stream-stream join (no
    watermark or no time bound) buffers everything and is a
    non-starter; this function makes the bounded form the only form.

    ``how``: "inner" emits matches eagerly; "leftOuter"/"rightOuter"/
    "fullOuter" additionally emit null-padded rows once the watermark
    proves no match can arrive (Spark requires the time bound + both
    watermarks for outer emission — enforced here by construction).

    Right-side columns whose names collide with left-side non-key
    columns are renamed with ``suffix``; the joined frame keeps ONE
    copy of the equality keys.
    """
    lw = left.withWatermark(left_ts, left_watermark or within)
    r2 = right
    collide = [
        c for c in right.columns if c in left.columns and c not in keys
    ]
    for c in collide:
        r2 = r2.withColumnRenamed(c, c + suffix)
    rts = right_ts + suffix if right_ts in collide else right_ts
    rw = r2.withWatermark(rts, right_watermark or within)
    cond = None
    for k in keys:
        c = lw[k] == rw[k]
        cond = c if cond is None else (cond & c)
    bound = (rw[rts] >= lw[left_ts]) & (
        rw[rts] <= lw[left_ts] + F.expr(f"INTERVAL {within}")
    )
    cond = bound if cond is None else (cond & bound)
    joined = lw.join(rw, cond, how)
    for k in keys:
        joined = joined.drop(rw[k])
    return joined


def streaming_incremental_dedup(
    stream: DataFrame,
    *,
    target_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    trigger: dict | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """Live corpus dedup: each micro-batch is checked against the
    append-only MinHash signature store (every document ever seen) and
    against itself, and only non-duplicates land in the corpus — the
    streaming twin of ``llm.incremental.run_incremental_dedup``.

    No HWM filter here: the source checkpoint already makes each
    micro-batch a pure delta. Exactly-once: kept docs land in
    ``target_path/batch_id=<epoch>`` and the epoch's signatures in the
    store, each one commit replacing the epoch's partition — a replay
    converges to the same bytes, and a failed plan leaves the corpus.
    Within a replay the store may transiently hold the epoch's
    signatures already; candidate generation is id-inequality-filtered
    and distinct, so the duplicate signature rows cannot change the
    flags.

    State growth is one row of ``num_perm`` longs per document ever
    ingested — the signature store IS the streaming state, readable by
    the batch pipeline (backfill and live ingestion share the store).
    """
    from odibi_spark.llm.incremental import SignatureStore, flag_incremental_dups
    from odibi_spark.patterns.merge_target import ParquetTarget

    def dedup_batch(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        store = SignatureStore(batch.sparkSession, store_path)
        flagged, sigs_new = flag_incremental_dups(
            batch, store, id_col=id_col, text_col=text_col, n=n,
            num_perm=num_perm, bands=bands, threshold=threshold,
        )
        kept = flagged.filter(~F.col("is_dup")).drop("is_dup")
        ParquetTarget(batch.sparkSession, target_path).replace_partitions(
            lambda staged: kept.write.parquet(f"{staged}/batch_id={epoch_id}")
        )
        store.append(sigs_new, str(epoch_id))

    return start_stream_write(
        stream, checkpoint=checkpoint, foreach_batch=dedup_batch,
        trigger=trigger or {"availableNow": True}, query_name=query_name,
    )
