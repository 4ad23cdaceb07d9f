"""Streaming batch-equivalence tests (SURVEY §5: run the same agg in batch
and via Trigger.AvailableNow streaming over the events fixture, compare)."""

import pytest
from pyspark.sql import functions as F

from keystone_spark.sources import load_table
from keystone_spark.streaming.windows import (
    dedup_within_watermark,
    read_events_stream,
    run_available_now,
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, "events", sf_dir)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_batch_vs_stream(spark, sf_dir, events):
    batch = tumbling_window_agg(events, duration="1 hour")
    stream_in = read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = tumbling_window_agg(stream_in, duration="1 hour", watermark="2 hours")
    run_available_now(streamed, "tumbling_out")
    got = spark.sql("SELECT * FROM tumbling_out")
    assert _rows(got) == _rows(batch)


def test_sliding_window_counts(events):
    out = sliding_window_agg(events, duration="2 hours", slide="1 hour")
    rows = out.collect()
    assert len(rows) > 0
    # every event lands in exactly duration/slide = 2 windows
    total_events = events.count()
    assert sum(r.c for r in rows) == 2 * total_events


def test_session_window_batch_vs_stream(spark, sf_dir, events):
    batch = session_window_agg(events, gap="30 minutes")
    stream_in = read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = session_window_agg(stream_in, gap="30 minutes", watermark="1 hour")
    run_available_now(streamed, "session_out")
    got = spark.sql("SELECT * FROM session_out")
    assert _rows(got) == _rows(batch)


def test_dedup_within_watermark_batch_path(events):
    d = dedup_within_watermark(events, ["user_id", "event_type"])
    assert d.count() == events.select("user_id", "event_type").distinct().count()


def test_stateful_running_agg_batch_vs_stream(spark, sf_dir, events):
    """applyInPandasWithState: the final streaming state per key must equal
    the one-shot batch aggregation (update-mode sink keeps every revision;
    the running count is monotone, so max-n row per key is the final one)."""
    import tempfile

    from pyspark.sql import functions as F

    from keystone_spark.streaming.windows import stateful_running_agg

    batch = stateful_running_agg(events)
    stream_in = read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = stateful_running_agg(stream_in)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            streamed.writeStream.format("memory")
            .queryName("stateful_out")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    final = (
        spark.sql("SELECT * FROM stateful_out")
        .withColumn("rk", F.row_number().over(w))
        .where("rk = 1")
        .drop("rk")
    )

    def rounded(df):
        return _rows(df.withColumn("sum_value", F.round("sum_value", 6)))

    assert rounded(final) == rounded(batch)


def test_stream_stream_interval_join_vs_batch(spark, sf_dir, events):
    """Stream-stream join with watermarks + time-range state bound: every
    error joined to same-user signups in the preceding 5 minutes, appended
    via AvailableNow, must equal the batch join."""
    import tempfile

    from pyspark.sql import functions as F

    from keystone_spark.streaming.windows import interval_join

    def split(df):
        err = df.where(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts"
        )
        sig = df.where(F.col("event_type") == "signup").select(
            F.col("event_id").alias("sig_id"), "user_id", F.col("ts").alias("r_ts")
        )
        return err, sig

    b_err, b_sig = split(events)
    batch = interval_join(
        b_err, b_sig, "user_id", upper="6 hours", watermark="12 hours"
    ).select("event_id", "sig_id")

    s_err, s_sig = split(read_events_stream(spark, f"{sf_dir}/events.parquet"))
    streamed = interval_join(
        s_err, s_sig, "user_id", upper="6 hours", watermark="12 hours"
    ).select("event_id", "sig_id")
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            streamed.writeStream.format("memory")
            .queryName("ssj_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = spark.sql("SELECT * FROM ssj_out")
    assert _rows(got) == _rows(batch)
    assert len(_rows(batch)) > 0


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch as a custom sink: tumbling counts appended to parquet
    per micro-batch; the union of batches must cover every event once."""
    from keystone_spark.streaming.windows import run_foreach_batch

    out_dir = str(tmp_path / "agg_out")
    stream_in = read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = tumbling_window_agg(stream_in, duration="1 hour", watermark="2 hours")

    def write_batch(df, epoch_id):
        df.write.mode("append").parquet(out_dir)

    run_foreach_batch(streamed, write_batch, output_mode="complete")
    got = spark.read.parquet(out_dir)
    # complete mode + AvailableNow: final batch holds the full answer;
    # dedupe on keys keeping max count covers earlier partial batches
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("w_start", "event_type").orderBy(F.col("c").desc())
    final = (
        got.withColumn("rk", F.row_number().over(w)).where("rk = 1").drop("rk")
    )
    total = final.agg(F.sum("c")).first()[0]
    assert total == load_table(spark, "events", sf_dir).count()


def test_streaming_dedup_drops_planted_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark on a real stream: plant exact dup
    rows, stream the file, assert one survivor per key."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "dups")
    base = spark.range(50).select(
        F.col("id").alias("k"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    base.unionAll(base).write.parquet(src)  # every key twice

    stream = spark.readStream.schema("k long, ts timestamp").parquet(src)
    deduped = dedup_within_watermark(stream, ["k"], "ts", "1 hour")
    run_available_now(
        deduped.groupBy().count().withColumnRenamed("count", "n"), "dedup_out"
    )
    n = spark.sql("SELECT n FROM dedup_out").first().n
    assert n == 50


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restart semantics: a file-source stream with a checkpoint processes
    each input file exactly once across separate runs — the property that
    makes AvailableNow incremental jobs safe to re-run on a cluster."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.range(0, 50).write.mode("append").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema("id long").parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    spark.range(50, 80).write.mode("append").parquet(src)  # late-arriving files
    run_once()  # restart from checkpoint: only the new files process
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == list(range(80))


def test_streaming_fingerprint_neardup(spark, tmp_path):
    """Fingerprint dedup on a stream drops trailing-edit near-duplicates
    (same token stream after normalization), keeps distinct docs."""
    import pyspark.sql.functions as F

    from keystone_spark.streaming.windows import streaming_fingerprint_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base + "!!!"),          # trailing punctuation -> same tokens
        (2, "an entirely different document about spark physical plans ok"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
    ).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(src)
    deduped = streaming_fingerprint_dedup(stream)
    run_available_now(deduped.select("doc_id"), "fp_dedup_out", output_mode="append")
    ids = sorted(r.doc_id for r in spark.sql("SELECT doc_id FROM fp_dedup_out").collect())
    assert len(ids) == 2 and 2 in ids  # one of {0,1} survives, 2 survives


def test_space_saving_stream_exact_when_capacity_ample(spark, sf_dir, events):
    """Misra-Gries streaming heavy hitters: with capacity >= per-bucket
    cardinality no trim ever fires, so the final streaming summaries must
    equal the exact batch counts; est is monotone per key, so the max-est
    revision in the update-mode sink is the final one."""
    import tempfile

    from pyspark.sql import functions as F

    from keystone_spark.streaming.windows import streaming_space_saving

    batch = streaming_space_saving(events, capacity=64)
    stream_in = read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = streaming_space_saving(stream_in, capacity=64, n_buckets=4)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            streamed.writeStream.format("memory")
            .queryName("ss_out")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    final = (
        spark.sql("SELECT key, MAX(est) AS est FROM ss_out GROUP BY key")
    )
    assert _rows(final) == _rows(batch)


def test_space_saving_trim_bounds(spark, sf_dir, events):
    """With a tiny capacity the trim fires; every retained estimate must
    undercount (never overcount) and the state stays bounded."""
    import tempfile

    from pyspark.sql import functions as F

    from keystone_spark.streaming.windows import streaming_space_saving

    truth = {
        r["key"]: r["est"]
        for r in streaming_space_saving(events, capacity=64).collect()
    }
    stream_in = read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = streaming_space_saving(stream_in, capacity=2, n_buckets=1)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            streamed.writeStream.format("memory")
            .queryName("ss_trim_out")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    last_batch = spark.sql(
        "SELECT key, est FROM ss_trim_out"
    ).groupBy("key").agg(F.min("est").alias("min_est"))
    rows = last_batch.collect()
    for r in rows:
        assert r["min_est"] <= truth[r["key"]], (r, truth)


def test_streaming_funnel_stateful_vs_batch(spark, sf_dir, events):
    """Custom stateful streaming funnel: completions over an AvailableNow
    feed (single ordered batch => greedy == exact) must equal the batch
    stage-wise min-after-prior chain. api='auto' picks
    transformWithStateInPandas (Spark 4 API) when its protobuf dep is
    present, else the applyInPandasWithState twin — this environment
    exercises the fallback; both share one greedy kernel."""
    from keystone_spark.streaming.windows import _tws_available, streaming_funnel

    batch = streaming_funnel(events)
    assert batch.count() > 0  # the fixture must actually complete funnels

    stream_in = read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = streaming_funnel(stream_in)
    run_available_now(streamed, "funnel_out", output_mode="append")
    got = spark.sql("SELECT * FROM funnel_out")
    assert _rows(got) == _rows(batch)


@pytest.mark.skipif(
    "not __import__('keystone_spark.streaming.windows', fromlist=['x'])."
    "_tws_available()",
    reason="transformWithStateInPandas needs the protobuf wheel",
)
def test_streaming_funnel_tws_api(spark, sf_dir, events):
    """Same equivalence over the transformWithStateInPandas path — runs
    wherever protobuf is installed (skipped in this container)."""
    from keystone_spark.streaming.windows import streaming_funnel

    batch = streaming_funnel(events)
    stream_in = read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = streaming_funnel(stream_in, api="tws")
    run_available_now(streamed, "funnel_tws_out", output_mode="append")
    got = spark.sql("SELECT * FROM funnel_tws_out")
    assert _rows(got) == _rows(batch)


def test_stream_stream_left_outer_interval_join(spark, sf_dir, events, tmp_path):
    """Left-outer stream-stream join: inner matches must equal the batch
    join exactly (they emit immediately); null-extended rows emit only
    once the watermark proves no match can arrive, so they are a subset
    of the batch unmatched set — and with time-ordered input chunks the
    watermark advances enough that the subset is non-empty."""
    import tempfile

    from pyspark.sql import functions as F

    from keystone_spark.streaming.windows import interval_join

    # split the fixture into 4 time-ordered chunk dirs (increasing
    # mtimes) so AvailableNow processes multiple batches and the
    # watermark actually advances between them
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    src = str(tmp_path / "chunks")
    bounds = [lo, *[lo + (hi - lo) * f for f in (0.25, 0.5, 0.75)], hi]
    for i in range(4):
        sel = events.where(
            (F.col("ts") >= bounds[i])
            & (F.col("ts") <= bounds[i + 1] if i == 3 else F.col("ts") < bounds[i + 1])
        )
        sel.coalesce(1).write.mode("overwrite").parquet(f"{src}/c{i}")

    def split(df):
        err = df.where(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts"
        )
        sig = df.where(F.col("event_type") == "signup").select(
            F.col("event_id").alias("sig_id"), "user_id", F.col("ts").alias("r_ts")
        )
        return err, sig

    b_err, b_sig = split(events)
    batch = interval_join(
        b_err, b_sig, "user_id", upper="6 hours", watermark="12 hours",
        how="left_outer",
    ).select("event_id", "sig_id")
    batch_rows = set(map(tuple, batch.collect()))
    batch_matched = {r for r in batch_rows if r[1] is not None}
    batch_null = {r for r in batch_rows if r[1] is None}
    assert batch_null, "fixture must have unmatched errors"

    schema = spark.read.parquet(f"{src}/c0").schema
    stream_df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    from keystone_spark.sources.tables import _normalize_events

    s_err, s_sig = split(_normalize_events(stream_df))
    streamed = interval_join(
        s_err, s_sig, "user_id", upper="6 hours", watermark="12 hours",
        how="left_outer",
    ).select("event_id", "sig_id")
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            streamed.writeStream.format("memory")
            .queryName("ssj_outer_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = set(map(tuple, spark.sql("SELECT * FROM ssj_outer_out").collect()))
    got_matched = {r for r in got if r[1] is not None}
    got_null = {r for r in got if r[1] is None}

    assert got_matched == batch_matched      # inner part: exact
    assert got_null <= batch_null            # outer part: watermark-gated
    assert got_null, "watermark advanced across chunks => some outer rows"


def test_stream_static_dim_enrichment(spark, sf_dir, events):
    """Stream-static join: a streaming fact enriched against a static
    dimension (the kimball enrich shape — no watermark needed on the
    static side, broadcast at micro-batch planning). Result must equal
    the batch join."""
    from pyspark.sql import functions as F

    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = (
        events.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("v"))
    )
    stream_in = read_events_stream(spark, f"{sf_dir}/events.parquet")
    streamed = (
        stream_in.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("v"))
    )
    run_available_now(streamed, "dim_enrich_out", output_mode="complete")
    got = spark.sql("SELECT * FROM dim_enrich_out")
    assert _rows(got) == _rows(batch)
    assert got.count() > 0


def _drain_with_progress(streamed, name, output_mode):
    """AvailableNow drain that returns the query's progress list so tests
    can read state-store metrics (numRowsTotal / numRowsRemoved)."""
    import tempfile

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            streamed.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return list(q.recentProgress)


def _state_rows(progresses):
    """(numRowsTotal of last batch with a state operator, total removed)."""
    total, removed = None, 0
    for p in progresses:
        ops = p.get("stateOperators") or []
        if ops:
            total = ops[0]["numRowsTotal"]
            removed += ops[0].get("numRowsRemoved", 0)
    return total, removed


def _write_ts_chunks(spark, tmp_path, chunks):
    """Write one parquet dir per chunk (ordered mtimes) and return a
    maxFilesPerTrigger=1 stream over them. chunks: list of row-lists
    (user_id, ts_str, event_type, value)."""
    import time

    src = str(tmp_path / "evchunks")
    for i, rows in enumerate(chunks):
        df = spark.createDataFrame(
            [(u, t, e, v) for (u, t, e, v) in rows],
            "user_id long, ts_s string, event_type string, value double",
        )
        from pyspark.sql import functions as F

        df.select(
            "user_id",
            F.to_timestamp("ts_s").alias("ts"),
            "event_type",
            "value",
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/c{i}")
        time.sleep(1.05)  # distinct mtimes => deterministic batch order

    schema = spark.read.parquet(f"{src}/c0").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )


def test_stateful_running_agg_evicts_idle_keys(spark, tmp_path):
    """EventTimeTimeout state bound (VERDICT r3 #1): once the watermark
    passes an idle key's last event by state_ttl, its state row is REMOVED
    from the store — total state tracks live keys, not total-ever keys."""
    from keystone_spark.streaming.windows import stateful_running_agg

    t0 = "2024-01-01 00:00:00"
    chunks = [
        [(1, t0, "view", 1.0), (1, "2024-01-01 00:10:00", "view", 2.0)],
        [(2, "2024-01-01 03:00:00", "view", 3.0)],
        [(2, "2024-01-01 06:00:00", "view", 4.0)],
    ]
    stream_in = _write_ts_chunks(spark, tmp_path, chunks)
    streamed = stateful_running_agg(
        stream_in, watermark="1 hour", state_ttl="1 hour"
    )
    prog = _drain_with_progress(streamed, "evict_agg_out", "update")
    total, removed = _state_rows(prog)
    # batch3 watermark = 03:00 - 1h = 02:00 > user1 timeout (00:10 + 1h)
    assert removed >= 1, f"user1 state never evicted: {prog}"
    assert total == 1, f"expected only user2 live, got {total}"
    # and the emitted aggregates are still correct per key
    got = {r.user_id: (r.n, r.sum_value) for r in spark.sql(
        "SELECT user_id, max(n) AS n, max(sum_value) AS sum_value "
        "FROM evict_agg_out GROUP BY user_id").collect()}
    assert got[1] == (2, 3.0) and got[2] == (2, 7.0)


def test_streaming_funnel_evicts_idle_users(spark, tmp_path):
    """Funnel fallback path: an abandoned funnel (user stuck mid-stage)
    is evicted once idle past state_ttl; active users keep their state
    and still complete."""
    from keystone_spark.streaming.windows import streaming_funnel

    chunks = [
        # user1 stalls at stage 2 (view+click, never purchases)
        [(1, "2024-01-01 00:00:00", "view", 0.0),
         (1, "2024-01-01 00:05:00", "click", 0.0)],
        # user2 starts much later -> watermark jumps past user1's TTL
        [(2, "2024-01-01 05:00:00", "view", 0.0)],
        [(2, "2024-01-01 08:00:00", "click", 0.0),
         (2, "2024-01-01 08:01:00", "purchase", 0.0)],
    ]
    stream_in = _write_ts_chunks(spark, tmp_path, chunks)
    streamed = streaming_funnel(
        stream_in, api="apwis", watermark="1 hour", state_ttl="1 hour"
    )
    prog = _drain_with_progress(streamed, "evict_funnel_out", "append")
    total, removed = _state_rows(prog)
    assert removed >= 1, f"user1 funnel state never evicted: {prog}"
    rows = spark.sql("SELECT * FROM evict_funnel_out").collect()
    assert [r.user_id for r in rows] == [2]  # user2 completed, user1 never


def test_streaming_funnel_state_schema_pinned(spark, tmp_path):
    """Pin the funnel's persisted state layout (VERDICT r3 #5): the
    checkpoint's state-schema metadata must keep recording exactly the
    (stage int, stage_ts long) value schema keyed by user_id, and the
    state operator must stay applyInPandasWithState. A Spark upgrade (or
    a refactor) that silently changes the state layout would strand every
    production checkpoint — this test makes that loud."""
    import glob
    import os

    from keystone_spark.streaming.windows import streaming_funnel

    chunks = [
        [(1, "2024-01-01 00:00:00", "view", 0.0),
         (1, "2024-01-01 00:05:00", "click", 0.0),
         (1, "2024-01-01 00:06:00", "purchase", 0.0)],
    ]
    stream_in = _write_ts_chunks(spark, tmp_path, chunks)
    streamed = streaming_funnel(
        stream_in, api="apwis", watermark="1 hour", state_ttl="1 hour"
    )
    ckpt = str(tmp_path / "pin_ckpt")
    q = (
        streamed.writeStream.format("memory")
        .queryName("pin_funnel_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = [
        op["operatorName"]
        for p in q.recentProgress
        for op in (p.get("stateOperators") or [])
    ]
    assert set(ops) == {"applyInPandasWithState"}
    schema_files = glob.glob(
        os.path.join(ckpt, "state", "0", "*", "_metadata", "schema")
    )
    assert schema_files, "state schema metadata missing from checkpoint"
    blob = open(schema_files[0], "rb").read().decode("utf-8", "replace")
    # key schema: the grouping column; value schema: the funnel state pair
    for field in ("user_id", "stage", "stage_ts"):
        assert field in blob, f"state schema no longer records {field!r}"


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "uri"])
def test_streaming_upsert_maintains_snapshot(spark, tmp_path, as_uri):
    """foreachBatch CDC fold (streaming MERGE INTO): two micro-batches of
    changes applied in order produce exactly the batch-mode apply_changes
    result, each commit publishes a new _LATEST.N pointer, and every
    committed version stays a complete readable snapshot. The snapshot
    directory may be a plain path or a file:// URI (all IO goes through
    the Hadoop FileSystem API)."""
    import os

    from keystone_spark.operators.curation import apply_changes
    from keystone_spark.streaming.windows import read_snapshot, streaming_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    chunk1 = [(2, "b2", 21.0, "U", 1), (4, "d", 40.0, "I", 1)]
    chunk2 = [(1, None, 0.0, "D", 2), (4, "d2", 41.0, "U", 2)]
    schema = "k long, s string, v double, op string, seq long"
    src = tmp_path / "changes"
    src.mkdir()
    for i, chunk in enumerate([chunk1, chunk2]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
            str(src / f"c{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    snap_dir = str(tmp_path / "snap")
    os.makedirs(snap_dir)
    snap = f"file://{snap_dir}" if as_uri else snap_dir
    with pytest.raises(ValueError, match="no streaming_upsert snapshot"):
        read_snapshot(spark, snap)  # nothing committed yet
    q = (
        streaming_upsert(stream, snap, ["k"], seq_col="seq", base_df=base)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.k: (r.s, r.v) for r in read_snapshot(spark, snap).collect()}
    all_changes = spark.createDataFrame(chunk1 + chunk2, schema)
    want = {r.k: (r.s, r.v)
            for r in apply_changes(base, all_changes, ["k"], seq_col="seq")
            .collect()}
    assert got == want == {2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d2", 41.0)}
    # multiple committed versions exist; each one is a readable snapshot
    versions = [d for d in os.listdir(snap_dir) if d.startswith("v")]
    assert len(versions) >= 2
    for v in versions:
        assert spark.read.parquet(os.path.join(snap_dir, v)).count() >= 3


def test_streaming_upsert_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch whose pointer commit already happened must
    be skipped (not re-folded onto its own output)."""
    import os

    from keystone_spark.streaming.windows import read_snapshot, streaming_upsert

    base = spark.createDataFrame([(1, 1.0)], ["k", "v"])
    schema = "k long, v double, op string"
    src = tmp_path / "changes"
    src.mkdir()
    spark.createDataFrame([(2, 2.0, "I")], schema).coalesce(1).write.parquet(
        str(src / "c0")
    )
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    snap_dir = str(tmp_path / "snap")
    os.makedirs(snap_dir)

    def run(ck):
        q = (
            streaming_upsert(stream, snap_dir, ["k"], base_df=base)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run("ck1")
    first = sorted(r.k for r in read_snapshot(spark, snap_dir).collect())
    # fresh checkpoint -> batch 0 REPLAYS against the committed snapshot
    run("ck2")
    second = sorted(r.k for r in read_snapshot(spark, snap_dir).collect())
    assert first == second == [1, 2]


def test_stateful_ewma_stream_equals_batch(spark, tmp_path):
    """Streaming EWMA folded across ordered micro-batches must equal the
    batch full-history fold exactly (same alpha, same ordering)."""
    from keystone_spark.streaming.windows import stateful_ewma

    chunks = [
        [(1, "2024-01-01 00:00:00", "view", 10.0),
         (1, "2024-01-01 00:05:00", "view", 20.0),
         (2, "2024-01-01 00:06:00", "view", 5.0)],
        [(1, "2024-01-01 01:00:00", "view", 30.0),
         (2, "2024-01-01 01:10:00", "view", 15.0)],
    ]
    stream_in = _write_ts_chunks(spark, tmp_path, chunks)
    streamed = stateful_ewma(stream_in, alpha=0.3)
    prog = _drain_with_progress(streamed, "ewma_out", "update")
    got = {r.user_id: (r.ewma, r.n) for r in spark.sql(
        "SELECT user_id, ewma, n FROM ewma_out t "
        "WHERE n = (SELECT MAX(n) FROM ewma_out u "
        "           WHERE u.user_id = t.user_id)").collect()}

    import pyspark.sql.functions as F
    rows = [r for c in chunks for r in c]
    batch = spark.createDataFrame(
        rows, ["user_id", "ts", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    want = {r.user_id: (r.ewma, r.n)
            for r in stateful_ewma(batch, alpha=0.3).collect()}
    assert got == want
    # hand value: user1 = .3*30 + .7*(.3*20 + .7*10) = 18.1
    assert abs(got[1][0] - 18.1) < 1e-6 and got[1][1] == 3


def test_streaming_funnel_never_mutates_session_conf(spark, events, sf_dir):
    """VERDICT r5 #5: building a funnel plan must leave session conf
    untouched, and scoped_state_store_provider must restore the provider
    conf (including unset -> unset) even on exception — the old
    in-operator conf.set silently flipped every later query on the
    session to the alternate provider."""
    from keystone_spark.streaming.windows import (
        scoped_state_store_provider,
        streaming_funnel,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    stream_in = read_events_stream(spark, f"{sf_dir}/events.parquet")
    streaming_funnel(stream_in)          # stream plan
    streaming_funnel(events)             # batch twin
    assert spark.conf.get(key, None) == before
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with scoped_state_store_provider(spark, rocks):
        assert spark.conf.get(key) == rocks
    assert spark.conf.get(key, None) == before
    # restore must survive an exception in the body
    try:
        with scoped_state_store_provider(spark, rocks):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key, None) == before
    # nested: inner restores to outer's provider, not to unset
    with scoped_state_store_provider(spark, rocks):
        with scoped_state_store_provider(spark, "other.Provider"):
            assert spark.conf.get(key) == "other.Provider"
        assert spark.conf.get(key) == rocks
    assert spark.conf.get(key, None) == before


def test_stream_neardup_matches_batch(spark, tmp_path):
    """Streaming incremental near-dedup (foreachBatch over the stored
    band index) equals the batch operator on the same docs, regardless
    of micro-batch boundaries (per-doc verdicts are independent)."""
    from keystone_spark.operators.dedup import (
        build_minhash_index, neardup_against_corpus, release,
    )
    from pyspark.sql import functions as F

    from keystone_spark.sources import load_table
    from keystone_spark.streaming.windows import stream_neardup_against_index

    d = load_table(spark, "documents", "/root/testdata/sf0.001")
    corpus = d.where(F.col("doc_id") % 4 != 0)
    batch = d.where(F.col("doc_id") % 4 == 0).select("doc_id", "text")

    want_df = neardup_against_corpus(
        corpus, batch, n_hashes=64, n_bands=16, threshold=0.8
    )
    want = sorted((r.doc_id, r.dup_of, r.jac) for r in want_df.collect())
    release(want_df)
    assert want, "fixture must contain cross-split near-dups"

    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx, n_hashes=64, n_bands=16)
    # two files -> two micro-batches with maxFilesPerTrigger=1
    src = tmp_path / "incoming"
    src.mkdir()
    rows = batch.collect()
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        spark.createDataFrame(chunk, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    sink = str(tmp_path / "flags")
    stream_neardup_against_index(
        stream, idx, corpus, sink, n_hashes=64, n_bands=16, threshold=0.8
    )
    got = sorted(
        (r.doc_id, r.dup_of, r.jac)
        for r in spark.read.parquet(sink).collect()
    )
    assert got == want


@pytest.mark.slow
def test_stream_neardup_updates_its_index(spark, tmp_path):
    """update_index=True (VERDICT r9 #1): batch 2 must near-dup against
    batch 1's documents — the foreachBatch fold appends each processed
    micro-batch to the index it reads (add_to_minhash_index), so the
    stream dedups against its own history, not just the build corpus.
    Without the flag, the same pair goes unflagged."""
    from pyspark.sql import functions as F

    from keystone_spark.operators.dedup import build_minhash_index
    from keystone_spark.streaming.windows import stream_neardup_against_index

    base = ("the quick brown fox jumps over the lazy dog and then "
            "naps in the warm afternoon sun by the riverbank ") * 5
    corpus = spark.createDataFrame(
        [(1, "completely unrelated corpus text about spark shuffles "
             "and parquet footers, long enough to shingle cleanly " * 5)],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx, n_hashes=64, n_bands=16)

    # batch 1 introduces doc 100; batch 2's doc 200 is its near-dup
    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [(100, base)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(
        [(200, base + " tiny tail edit")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))

    def run(update):
        tag = "upd" if update else "noupd"
        idx_run = str(tmp_path / f"idx_{tag}")
        import shutil

        shutil.copytree(idx, idx_run)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        sink = str(tmp_path / f"flags_{tag}")
        stream_neardup_against_index(
            stream, idx_run, corpus, sink, n_hashes=64, n_bands=16,
            threshold=0.8, update_index=update,
            texts_path=str(tmp_path / f"texts_{tag}") if update else None,
        )
        return {(r.doc_id, r.dup_of) for r in spark.read.parquet(sink).collect()}

    assert run(update=False) == set()
    assert run(update=True) == {(200, 100)}

    # missing texts_path is an explicit error, not silent verify misses
    import pytest

    with pytest.raises(ValueError, match="texts_path"):
        stream_neardup_against_index(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src / "*")),
            idx, corpus, str(tmp_path / "x"), update_index=True,
        )


def test_stream_bm25_ingest_equals_batch_build(spark, tmp_path):
    """Streaming BM25 ingest (foreachBatch -> Bm25Index.add): after two
    micro-batches drain, search over the streamed-into index is
    hash-identical to an index built from scratch over seed + both
    batches — the associative-counts argument, exercised through the
    streaming fold."""
    from pyspark.sql import functions as F

    from keystone_spark.operators.nlp import Bm25Index
    from keystone_spark.streaming.windows import stream_bm25_ingest

    def toks(rows):
        return spark.createDataFrame(rows, "doc_id long, text string").select(
            "doc_id", F.split("text", " ").alias("toks")
        )

    seed = toks([(0, "alpha beta gamma"), (1, "beta beta delta")])
    b1 = [(10, "alpha delta epsilon"), (11, "zeta beta")]
    b2 = [(20, "epsilon epsilon alpha"), (21, "gamma zeta")]

    idx_path = str(tmp_path / "bm25_stream")
    Bm25Index.build(seed, n_term_buckets=8).save(idx_path)

    src = tmp_path / "incoming"
    src.mkdir()
    for i, chunk in enumerate([b1, b2]):
        spark.createDataFrame(
            chunk, "doc_id long, text string"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
    stream_bm25_ingest(stream, idx_path)

    qs = spark.createDataFrame(
        [(0, ["alpha", "epsilon"]), (1, ["beta"])], ["query_id", "q_toks"]
    )

    def key(df):
        return sorted((r.query_id, r.rk, r.doc_id, round(r.score, 9))
                      for r in df.collect())

    streamed = Bm25Index.load(spark, idx_path)
    assert streamed.params["n_docs"] == 6
    full = Bm25Index.build(
        seed.unionByName(toks(b1)).unionByName(toks(b2)), n_term_buckets=8
    )
    assert key(streamed.search(qs, k=4)) == key(full.search(qs, k=4))


@pytest.mark.slow
def test_stream_neardup_store_texts_bounds_history(spark, tmp_path):
    """VERDICT r10 #5: with an index built store_texts=True, the
    streaming fold's verify source is the index's OWN texts table —
    one row per DISTINCT indexed content — so a long stream (5
    micro-batches here, including a full re-crawl batch) leaves a
    history bounded by distinct content, not by streamed rows; no
    external texts_path exists at all. compact_every_n keeps the
    index at a single committed generation without changing flags."""
    from pyspark.sql import functions as F

    from keystone_spark.operators.dedup import (
        build_minhash_index,
        minhash_log,
    )
    from keystone_spark.streaming.windows import stream_neardup_against_index

    def mk(i):
        # token-disjoint per topic so cross-topic jaccard is ~0
        return " ".join(f"tok{i}x{j}" for j in range(40)) * 3

    corpus = spark.createDataFrame([(1, mk("seed"))], ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx, n_hashes=64, n_bands=16,
                        store_texts=True)

    src = tmp_path / "incoming"
    src.mkdir()
    batches = [
        [(100, mk(0))],
        [(101, mk(0) + " tiny tail edit"), (102, mk(1))],
        [(103, mk(1) + " another tail edit")],
        [(104, mk(0))],                        # exact re-crawl of 100
        [(105, mk(0)), (106, mk(1)),           # full re-crawl batch
         (107, mk("seed"))],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    sink = str(tmp_path / "flags")
    stream_neardup_against_index(
        stream, idx, None, sink, n_hashes=64, n_bands=16,
        threshold=0.8, update_index=True, compact_every_n=2,
    )

    flags = {(r.doc_id, r.dup_of)
             for r in spark.read.parquet(sink).collect()}
    assert flags == {(101, 100), (103, 102), (104, 100),
                     (105, 100), (106, 102), (107, 1)}

    # history bounded by DISTINCT content: seed + 100/101/102/103 —
    # the re-crawl rows (104..107) appended nothing
    texts = spark.read.parquet(f"{idx}/texts")
    assert texts.count() == 5
    assert {r.doc_id for r in texts.collect()} == {1, 100, 101, 102, 103}

    # 5 folds with compact_every_n=2 -> compactions after folds 2 and
    # 4 collapsed history; at most the post-compact adds remain as
    # extra generations
    cfg = minhash_log(spark, idx)
    assert cfg["incomplete_generations"] == []
    assert cfg["max_generation"] <= 2


@pytest.mark.slow
def test_stream_neardup_replayed_epoch_is_idempotent(spark, tmp_path):
    """ADVICE r10 #4: per-epoch outputs land under epoch={id} with
    overwrite, so re-running a micro-batch fold (foreachBatch is
    at-least-once) rewrites its own output instead of duplicating
    sink rows or texts-history rows."""
    from pyspark.sql import functions as F

    from keystone_spark.operators.dedup import build_minhash_index
    from keystone_spark.streaming import windows as w

    base = ("the quick brown fox jumps over the lazy dog and then "
            "naps in the warm afternoon sun by the riverbank ") * 5
    corpus = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx, n_hashes=64, n_bands=16,
                        store_texts=True)

    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [(100, base + " tail edit")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b0"))

    sink = str(tmp_path / "flags")

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src / "*"))
        )
        w.stream_neardup_against_index(
            stream, idx, None, sink, n_hashes=64, n_bands=16,
            threshold=0.8, update_index=True,
        )

    run_once()
    first = sorted((r.doc_id, r.dup_of, r.jac)
                   for r in spark.read.parquet(sink).collect())
    # fresh checkpoint -> the same file becomes epoch 0 again: a replay
    run_once()
    again = sorted((r.doc_id, r.dup_of, r.jac)
                   for r in spark.read.parquet(sink).collect())
    assert again == first == [(100, 1, first[0][2])]
    # the replayed add indexed nothing new
    assert spark.read.parquet(f"{idx}/texts").count() == 2


def test_stream_vector_ingest_equals_one_pass_assignment(spark, tmp_path):
    """Streaming vector ingest (foreachBatch -> IvfIndex.add with
    skip_existing_ids): after two micro-batches drain — with a
    mid-stream compact (compact_every_n=2) — search over the
    streamed-into index is row-identical to a one-pass assignment of
    seed + both batches under the same frozen centroids. Closes the
    ingest loop for the fourth stored index family."""
    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.sources import load_table
    from keystone_spark.streaming.windows import stream_vector_ingest

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    lo = e.where(F.col("vec_id") % 3 == 1)
    hi = e.where(F.col("vec_id") % 3 != 1)
    probes = e.where(F.col("vec_id") % 50 == 0).limit(5)

    path = str(tmp_path / "ivf_stream")
    IvfIndex.build(lo, n_cells=8).save(path)

    src = tmp_path / "vec_incoming"
    src.mkdir()
    b1 = hi.where(F.col("vec_id") % 2 == 0)
    b2 = hi.where(F.col("vec_id") % 2 != 0)
    for i, chunk in enumerate([b1, b2]):
        chunk.coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    stream_vector_ingest(stream, path, family="ivf", compact_every_n=2)

    inc = IvfIndex.load(spark, path)
    union = IvfIndex(inc.C, IvfIndex._assign(
        lo.unionByName(hi), inc.C, "vec_id", "embedding"))

    def key(df):
        return sorted((r.probe, r.rk, r.vec_id, round(r.cos, 9))
                      for r in df.collect())

    got = key(inc.search(probes, k=5, n_probe_cells=4))
    assert got == key(union.search(probes, k=5, n_probe_cells=4))
    assert len(got) > 0
    # the mid-stream compact left one file per cell dir
    from keystone_spark.fsutil import count_parquet_files

    import os
    n_cells = len([d for d in os.listdir(f"{path}/corpus")
                   if d.startswith("cell=")])
    assert count_parquet_files(spark, f"{path}/corpus") == n_cells


def test_stream_vector_ingest_replay_is_noop(spark, tmp_path):
    """Replay idempotency (at-least-once foreachBatch): re-running the
    same source against a FRESH checkpoint re-delivers every batch;
    skip_existing_ids anti-joins the replayed ids out, so the corpus
    row count and search results are unchanged — same contract the
    MinHash fold gets from its content anti-join."""
    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.sources import load_table
    from keystone_spark.streaming.windows import stream_vector_ingest

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    lo = e.where(F.col("vec_id") % 3 == 1)
    hi = e.where(F.col("vec_id") % 3 != 1)

    path = str(tmp_path / "ivf_replay")
    IvfIndex.build(lo, n_cells=8).save(path)
    src = tmp_path / "replay_incoming"
    src.mkdir()
    hi.coalesce(1).write.parquet(str(src / "b0"))

    def run_once():
        stream_vector_ingest(
            spark.readStream.schema(e.schema).parquet(str(src / "*")),
            path, family="ivf",
        )

    run_once()
    n_first = spark.read.parquet(f"{path}/corpus").count()
    run_once()  # fresh checkpoint: the file is epoch 0 again — a replay
    assert spark.read.parquet(f"{path}/corpus").count() == n_first
    assert n_first == (lo.count() + hi.count())

    import pytest

    with pytest.raises(ValueError, match="family"):
        stream_vector_ingest(
            spark.readStream.schema(e.schema).parquet(str(src / "*")),
            path, family="hnsw",
        )
