"""Real Structured Streaming implementations (SURVEY.md §2.8, E3 lifecycle).

File-source micro-batches over the events parquet, availableNow triggers
(bounded replay of everything, then stop), checkpointed sinks. At cluster
scale the same code points readStream at a Kafka/file landing zone and
drops availableNow for a continuous trigger — transformation bodies are
shared with batch_forms.py by construction.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..scratch import release, scratch_dir
from ..sources.tables import corpus_tag, read_marker, src_parts, src_sig

# File-stream schema factory: the corpus has shipped ts as BIGINT nanos in
# one generation and TIMESTAMP(US) NTZ in another, so the explicit schema a
# file stream requires is derived per-variant; the reader normalizes either
# to a microsecond timestamp.
def _events_raw_schema(ts_is_long: bool) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType() if ts_is_long else T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _stage_root() -> str:
    """Base directory for staged stream sources: the repo-level .cache by
    default, overridable via MDBSPARK_STAGE_ROOT (tests point it at a
    tmp_path so per-run stages don't accumulate in the project cache —
    round-10 ADVICE)."""
    env = os.environ.get("MDBSPARK_STAGE_ROOT")
    if env:
        return env
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".cache",
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream (explicit schema, required
    for file streams and our extracted-schema discipline anyway)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The file stream source requires a directory; stage the table's
    # file(s) into one (per-sf cache). Handles both the driver's
    # single-file tables and the scale replicas' part-file directories —
    # the latter hit IsADirectoryError under the old copyfile form
    # (found by the sf1 oracle sweep). In production this is the landing
    # directory micro-batches arrive in.
    stage = os.path.join(_stage_root(), corpus_tag(sf_dir), "events_stream_src")
    src = f"{sf_dir}/events.parquet"
    sig = os.path.join(os.path.dirname(stage), "events_stream_src.sig")
    if not os.path.isdir(stage) or read_marker(sig) != src_sig(src):
        if os.path.isdir(stage):
            shutil.rmtree(stage)
        os.makedirs(stage, exist_ok=True)
        # temp + atomic rename per part: a copy that dies mid-write must
        # never leave a partial file that later runs read as complete.
        # The temp lives OUTSIDE the watched directory so the file-stream
        # source can never glob it.
        for i, part in enumerate(src_parts(src)):
            tmp = os.path.join(os.path.dirname(stage), "events_stream_src.parquet.tmp")
            shutil.copyfile(part, tmp)
            os.replace(tmp, os.path.join(stage, f"events_{i:04d}.parquet"))
        with open(sig, "w") as f:
            f.write(src_sig(src))
    from ..sources.tables import T as _scan

    ts_is_long = _scan(spark, sf_dir, "events").schema["ts"].dataType.simpleString() == "bigint"
    raw = spark.readStream.schema(_events_raw_schema(ts_is_long)).format("parquet").load(stage)
    if ts_is_long:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_stream_sliced(
    spark: SparkSession, sf_dir: str, n_slices: int = 10
) -> DataFrame:
    """events.parquet staged as `n_slices` TIME-ORDERED slice files with
    ascending modification times, so an availableNow run with
    maxFilesPerTrigger=1 replays the corpus as n_slices micro-batches in
    event-time order — the shape that lets a test observe the watermark
    ADVANCING between batches and state actually being evicted.
    (read_events_stream's single staged file collapses to one data batch:
    correct for result parity, blind to state-lifetime bugs.)"""
    stage = os.path.join(_stage_root(), corpus_tag(sf_dir), f"events_stream_sliced_{n_slices}")
    done = os.path.join(os.path.dirname(stage), f"events_stream_sliced_{n_slices}.done")
    # The marker CONTENT carries the source file's (mtime_ns, size): a
    # regenerated events.parquet at the same sf_dir invalidates the staged
    # slices instead of silently replaying stale data into the eviction
    # tests (round-9 ADVICE).
    if read_marker(done) != src_sig(f"{sf_dir}/events.parquet"):
        import pyarrow.parquet as pq

        if os.path.isdir(stage):
            shutil.rmtree(stage)
        tbl = pq.read_table(f"{sf_dir}/events.parquet")
        order = tbl.column("ts").to_pandas().sort_values(kind="mergesort").index
        tbl = tbl.take(list(order))
        os.makedirs(stage, exist_ok=True)
        n = tbl.num_rows
        per = max(1, (n + n_slices - 1) // n_slices)
        for i in range(n_slices):
            chunk = tbl.slice(i * per, per)
            if chunk.num_rows == 0:
                break
            tmp = os.path.join(os.path.dirname(stage), f"slice_{i:03d}.tmp")
            pq.write_table(chunk, tmp)
            dst = os.path.join(stage, f"slice_{i:03d}.parquet")
            os.replace(tmp, dst)
            # file source processes candidates in mod-time order; make the
            # ordering explicit rather than racing the copy loop's clock
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        with open(done, "w") as f:
            f.write(src_sig(f"{sf_dir}/events.parquet"))
    from ..sources.tables import T as _scan

    ts_is_long = _scan(spark, sf_dir, "events").schema["ts"].dataType.simpleString() == "bigint"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(_events_raw_schema(ts_is_long))
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(stage)
    )
    if ts_is_long:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_to_memory_with_progress(
    spark: SparkSession, streaming_df: DataFrame, name: str, output_mode: str
):
    """run_to_memory + the per-micro-batch StreamingQueryProgress list —
    the state-store accounting (numRowsTotal / numRowsRemoved per
    operator per batch) tests need to assert eviction."""
    # availableNow one-shot: nothing needs the checkpoint after return, so
    # it is released eagerly — leaked ckpt dirs are the pressure class
    # behind round 10's ENOSPC bench crash (VERDICT r10 "What's wrong" #1).
    ckpt = scratch_dir(f"ckpt_{name}_")
    try:
        q = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progresses = list(q.recentProgress)
        return spark.table(name), progresses
    finally:
        release(ckpt)


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of batch_forms.stream_tumbling_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("event_cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "event_cnt",
            "value_sum",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of batch_forms.stream_session_window."""
    e = events.withColumn("ts_s", F.to_timestamp(F.col("ts").cast("long")))  # second-truncated
    return (
        e.withWatermark("ts_s", watermark)
        .groupBy(F.session_window("ts_s", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("event_cnt"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "event_cnt",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of batch_forms.stream_dedup: exactly-once by key
    within the watermark horizon (state expires with the watermark).

    The watermark rides the minute-truncated EVENT-TIME column and that
    column is part of the dedup key: Spark only retires dropDuplicates
    state when one of the dedup columns IS the watermarked event-time
    column. The previous form keyed on the minute as a plain BIGINT
    beside a watermark on raw ts — identical output on bounded input,
    state pinned FOREVER on unbounded input (caught by
    test_state_store_evicts_as_watermark_advances: numRowsRemoved stayed
    0 across every micro-batch). Keying on the truncated timestamp is
    exact, not approximate: two rows share a key only if they share the
    minute, so eviction at watermark - horizon can never split a key."""
    e = events.withColumn(
        "minute_ts", F.timestamp_seconds(F.floor(F.col("ts").cast("long") / 60) * 60)
    )
    return (
        e.withWatermark("minute_ts", watermark)
        .dropDuplicates(["user_id", "event_type", "minute_ts"])
        .withColumn("minute_start", F.col("minute_ts").cast("long"))
        # minute_ts is dedup plumbing; the output contract (matching the
        # batch twin and the pre-r9 schema) ends at minute_start.
        .drop("minute_ts")
    )


def run_to_memory(spark: SparkSession, streaming_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Execute a bounded stream (availableNow) into an in-memory sink and
    return the final static result. Test harness helper."""
    ckpt = scratch_dir(f"ckpt_{name}_")  # one-shot: released after the run
    try:
        q = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        release(ckpt)


def run_foreach_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream -> foreachBatch -> parquet sink round-trip (#58).

    foreachBatch is the idempotent micro-batch sink adapter: in production
    the body is a JDBC upsert (df.write.jdbc / MERGE); here it lands
    per-type counts as parquet (overwrite per batch = complete-mode
    idempotence) and the final sink contents are returned.
    """
    # The sink outlives this call (the returned DataFrame reads it
    # lazily), so it stays registered for the atexit sweep instead of an
    # eager release; the checkpoint is one-shot and released immediately.
    # Batches land in a data/ SUBDIRECTORY of the registered dir: an
    # overwrite straight into the registry dir would delete its
    # .owner_pid liveness marker, leaving the live sink protected only by
    # the mtime age guard — a concurrent harness startup sweep could then
    # reclaim it out from under the lazily-read return value (the exact
    # failure class the marker exists to prevent; cf. run_cdc_upsert's
    # state_dir/b{id} layout).
    sink = scratch_dir("sink_counts_")
    data_dir = os.path.join(sink, "data")
    counts = (
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("event_cnt"))
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(data_dir)

    ckpt = scratch_dir("ckpt_foreach_")
    try:
        q = (
            counts.writeStream.foreachBatch(write_batch)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        release(ckpt)
    return spark.read.parquet(data_dir)


def stateful_user_counters(events: DataFrame) -> DataFrame:
    """Custom stateful operator (#57): per-user running counters via
    applyInPandasWithState. State = (event_cnt, value_sum_cents) carried
    across micro-batches; emits the updated counters each batch.

    value_sum is accumulated in integer cents — exact, so the converged
    state equals the batch GROUP BY (decimal-sum) result bit-for-bit.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_cnt", T.LongType()),
            T.StructField("value_sum", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("cnt", T.LongType()),
            T.StructField("sum_cents", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        cnt, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            cents += int(round(pdf["value"].sum() * 100))
        state.update((cnt, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "event_cnt": [cnt], "value_sum": [cents / 100.0]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_user_counters_tws(events: DataFrame) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas`` form of #57 — the successor
    API to applyInPandasWithState: an object-style StatefulProcessor with
    named state (value/list/map), timers, and TTL support. Requires the
    RocksDB state-store provider (the 100 TB state backend anyway);
    callers set ``spark.sql.streaming.stateStore.providerClass``.

    Same semantics as stateful_user_counters: per-user (count, exact
    cents sum) carried across micro-batches.

    NOTE: the TWS driver worker imports google.protobuf; on images where
    protobuf is absent/broken the query fails at initialization
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE) — the test suite
    skips in that case and applyInPandasWithState remains the working
    stateful path.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    state_schema = T.StructType(
        [
            T.StructField("cnt", T.LongType()),
            T.StructField("sum_cents", T.LongType()),
        ]
    )
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_cnt", T.LongType()),
            T.StructField("value_sum", T.DoubleType()),
        ]
    )

    class Counters(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("counters", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            cnt, cents = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                cnt += len(pdf)
                cents += int(round(pdf["value"].sum() * 100))
            self._state.update((cnt, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "event_cnt": [cnt], "value_sum": [cents / 100.0]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Counters(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def static_join_counts(spark: SparkSession, events: DataFrame, sf_dir: str) -> DataFrame:
    """Stream-static enrichment twin of batch_forms.stream_static_join:
    each micro-batch joins the (static, broadcast) customer dim."""
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey", "c_mktsegment")
    )
    return (
        events.join(F.broadcast(cust), events.user_id == cust.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("event_cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
    )


def click_purchase_join(
    spark: SparkSession, sf_dir: str, band_sec: int = 600, source=None
) -> DataFrame:
    """Stream-stream interval join twin of batch_forms.stream_stream_join:
    two independent file streams (clicks, purchases) with watermarks on
    both sides + the time-range predicate — the state-expiry contract a
    stream-stream join requires. Event time is floor-second-truncated
    before the watermark so the interval predicate matches the batch
    form's ts_sec bounds exactly (see windowed_join_counts). `source`
    overrides the stream reader (default read_events_stream; the eviction
    gate passes read_events_stream_sliced to replay as ordered
    micro-batches)."""
    source = source or read_events_stream
    clicks = source(spark, sf_dir).filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("a_user"),
        F.to_timestamp(F.col("ts").cast("long")).alias("a_ts"),
    ).withWatermark("a_ts", "30 minutes")
    purchases = source(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("b_user"),
        F.to_timestamp(F.col("ts").cast("long")).alias("b_ts"),
    ).withWatermark("b_ts", "30 minutes")
    joined = clicks.join(
        purchases,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {band_sec} SECONDS")),
    )
    gap = (F.unix_timestamp("b_ts") - F.unix_timestamp("a_ts")).alias("gap_sec")
    return joined.select("click_id", "purchase_id", gap)


def run_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of batch_forms.stream_cdc_upsert: the event feed is
    applied through foreachBatch MERGE semantics.

    Each micro-batch is first reduced to its own latest row per key (the
    in-batch combine a MERGE sink needs for correctness when a key occurs
    twice in one batch), then merged into the parquet state store keeping
    the (ts_sec, event_id)-max row per key; 'click' rows persist as
    tombstones so a later batch's stale update cannot resurrect a deleted
    key, and the final read filters them out. Overwrite-per-batch of the
    (user-count-sized) state table is the idempotent-restart pattern; a
    production sink does the same via JDBC/Delta MERGE."""
    from pyspark.sql.window import Window as _W

    # State table outlives this call (the returned DataFrame reads `cur`
    # lazily) -> atexit-swept, not eagerly released.
    state_dir = scratch_dir("cdc_state_")
    state_cur = os.path.join(state_dir, "cur")

    ev = read_events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        "value",
        F.unix_seconds(F.col("ts")).alias("ts_sec"),
        "event_id",
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = _W.partitionBy("user_id").orderBy(F.desc("ts_sec"), F.desc("event_id"))
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        sess = batch_df.sparkSession
        if os.path.exists(state_cur):
            prev = sess.read.parquet(state_cur)
            merged = (
                prev.unionByName(latest)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        else:
            merged = latest
        nxt = os.path.join(state_dir, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(nxt)
        # atomic-enough pointer swap for the test harness: the next batch
        # reads whatever `cur` points at
        tmp_link = state_cur + ".tmp"
        if os.path.islink(tmp_link) or os.path.exists(tmp_link):
            os.remove(tmp_link)
        os.symlink(nxt, tmp_link)
        os.replace(tmp_link, state_cur)

    ckpt = scratch_dir("ckpt_cdc_")
    try:
        q = (
            ev.writeStream.foreachBatch(merge_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        release(ckpt)
    final = spark.read.parquet(state_cur)
    return final.filter(F.col("event_type") != "click").select(
        "user_id",
        F.col("value").alias("last_value"),
        F.col("ts_sec").alias("last_ts_sec"),
    )


def windowed_user_cardinality(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of batch_forms.stream_window_approx_distinct's sketch
    half. Exact COUNT(DISTINCT) is not executable under incremental
    streaming state (the engine rejects it) — which is exactly WHY the
    batch form carries an HLL sketch alongside the exact count: the
    sketch IS the streaming-legal cardinality operator. Tests bound the
    streamed estimate against the batch exact count."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "approx_users",
        )
    )


def run_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of batch_forms.stream_rate_alert: the 15-minute
    counts are maintained incrementally by the engine (windowed agg,
    append after watermark close); the trailing-baseline comparison —
    which needs cross-window ORDER, not incremental state — runs over
    the (tiny) materialized per-window table, the same split a
    production foreachBatch alerting sink uses."""
    ev = read_events_stream(spark, sf_dir)
    win = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").cast("long").alias("window_start"), "cnt")
    )
    counts = run_to_memory(spark, win, "rate_alert_windows", "append")
    from pyspark.sql.window import Window

    wspec = Window.orderBy("window_start").rowsBetween(-4, -1)
    trail = counts.select(
        "window_start",
        "cnt",
        F.avg(F.col("cnt").cast("double")).over(wspec).alias("trailing_avg"),
        F.count("*").over(wspec).alias("trailing_n"),
    )
    return (
        trail.filter(
            (F.col("trailing_n") == 4) & (F.col("cnt") > 1.5 * F.col("trailing_avg"))
        )
        .select(
            "window_start",
            "cnt",
            F.round("trailing_avg", 6).alias("trailing_avg"),
            F.round(F.col("cnt") / F.col("trailing_avg"), 6).alias("rate_ratio"),
        )
    )


def session_counts_dynamic(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of batch_forms.stream_session_dynamic_gap: the
    per-event gap expression works identically under incremental session
    state — error events hold their session 60 minutes, others 30."""
    e = events.withColumn("ts_s", F.to_timestamp(F.col("ts").cast("long")))
    gap = F.when(F.col("event_type") == "error", "3600 seconds").otherwise("1800 seconds")
    return (
        e.withWatermark("ts_s", watermark)
        .groupBy(F.session_window("ts_s", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("event_cnt"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "event_cnt",
        )
    )


def run_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of batch_forms.stream_windowed_topk: the count
    stage runs as an incremental windowed aggregation under the real
    engine (append mode, availableNow); the rank-and-cut is applied to
    the materialized sink — the standard deployment split, because a
    global per-window rank is not an incremental operator (it would
    re-order on every update) while ranking CLOSED windows in the sink
    is a <= |types|-row batch step per window."""
    events = read_events_stream(spark, sf_dir)
    counts = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "cnt",
        )
    )
    sink = run_to_memory(spark, counts, "win_topk_stream", "append")
    from pyspark.sql.window import Window as W

    return (
        sink.withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("window_start").orderBy(F.desc("cnt"), F.asc("event_type"))
            ),
        )
        .filter(F.col("rnk") <= 3)
    )


def windowed_join_counts(spark: SparkSession, sf_dir: str, band_sec: int = 600) -> DataFrame:
    """Stream-stream join FEEDING a windowed aggregation — the
    multi-stateful pipeline (join state + window state in one query,
    Spark 3.5+) behind "conversion pairs per hour". Both sides carry
    watermarks, so the join evicts click/purchase state once the other
    side's watermark passes the band, and the downstream tumbling window
    closes and emits on the same watermark — two bounded state stores,
    which is the entire difference between a stream job that runs forever
    and one that OOMs on day three.

    Both event-time columns are truncated to whole seconds BEFORE the
    watermark (same pattern as session_counts): the interval predicate and
    the hourly window then run on floor-second timestamps, which is exactly
    the batch/oracle contract (b_sec >= a_sec, b_sec <= a_sec + band). On
    raw microsecond timestamps a same-second reversed-microsecond pair and
    a pair with raw gap in (band, band+1) would diverge from the
    floor-second form — sf0.01 has no such pair, but the equivalence must
    not depend on that."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("a_user"),
            F.to_timestamp(F.col("ts").cast("long")).alias("a_ts"),
        )
        .withWatermark("a_ts", "30 minutes")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("b_user"),
            F.to_timestamp(F.col("ts").cast("long")).alias("b_ts"),
        )
        .withWatermark("b_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {band_sec} SECONDS")),
    )
    gap = F.unix_seconds(F.col("b_ts")) - F.unix_seconds(F.col("a_ts"))
    return (
        joined.select("b_ts", gap.alias("gap_sec"))
        .groupBy(F.window("b_ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("gap_sec").cast("bigint").alias("total_gap_sec"),
            F.min("gap_sec").cast("bigint").alias("min_gap_sec"),
            F.max("gap_sec").cast("bigint").alias("max_gap_sec"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "n_pairs",
            "total_gap_sec",
            "min_gap_sec",
            "max_gap_sec",
        )
    )
