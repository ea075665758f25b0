"""Streaming tests (SURVEY.md §5.2 item 5): every §2.8 operator replayed
through the real micro-batch engine (availableNow) must equal its batch
form; late-data watermark behavior exercised on hand-built input."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mdb_to_postgres_spark.registry import QUERIES, load_all
from mdb_to_postgres_spark.streaming import runtime
from tests.conftest import ORACLE_SF

load_all()


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def test_stream_tumbling_equals_batch(spark):
    stream_df = runtime.tumbling_counts(runtime.read_events_stream(spark, ORACLE_SF))
    got = runtime.run_to_memory(spark, stream_df, "t_tumbling", "complete").toPandas()
    want = QUERIES["stream_tumbling_window"](spark, ORACLE_SF).toPandas()
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_stream_session_equals_batch(spark):
    stream_df = runtime.session_counts(runtime.read_events_stream(spark, ORACLE_SF))
    got = runtime.run_to_memory(spark, stream_df, "t_session", "complete").toPandas()
    want = (
        QUERIES["stream_session_window"](spark, ORACLE_SF)
        .select("user_id", "session_start", "session_end", "event_cnt")
        .toPandas()
    )
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_stream_dedup_equals_batch_keys(spark):
    stream_df = runtime.dedup_stream(runtime.read_events_stream(spark, ORACLE_SF))
    got = runtime.run_to_memory(spark, stream_df, "t_dedup", "append")
    keys = got.select("user_id", "event_type", "minute_start").distinct()
    want = (
        QUERIES["stream_dedup"](spark, ORACLE_SF)
        .select("user_id", "event_type", "minute_start")
        .distinct()
    )
    assert keys.count() == got.count()  # exactly one survivor per key
    assert keys.subtract(want).count() == 0 and want.subtract(keys).count() == 0


def test_stream_stateful_counters_converge(spark):
    try:
        stream_df = runtime.stateful_user_counters(runtime.read_events_stream(spark, ORACLE_SF))
        got = runtime.run_to_memory(spark, stream_df, "t_stateful", "update").toPandas()
    except Exception as e:  # pragma: no cover - API availability guard
        pytest.skip(f"applyInPandasWithState unavailable: {e}")
    # Update-mode emits one row per (user, batch); the final state per user
    # must equal the batch aggregate.
    final = got.groupby("user_id").last().reset_index()
    want = (
        QUERIES["stream_stateful_count"](spark, ORACLE_SF)
        .select("user_id", "event_cnt", "value_sum")
        .toPandas()
    )
    merged = final.merge(want, on="user_id", suffixes=("_got", "_want"))
    assert len(merged) == len(want)
    assert (merged.event_cnt_got == merged.event_cnt_want).all()
    assert (abs(merged.value_sum_got - merged.value_sum_want) < 1e-9).all()


def test_stream_stateful_counters_rocksdb_store(spark):
    """The TWS test above it skips when google.protobuf is absent; this
    covers its distinct scenario — custom stateful aggregation on the
    RocksDB state store — through the applyInPandasWithState fallback,
    which needs no protobuf. Stateful semantics therefore always have a
    non-skipped test in this image."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream_df = runtime.stateful_user_counters(runtime.read_events_stream(spark, ORACLE_SF))
        got = runtime.run_to_memory(spark, stream_df, "t_stateful_rocks", "update").toPandas()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    final = got.groupby("user_id").last().reset_index()
    want = (
        QUERIES["stream_stateful_count"](spark, ORACLE_SF)
        .select("user_id", "event_cnt", "value_sum")
        .toPandas()
    )
    merged = final.merge(want, on="user_id", suffixes=("_got", "_want"))
    assert len(merged) == len(want)
    assert (merged.event_cnt_got == merged.event_cnt_want).all()
    assert (abs(merged.value_sum_got - merged.value_sum_want) < 1e-9).all()


def test_watermark_drops_late_rows(spark, tmp_path):
    # Hand-built late-data scenario: batch 1 advances the watermark past
    # batch 2's stale event; the stale event must not create/refresh a
    # window in append-mode output.
    src = str(tmp_path / "late_src")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    b1 = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 12:00:00")], "id: long, ts_s: string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    b1.write.mode("overwrite").parquet(src + "/b1.parquet")
    stream = (
        spark.readStream.schema("id long, ts timestamp").parquet(src + "/*.parquet")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").cast("long").alias("ws"), "cnt")
    )
    # File sink: checkpoint-recoverable, so watermark state survives the
    # restart between the two availableNow phases (memory sinks do not).
    ckpt = str(tmp_path / "late_ckpt")
    out_dir = str(tmp_path / "late_out")

    def run_phase():
        q = (
            stream.writeStream.format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt).outputMode("append")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_phase()
    # Phase 1: watermark advanced to 11:50, so the 10:00 window (ends
    # 11:00) is closed and emitted with cnt=1.
    first = spark.read.parquet(out_dir).collect()
    ten_oclock = int(pd.Timestamp("2024-01-01 10:00:00").timestamp())
    assert {(r.ws, r.cnt) for r in first} == {(ten_oclock, 1)}
    # Phase 2: a late 10:30 event (behind the watermark) plus a fresh one.
    b2 = spark.createDataFrame(
        [(3, "2024-01-01 10:30:00"), (4, "2024-01-01 12:05:00")], "id: long, ts_s: string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    b2.write.mode("overwrite").parquet(src + "/b2.parquet")
    run_phase()
    final = spark.read.parquet(out_dir).collect()
    # The late event must NOT re-open or re-emit the closed 10:00 window.
    assert {(r.ws, r.cnt) for r in final} == {(ten_oclock, 1)}, final


def test_foreach_sink_matches_batch(spark):
    got = runtime.run_foreach_sink_counts(spark, ORACLE_SF).toPandas()
    want = (
        spark.read.parquet(f"{ORACLE_SF}/events.parquet")
        .groupBy("event_type").agg(F.count("*").alias("event_cnt")).toPandas()
    )
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_stream_stateful_tws_converges(spark):
    """transformWithStateInPandas (Spark 4 stateful API) must converge to
    the same per-user counters as the batch aggregate and the
    applyInPandasWithState form — AND its state store must be KEY-sized,
    not history-sized (the round-10 extension of the r9 eviction gate to
    the TWS twin: lifetime counters never watermark-expire by design, so
    the boundedness contract here is numRowsTotal == distinct keys — a
    processor that buffers rows instead of folding into the ValueState
    would show state ~ event count and die at production scale)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("TWS driver worker needs google.protobuf (absent/broken in this image)")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream_df = runtime.stateful_user_counters_tws(
            runtime.read_events_stream(spark, ORACLE_SF)
        )
        got, progresses = runtime.run_to_memory_with_progress(
            spark, stream_df, "t_tws", "update"
        )
        got = got.toPandas()
    except Exception as e:  # pragma: no cover - environment guard ONLY
        if "STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE" in str(e):
            pytest.skip(f"TWS runner failed to initialize: {str(e)[:200]}")
        raise  # real regressions in the TWS path must FAIL, not skip
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    state_totals = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in progresses
        if p.get("stateOperators")
    ]
    n_users = got["user_id"].nunique()
    assert state_totals, "TWS reported no state accounting"
    assert state_totals[-1] == n_users, (
        f"TWS state {state_totals[-1]} != {n_users} keys — state is not key-bounded"
    )
    final = got.groupby("user_id").last().reset_index()
    want = (
        QUERIES["stream_stateful_count"](spark, ORACLE_SF)
        .select("user_id", "event_cnt", "value_sum")
        .toPandas()
    )
    merged = final.merge(want, on="user_id", suffixes=("_got", "_want"))
    assert len(merged) == len(want)
    assert (merged.event_cnt_got == merged.event_cnt_want).all()
    assert (abs(merged.value_sum_got - merged.value_sum_want) < 1e-9).all()


def test_stream_static_join_equals_batch(spark):
    stream_df = runtime.static_join_counts(
        spark, runtime.read_events_stream(spark, ORACLE_SF), ORACLE_SF
    )
    got = runtime.run_to_memory(spark, stream_df, "t_static_join", "complete").toPandas()
    want = QUERIES["stream_static_join"](spark, ORACLE_SF).toPandas()
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_stream_stream_join_equals_batch(spark):
    stream_df = runtime.click_purchase_join(spark, ORACLE_SF)
    got = runtime.run_to_memory(spark, stream_df, "t_ss_join", "append").toPandas()
    want = QUERIES["stream_stream_join"](spark, ORACLE_SF).toPandas()
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_cdc_upsert_stream_equals_batch(spark):
    # The foreachBatch MERGE twin must converge to the batch replay: same
    # surviving keys, same last values/timestamps.
    got = runtime.run_cdc_upsert(spark, ORACLE_SF).toPandas()
    want = QUERIES["stream_cdc_upsert"](spark, ORACLE_SF).toPandas()
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_stream_window_cardinality_bounds_batch_exact(spark):
    # Exact COUNT(DISTINCT) is illegal in streaming aggregation; the HLL
    # sketch is the streaming-legal operator, and its streamed estimate
    # must sit within the same 5% envelope the batch twin asserts.
    est = runtime.run_to_memory(
        spark,
        runtime.windowed_user_cardinality(runtime.read_events_stream(spark, ORACLE_SF)),
        "win_card_stream",
        "append",
    ).toPandas()
    exact = QUERIES["stream_window_approx_distinct"](spark, ORACLE_SF).toPandas()
    merged = est.merge(exact, on="window_start", how="inner")
    assert len(merged) > 0
    rel = (merged.approx_users - merged.exact_users).abs() / merged.exact_users
    assert (rel < 0.05).all(), rel.max()


def test_stream_rate_alert_equals_batch(spark):
    got = runtime.run_rate_alert(spark, ORACLE_SF).toPandas()
    want = QUERIES["stream_rate_alert"](spark, ORACLE_SF).toPandas()
    # Append-mode watermarking only emits CLOSED windows: the stream's
    # final window(s) never close under availableNow, so the batch form
    # may carry a trailing edge the stream legitimately lacks.
    missing = set(want.window_start) - set(got.window_start)
    assert all(w >= want.window_start.max() - 3600 for w in missing), missing
    shared = sorted(set(want.window_start) & set(got.window_start))
    g = got[got.window_start.isin(shared)].sort_values("window_start").reset_index(drop=True)
    w = want[want.window_start.isin(shared)].sort_values("window_start").reset_index(drop=True)
    assert len(g) == len(w) > 0
    assert g.equals(w)


def test_stream_session_dynamic_gap_equals_batch(spark):
    got = runtime.run_to_memory(
        spark,
        runtime.session_counts_dynamic(runtime.read_events_stream(spark, ORACLE_SF)),
        "dyn_sess_stream",
        "append",
    ).toPandas()
    want = QUERIES["stream_session_dynamic_gap"](spark, ORACLE_SF).toPandas()
    key = ["user_id", "session_start", "session_end", "event_cnt"]
    got_s = set(map(tuple, got[key].itertuples(index=False)))
    want_s = set(map(tuple, want[key].itertuples(index=False)))
    # append mode withholds sessions not closed by the watermark at end of
    # input; everything emitted must be a batch session, and coverage must
    # be near-total
    assert got_s <= want_s
    assert len(got_s) >= 0.95 * len(want_s), (len(got_s), len(want_s))


def test_stream_windowed_topk_equals_batch(spark):
    # Append mode emits only closed (watermark-passed) windows; the one
    # never-closed trailing window is the expected difference, so compare
    # on the streamed window set.
    got = runtime.run_windowed_topk(spark, ORACLE_SF).toPandas()
    want = QUERIES["stream_windowed_topk"](spark, ORACLE_SF).toPandas()
    want = want[want.window_start.isin(set(got.window_start))]
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


@pytest.mark.parametrize(
    "name,build,mode",
    [
        ("tumbling", lambda ev: runtime.tumbling_counts(ev), "append"),
        ("session", lambda ev: runtime.session_counts(ev), "append"),
        ("dedup", lambda ev: runtime.dedup_stream(ev), "append"),
        ("win_card", lambda ev: runtime.windowed_user_cardinality(ev), "append"),
        ("dyn_sess", lambda ev: runtime.session_counts_dynamic(ev), "append"),
    ],
    ids=["tumbling", "session", "dedup", "win_card", "dyn_sess"],
)
def test_state_store_evicts_as_watermark_advances(spark, name, build, mode):
    """THE streaming scale gate no batch oracle or plan signature can see:
    replay the corpus as ~10 event-time-ordered micro-batches
    (maxFilesPerTrigger=1 over time-sliced staged files) and assert from
    the engine's own state-store accounting that the watermark actually
    RETIRES state — rows are removed mid-run and the final state holds
    only the last horizon, not the whole history. A stateful operator
    whose predicate or watermark wiring silently pins state forever
    produces identical RESULTS on bounded input; it only dies in
    production, weeks in, as an OOM. Asserted per twin:
      1. the run really was multi-batch (>= 3 state-reporting batches);
      2. numRowsRemoved > 0 somewhere mid-run (eviction fired);
      3. the final batch's numRowsTotal is a small fraction of the keys
         the run emitted (state is horizon-sized, not history-sized)."""
    got, progresses = runtime.run_to_memory_with_progress(
        spark,
        build(runtime.read_events_stream_sliced(spark, ORACLE_SF)),
        f"evict_{name}",
        mode,
    )
    emitted = got.count()
    assert emitted > 50, f"{name}: too few emitted rows for the bound to mean anything"
    state_batches = []
    for p in progresses:
        ops = p["stateOperators"] if "stateOperators" in p else []
        if ops:
            state_batches.append(
                (
                    sum(op["numRowsTotal"] for op in ops),
                    sum(op.get("numRowsRemoved", 0) for op in ops),
                )
            )
    assert len(state_batches) >= 3, f"{name}: not multi-batch: {len(state_batches)}"
    total_removed = sum(r for _, r in state_batches)
    assert total_removed > 0, f"{name}: watermark never evicted state"
    final_total = state_batches[-1][0]
    assert final_total < 0.5 * emitted, (
        f"{name}: final state {final_total} ~ history size {emitted}; "
        "state is not horizon-bounded"
    )


def test_stream_stream_join_state_evicts_across_batches(spark):
    """Join-state variant of the eviction gate: the symmetricHashJoin's
    buffered rows must retire as BOTH watermarks advance across ~10
    ordered micro-batches — a stream-stream join that never evicts
    buffers the entire history of both sides. Inner interval joins emit
    on match, so multi-batch replay must ALSO reproduce the batch result
    exactly (a row dropped by over-eager eviction would show here)."""
    got, progresses = runtime.run_to_memory_with_progress(
        spark,
        runtime.click_purchase_join(
            spark, ORACLE_SF, source=runtime.read_events_stream_sliced
        ),
        "t_ssj_evict",
        "append",
    )
    want = QUERIES["stream_stream_join"](spark, ORACLE_SF).toPandas()
    got_pd = got.toPandas()
    pd.testing.assert_frame_equal(_canon(got_pd), _canon(want))
    join_batches = []
    for p in progresses:
        ops = p["stateOperators"] if "stateOperators" in p else []
        for op in ops:
            if op.get("operatorName") == "symmetricHashJoin":
                join_batches.append(
                    (op["numRowsTotal"], op.get("numRowsRemoved", 0))
                )
    assert len(join_batches) >= 3, f"not multi-batch: {len(join_batches)}"
    assert sum(r for _, r in join_batches) > 0, "join state never evicted"
    n_inputs = (
        spark.read.parquet(f"{ORACLE_SF}/events.parquet")
        .filter(F.col("event_type").isin("click", "purchase"))
        .count()
    )
    final_total = join_batches[-1][0]
    assert final_total < 0.5 * n_inputs, (
        f"final join state {final_total} ~ history size {n_inputs}"
    )


def test_windowed_join_runtime_equals_batch_and_evicts_state(spark, tmp_path):
    # The multi-stateful pipeline (stream-stream join -> tumbling window)
    # must (a) reproduce the batch SQL exactly and (b) actually run BOTH
    # stateful operators under the engine with watermark-driven eviction
    # wired (state metrics present; join state bounded, not
    # grow-without-expiry).
    stream_df = runtime.windowed_join_counts(spark, ORACLE_SF)
    ckpt = str(tmp_path / "ckpt_wjr")
    q = (
        stream_df.writeStream.format("memory")
        .queryName("t_wjr")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.lastProgress
    got = spark.table("t_wjr").toPandas()
    want = QUERIES["stream_join_windowed_runtime"](spark, ORACLE_SF).toPandas()
    pd.testing.assert_frame_equal(_canon(got), _canon(want))
    ops = {op["operatorName"]: op for op in progress["stateOperators"]}
    assert "symmetricHashJoin" in ops, list(ops)
    # the windowed aggregate's state operator reports as stateStoreSave
    assert "stateStoreSave" in ops, list(ops)
    join_op = ops["symmetricHashJoin"]
    # eviction wired: the engine reports removal accounting for the join
    # state store (rows removed when the opposite watermark passed them)
    assert "numRowsRemoved" in join_op
    assert join_op["numRowsTotal"] >= 0


def test_stream_stager_handles_directory_tables(spark, tmp_path, monkeypatch):
    # The scale replicas (tools/scale_corpus.py) write events.parquet as a
    # DIRECTORY of part files; the file-stream stager must stage every
    # part, not copyfile the path (IsADirectoryError — found by the sf1
    # oracle sweep). Build a tiny directory-table sf_dir by splitting the
    # oracle corpus in two, then check the staged stream equals the batch
    # GROUP BY.
    import os
    import pyarrow.parquet as pq

    # Stage into tmp_path, not the repo .cache: per-run test stages must
    # not accumulate in the project tree (round-10 ADVICE).
    monkeypatch.setenv("MDBSPARK_STAGE_ROOT", str(tmp_path / "stage_root"))

    tbl = pq.read_table(os.path.join(ORACLE_SF, "events.parquet"))
    ev_dir = tmp_path / "events.parquet"
    ev_dir.mkdir()
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), str(ev_dir / "part-00000.parquet"))
    pq.write_table(tbl.slice(half), str(ev_dir / "part-00001.parquet"))

    sig1 = runtime.src_sig(str(ev_dir))
    assert runtime.src_sig(str(ev_dir)) == sig1  # stable
    assert len(runtime.src_parts(str(ev_dir))) == 2
    # rewriting a part changes the signature even if the dir stat doesn't
    pq.write_table(tbl.slice(half, 1), str(ev_dir / "part-00001.parquet"))
    assert runtime.src_sig(str(ev_dir)) != sig1
    pq.write_table(tbl.slice(half), str(ev_dir / "part-00001.parquet"))

    stream_df = (
        runtime.read_events_stream(spark, str(tmp_path))
        .groupBy("event_type")
        .agg(F.count("*").alias("event_cnt"))
    )
    got = runtime.run_to_memory(spark, stream_df, "t_dirstage", "complete").toPandas()
    want = (
        spark.read.parquet(os.path.join(ORACLE_SF, "events.parquet"))
        .groupBy("event_type")
        .agg(F.count("*").alias("event_cnt"))
        .toPandas()
    )
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_stream_stager_rejects_empty_directory_layout(tmp_path):
    # A directory table with no top-level part files (nested / Hive
    # layout) must raise loudly, not stage an empty stream source that
    # returns zero rows (round-10 ADVICE).
    ev_dir = tmp_path / "events.parquet"
    (ev_dir / "day=2024-01-01").mkdir(parents=True)
    with pytest.raises(ValueError, match="no top-level"):
        runtime.src_parts(str(ev_dir))
    with pytest.raises(ValueError, match="no top-level"):
        runtime.src_sig(str(ev_dir))


def test_scratch_registry_release_and_stale_sweep(tmp_path):
    # scratch_dir registers; release removes + deregisters; sweep_stale
    # removes only old dirs with known prefixes (round-10 verdict item 1).
    import os
    import time as _time

    from mdb_to_postgres_spark import scratch

    d = scratch.scratch_dir("ckpt_unit_")
    assert os.path.isdir(d) and d in scratch._LIVE
    scratch.release(d)
    assert not os.path.exists(d) and d not in scratch._LIVE
    scratch.release(d)  # idempotent

    old = tmp_path / "ckpt_dead_run"  # markerless + old -> swept
    young = tmp_path / "ckpt_young_run"  # markerless + young -> kept
    live = tmp_path / "ckpt_live_owner"  # old but owner alive -> kept
    dead = tmp_path / "ckpt_dead_owner"  # young but owner dead -> swept
    other = tmp_path / "not_ours"  # foreign prefix -> never touched
    for p in (old, young, live, dead, other):
        p.mkdir()
    (live / scratch._OWNER_MARKER).write_text(str(os.getpid()))
    # find a dead pid: fork a child that exits immediately
    child = os.fork()
    if child == 0:
        os._exit(0)
    os.waitpid(child, 0)
    (dead / scratch._OWNER_MARKER).write_text(str(child))
    past = _time.time() - 7200
    for p in (old, live, other):
        os.utime(p, (past, past))
    assert scratch.sweep_stale(str(tmp_path), min_age_sec=1800) == 2
    assert not old.exists() and not dead.exists()
    assert young.exists() and live.exists() and other.exists()
