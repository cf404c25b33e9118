"""Streaming state across real micro-batch boundaries.

The catalog's streaming queries drain their file source in one
availableNow batch; this test forces MULTIPLE micro-batches
(maxFilesPerTrigger=1 over a split dataset) so GroupState genuinely
persists and accumulates across batches — then checks the final state
against the batch answer. The integer-cent accumulator makes the total
exact regardless of how rows land in batches (see
streaming/stream_queries.py q93).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_mit_spark.sources.io import load_table
from mapreduce_mit_spark.streaming.stream_queries import (
    _OUT_SCHEMA,
    _STATE_SCHEMA,
    _user_totals,
)

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def split_events(spark, tmp_path_factory):
    """events at sf0.001 written as 3 parquet files in one directory."""
    d = str(tmp_path_factory.mktemp("stream_src"))
    events = load_table(spark, SF_SMALL, "events")
    events.repartition(3).write.mode("overwrite").parquet(d)
    return d, events


def test_groupstate_accumulates_across_batches(spark, split_events):
    from pyspark.sql.streaming.state import GroupStateTimeout

    src_dir, events = split_events
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(src_dir)
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        _user_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        updates.writeStream.format("memory")
        .queryName("multi_batch_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len(q.recentProgress)
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"

    # update mode re-emits a user's row each batch it appears in; the
    # LAST emission per user is the final state
    sink = spark.table("multi_batch_sink")
    final = {}
    for r in sink.collect():  # memory sink appends in batch order
        final[r["user_id"]] = (r["n_events"], r["total_cents"])

    expect = {
        r["user_id"]: (r["n"], r["cents"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
        )
        .collect()
    }
    assert final == expect


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Watermark semantics, end-to-end: once the watermark has advanced
    (and a subsequent batch has run — Spark filters late rows with the
    PREVIOUS batch's watermark, eventTimeWatermarkForLateEvents), a
    too-late event must be dropped, not merged into any window.
    Single-batch availableNow runs can't show this; three mtime-ordered
    files with maxFilesPerTrigger=1 can."""
    import datetime as dt
    import os
    import time as _time

    t0 = dt.datetime(2025, 3, 1, 10, 0, 0)

    def mk(rows, path, mtime):
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for fn in files:
                os.utime(os.path.join(root, fn), (mtime, mtime))

    # batch 0: events up to 11:00 -> watermark advances to 10:50
    mk(
        [
            (1, t0 + dt.timedelta(minutes=5), 1.0),
            (2, t0 + dt.timedelta(minutes=20), 1.0),
            (3, t0 + dt.timedelta(minutes=60), 1.0),
        ],
        str(tmp_path / "f1"),
        _time.time() - 100,
    )
    # batch 1: on-time event; late-filter watermark becomes 10:50 and
    # the 10:00-10:30 window is emitted and evicted
    mk([(5, t0 + dt.timedelta(minutes=95), 1.0)], str(tmp_path / "f2"), _time.time() - 60)
    # batch 2: a LATE event (10:15 < 10:50) — must be dropped
    mk([(4, t0 + dt.timedelta(minutes=15), 100.0)], str(tmp_path / "f3"), _time.time() - 20)

    src = str(tmp_path / "src")
    os.makedirs(src)
    for sub in ("f1", "f2", "f3"):
        for root, _dirs, files in os.walk(str(tmp_path / sub)):
            for fn in files:
                if fn.endswith(".parquet"):
                    os.link(os.path.join(root, fn), os.path.join(src, f"{sub}-{fn}"))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("ws"), "n", "total")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3
    got = {r["ws"]: (r["n"], r["total"]) for r in spark.table("late_sink").collect()}
    # the 10:00 window closed with events 1,2 only; the late event 4
    # (value=100) was dropped and appears in no window
    assert got == {t0: (2, 2.0)}, got


def test_stream_stream_join_state_metrics(spark):
    """Pin q73's at-scale state posture via StreamingQueryProgress
    stateOperators metrics: the stream-stream join must actually run
    through the state store (rows held per side) and carry an event-time
    watermark — the two mechanisms that bound its state on an unbounded
    stream. availableNow drains the file source in one micro-batch, so
    within-run eviction isn't observable; what IS checkable is that
    state exists, is finite, and the watermark advanced past epoch."""
    from mapreduce_mit_spark import registry
    from mapreduce_mit_spark.streaming.stream_queries import last_progress

    registry.load_all_plans()
    registry.REGISTRY["q73_stream_stream_join"].fn(spark, SF_SMALL).collect()
    progress = last_progress("q73_sink")
    assert progress, "no StreamingQueryProgress captured for q73"
    with_state = [p for p in progress if p.get("stateOperators")]
    assert with_state, "q73 ran with no stateful operators"
    ops = with_state[-1]["stateOperators"]
    assert any(op.get("numRowsTotal", 0) > 0 for op in ops), ops
    wm = with_state[-1].get("eventTime", {}).get("watermark")
    assert wm and not wm.startswith("1970-"), f"watermark never advanced: {wm}"


def test_session_window_gap_boundary(spark):
    """Pin Spark's session-merge semantics at the exact-gap boundary
    (measured, not assumed): two events EXACTLY the gap apart MERGE into
    one session — the first event's window [t, t+gap) is adjacent to the
    second's and Spark's session merge treats adjacency as overlap. Only
    a spacing strictly greater than the gap starts a new session. The
    q72/q74 gaps-and-islands oracle therefore uses an INCLUSIVE gap
    comparison (`<= INTERVAL`); this test is the contract for that
    rewrite."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 9, 0, 0)),
        (1, datetime(2024, 1, 1, 9, 10, 0)),   # exactly the gap → merges
        (2, datetime(2024, 1, 1, 9, 0, 0)),
        (2, datetime(2024, 1, 1, 9, 9, 59)),   # inside the gap → merges
        (3, datetime(2024, 1, 1, 9, 0, 0)),
        (3, datetime(2024, 1, 1, 9, 10, 1)),   # past the gap → new session
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    sess = (
        df.groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    got = {r["user_id"]: r["n_sessions"] for r in sess.collect()}
    assert got == {1: 1, 2: 1, 3: 2}, got


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once incremental processing: a checkpointed file-source
    stream drained twice must process each input file exactly once —
    the second drain picks up ONLY files added after the first, and the
    sink never duplicates earlier rows. This is the contract a
    production pipeline leans on when it tails an object-store prefix
    with cron-triggered availableNow runs."""
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def drain():
        q = (
            spark.readStream.schema("k long, v string")
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(
        1
    ).write.mode("append").parquet(str(src))
    drain()
    first = spark.read.parquet(str(sink)).collect()
    assert sorted(r["k"] for r in first) == [1, 2]

    spark.createDataFrame([(3, "c")], "k long, v string").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    drain()
    second = spark.read.parquet(str(sink)).collect()
    # rows 1,2 appear exactly once — the checkpoint prevented reprocessing
    assert sorted(r["k"] for r in second) == [1, 2, 3]

    # a third drain with no new files is a no-op
    drain()
    assert spark.read.parquet(str(sink)).count() == 3


def test_upsert_merges_across_multiple_batches(spark):
    """q115's incremental-merge path must actually run: the availableNow
    drain over the re-sharded source (6 files, maxFilesPerTrigger=2)
    has to produce >1 micro-batch, otherwise the foreachBatch merge is
    a single-shot write and the upsert/replay machinery is dead code."""
    from mapreduce_mit_spark.registry import REGISTRY
    from mapreduce_mit_spark.streaming.stream_queries import last_progress

    out = REGISTRY["q115_stream_upsert"].fn(spark, SF_SMALL)
    rows = out.collect()
    assert len(rows) > 0
    batches = [p for p in last_progress("q115_sink") if p.get("numInputRows", 0) > 0]
    assert len(batches) >= 3, f"expected >=3 data micro-batches, saw {len(batches)}"
    # final state equals the batch aggregate, independent of batching
    ev = load_table(spark, SF_SMALL, "events")
    exact = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")) / 100.0).alias(
                "total_value"
            ),
        )
        .orderBy("user_id")
        .collect()
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in exact]


def test_stateful_processor_accumulates_like_group_state():
    """q134's StatefulProcessor, driven directly (no stream): two
    micro-batches for one key must accumulate count/cents/max exactly
    like its GroupState twin — the logic both execution paths share."""
    import pandas as pd

    from mapreduce_mit_spark.streaming.stream_queries import _UserStatsProcessor

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.state = FakeValueState()

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.state

    proc = _UserStatsProcessor()
    handle = FakeHandle()
    proc.init(handle)
    b1 = pd.DataFrame({"value": [1.25, 2.50]})
    b2 = pd.DataFrame({"value": [10.00]})
    out1 = list(proc.handleInputRows((7,), iter([b1]), None))
    out2 = list(proc.handleInputRows((7,), iter([b2]), None))
    assert handle.state.get() == (3, 1375, 1000)
    assert out1[0].iloc[0]["n_events"] == 2
    row = out2[0].iloc[0]
    assert (row["user_id"], row["n_events"]) == (7, 3)
    assert (row["total_value"], row["max_value"]) == (13.75, 10.0)


def test_transform_with_state_end_to_end_when_runtime_present(spark):
    """Full transformWithStateInPandas drain — runs only where the
    protobuf runtime exists (skipped in this container; the catalog
    entry q134 falls back to the GroupState path there)."""
    from mapreduce_mit_spark.streaming.stream_queries import (
        _has_transform_with_state_runtime,
    )

    if not _has_transform_with_state_runtime():
        pytest.skip("protobuf runtime absent: transformWithState cannot start")
    from mapreduce_mit_spark import registry

    registry.load_all_plans()
    df = registry.REGISTRY["q134_stream_transform_with_state"].fn(spark, SF_SMALL)
    assert df.count() > 0


def test_final_updates_keeps_only_last_row_per_user(spark):
    """The update-mode memory sink APPENDS each micro-batch's rows; a
    multi-batch drain leaves stale running totals. _final_updates must
    reduce the sink to the per-user row with the max event count (the
    accumulator is strictly monotone), matching what a true upsert sink
    would have stored."""
    from mapreduce_mit_spark.streaming.stream_queries import _final_updates

    rows = [  # user 1 was updated across two micro-batches
        (1, 2, 5.0),
        (1, 4, 9.0),
        (2, 1, 1.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, n_events int, total_value double"
    ).createOrReplaceTempView("fake_update_sink")
    out = _final_updates(spark, "fake_update_sink").collect()
    assert {(r.user_id, r.n_events, r.total_value) for r in out} == {
        (1, 4, 9.0),
        (2, 1, 1.0),
    }


def test_file_sink_rerun_is_idempotent(spark):
    """q152's exactly-once contract: a second drain against the same
    checkpoint (no new source data) schedules no new batches and leaves
    the parquet sink byte-stable — same rows, same files."""
    import glob

    import os

    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans
    from mapreduce_mit_spark.streaming.stream_queries import q152_sink_base

    load_all_plans()
    fn = REGISTRY["q152_stream_file_sink"].fn
    first = fn(spark, SF_SMALL).collect()
    data_dir = os.path.join(q152_sink_base(SF_SMALL), "data")
    files_before = sorted(glob.glob(os.path.join(data_dir, "part-*")))
    assert files_before, "sink wrote no files — path derivation broken"
    mtimes_before = [os.path.getmtime(p) for p in files_before]
    second = fn(spark, SF_SMALL).collect()
    files_after = sorted(glob.glob(os.path.join(data_dir, "part-*")))
    assert files_before == files_after
    assert mtimes_before == [os.path.getmtime(p) for p in files_after]
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_file_sink_exactly_once_across_crash_kill(spark, tmp_path):
    """The reference's core failure lab — a worker dies mid-job and the
    job still produces exactly one copy of every output
    (test_test.go:174-208) — replayed against the streaming file sink.

    The stream (same shape as q152: watermarked hourly aggregate →
    parquet sink) is started with maxFilesPerTrigger=1 so the drain
    spans multiple micro-batches, stopped mid-drain once at least one
    batch has landed rows in the sink, and then the CRASH WINDOW is
    injected deterministically: the checkpoint commit marker for the
    last sink-visible batch is deleted (sink files durable, batch not
    recorded as committed — exactly the state a crash between
    FileStreamSink.addBatch and the commit-log write leaves behind).
    On restart Spark must re-execute that batch from its offsets entry;
    the sink's _spark_metadata manifest must reject the duplicate add;
    and after new data is also drained, the directory must equal the
    batch oracle — no duplicated window, no missing window."""
    import glob
    import os
    import time

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    H = 3600

    def drop(name, rows):
        spark.createDataFrame(rows, "ts_s long, value double").selectExpr(
            "timestamp_seconds(ts_s) AS ts", "value"
        ).coalesce(1).write.parquet(os.path.join(src, "_stage_" + name))
        part = glob.glob(os.path.join(src, "_stage_" + name, "part-*.parquet"))[0]
        os.rename(part, os.path.join(src, name + ".parquet"))

    # file A: hours 0-2 (+ a row at 3h so the watermark passes 2h50m);
    # file B: hours 4-5. Batch 0 (A) advances the watermark; batch 1 (B)
    # is the first batch that EMITS closed windows into the sink.
    drop(
        "a",
        [(h * H + m * 60, float(h)) for h in range(3) for m in range(0, 60, 5)]
        + [(3 * H, 99.0)],
    )
    drop("b", [(h * H + m * 60, float(h)) for h in (4, 5) for m in range(0, 60, 5)])

    def agg_stream():
        return (
            spark.readStream.schema("ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total"))
            .select(F.col("w.start").alias("window_start"), "n_events", "total")
        )

    def sink(df, trigger_kwargs):
        return (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(**trigger_kwargs)
            .start()
        )

    # phase 1: continuous trigger, killed once COMMITTED rows are
    # visible through the sink manifest (reading via _spark_metadata
    # sees only manifest-committed files, so count>0 means some batch
    # both wrote rows and registered them — the state a crash right
    # after that registration leaves behind).
    q = sink(agg_stream(), {"processingTime": "1 second"})
    manifest_dir = os.path.join(out, "_spark_metadata")

    def committed_rows():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    deadline = time.time() + 120
    while time.time() < deadline and committed_rows() == 0:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    assert committed_rows() > 0, "no committed sink rows before the kill"
    # m computed AFTER full stop: a batch committing between a stale
    # sample and the stop would otherwise leave manifest entries above
    # m that silently swallow the re-numbered post-restart batches.
    batches = sorted(
        int(os.path.basename(p))
        for p in glob.glob(os.path.join(manifest_dir, "*"))
        if os.path.basename(p).isdigit()
    )
    m = batches[-1]

    # crash injection: sink manifest for batch m exists, checkpoint says
    # it never committed. Trailing offsets entries (> m) are removed too
    # — as if the crash predated them — so restart resumes AT batch m.
    # The local-FS checkpoint keeps .N.crc sidecars next to each entry;
    # they must go with it or the replayed commit's rename fails on the
    # stale crc destination.
    def rm_entries(d, pred):
        for p in glob.glob(os.path.join(d, "*")) + glob.glob(
            os.path.join(d, ".*.crc")
        ):
            b = os.path.basename(p).removeprefix(".").removesuffix(".crc")
            if b.isdigit() and pred(int(b)):
                os.remove(p)

    rm_entries(os.path.join(ck, "commits"), lambda b: b >= m)
    rm_entries(os.path.join(ck, "offsets"), lambda b: b > m)

    # new data arrives while "down": hour 6, plus a sentinel far enough
    # ahead to close every real window at the final watermark.
    drop(
        "c",
        [(6 * H + mnt * 60, 6.0) for mnt in range(0, 60, 5)] + [(100 * H, 0.0)],
    )

    # phase 2: restart from the same checkpoint, drain everything
    q2 = sink(agg_stream(), {"availableNow": True})
    q2.awaitTermination()
    replayed = [p["batchId"] for p in q2.recentProgress if p is not None]
    assert m in replayed, f"batch {m} was not re-executed after the crash ({replayed})"

    got = sorted(
        (r["window_start"], r["n_events"], r["total"])
        for r in spark.read.parquet(out).collect()
    )
    starts = [g[0] for g in got]
    assert len(starts) == len(set(starts)), f"duplicated window after replay: {got}"

    batch = spark.read.schema("ts timestamp, value double").parquet(src)
    wm = batch.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).first()["wm"]
    expected = sorted(
        (r["window_start"], r["n_events"], r["total"])
        for r in (
            batch.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total"))
            .where(F.col("w.end") <= F.lit(wm))
            .select(F.col("w.start").alias("window_start"), "n_events", "total")
        ).collect()
    )
    assert got == expected, f"sink != oracle after crash+restart\n{got}\n{expected}"


def test_checkpointed_sink_processes_only_new_files(spark, tmp_path):
    """Incremental exactly-once with NEW data: after a drain commits,
    dropping one more source file and re-draining must process ONLY the
    new file (checkpoint remembers consumed files), and the parquet
    sink must accumulate both batches' rows exactly once."""
    import glob
    import os

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    def drop_file(name, ids):
        spark.createDataFrame(
            [(i, f"u{i % 3}") for i in ids], "event_id long, user string"
        ).coalesce(1).write.parquet(os.path.join(src, "_stage_" + name))
        part = glob.glob(os.path.join(src, "_stage_" + name, "part-*.parquet"))[0]
        os.rename(part, os.path.join(src, name + ".parquet"))

    def drain():
        q = (
            spark.readStream.schema("event_id long, user string")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    drop_file("a", range(0, 100))
    q1 = drain()
    rows1 = [p["numInputRows"] for p in q1.recentProgress if p is not None]
    assert spark.read.parquet(out).count() == 100

    drop_file("b", range(100, 130))
    q2 = drain()
    rows2 = sum(p["numInputRows"] for p in q2.recentProgress if p is not None)
    assert rows2 == 30, f"second drain must read only the new file, got {rows2}"
    assert spark.read.parquet(out).count() == 130
    assert sum(rows1) == 100


def _drop_parquet(spark, src, name, rows, schema="ts_s long, value double",
                  select=("timestamp_seconds(ts_s) AS ts", "value")):
    """Atomically land one parquet file in a streaming source dir."""
    import glob
    import os

    spark.createDataFrame(rows, schema).selectExpr(*select).coalesce(1).write.parquet(
        os.path.join(src, "_stage_" + name)
    )
    part = glob.glob(os.path.join(src, "_stage_" + name, "part-*.parquet"))[0]
    os.rename(part, os.path.join(src, name + ".parquet"))


def _rm_ck_entries(d, pred):
    """Remove checkpoint entries (and their .crc sidecars) whose batch
    id satisfies pred — the crash-injection primitive of the q152 test."""
    import glob
    import os

    for p in glob.glob(os.path.join(d, "*")) + glob.glob(os.path.join(d, ".*.crc")):
        b = os.path.basename(p).removeprefix(".").removesuffix(".crc")
        if b.isdigit() and pred(int(b)):
            os.remove(p)


def _crash_kill_roundtrip(spark, tmp_path, build_stream, partial_state_op=None):
    """Shared crash-kill harness (the q152 proof generalized to any
    stream shape): drain with maxFilesPerTrigger=1 until committed rows
    are visible, stop, delete the last visible batch's commit marker
    (sink files durable, batch not recorded — a crash between
    FileStreamSink.addBatch and the commit-log write), optionally also
    delete ONE operator's state delta for that batch while keeping the
    others' (a crash BETWEEN two state-store commits inside the batch),
    drop new data, restart, and assert batch replay + sink == oracle
    with no duplicate keys.

    ``build_stream(src_dir)`` → streaming DataFrame;
    ``partial_state_op``: 'agg' to delete the aggregation-style state
    store's post-batch delta (bare N.delta under partition dirs),
    simulating join-committed/agg-not."""
    import glob
    import os
    import time

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)

    def sink(df, trigger_kwargs):
        return (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(**trigger_kwargs)
            .start()
        )

    def committed_rows():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q = sink(build_stream(src), {"processingTime": "1 second"})
    deadline = time.time() + 180
    while time.time() < deadline and committed_rows() == 0:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    assert committed_rows() > 0, "no committed sink rows before the kill"

    manifest_dir = os.path.join(out, "_spark_metadata")
    batches = sorted(
        int(os.path.basename(p))
        for p in glob.glob(os.path.join(manifest_dir, "*"))
        if os.path.basename(p).isdigit()
    )
    m = batches[-1]
    _rm_ck_entries(os.path.join(ck, "commits"), lambda b: b >= m)
    _rm_ck_entries(os.path.join(ck, "offsets"), lambda b: b > m)

    if partial_state_op == "agg":
        # A crash BETWEEN the two operators' state commits happens
        # MID-BATCH — i.e. before the sink manifest entry for m was
        # written (every task's state commit precedes the job-complete
        # manifest write; "manifest present, one store's delta missing"
        # is unreachable on real hardware, and Spark legitimately
        # relies on that: a manifest hit short-circuits the whole batch
        # replay). So this injection also removes the manifest entry m,
        # leaving the batch's ORPHANED data files in the directory —
        # exactly what a real mid-batch crash leaves. The manifest is
        # the source of truth: the replay must re-add the batch and the
        # orphans must stay invisible to manifest-driven reads.
        _rm_ck_entries(manifest_dir, lambda b: b >= m)
        # the two-state-store topology: find the operator whose
        # partition dirs hold BARE N.delta files (the agg; the join's
        # sit under named store subdirs) and delete its version-(m+1)
        # delta — state as a crash after the join's commit but before
        # the agg's leaves it. Replay must load version m regardless.
        state_root = os.path.join(ck, "state")
        agg_deltas = []
        join_store_dirs = 0
        for op in sorted(os.listdir(state_root)):
            for part in glob.glob(os.path.join(state_root, op, "*")):
                if not os.path.isdir(part):
                    continue
                bare = glob.glob(os.path.join(part, f"{m + 1}.delta"))
                named = [
                    p
                    for p in glob.glob(os.path.join(part, "*"))
                    if os.path.isdir(p)
                ]
                agg_deltas += bare
                join_store_dirs += len(named)
        assert agg_deltas, "no aggregation state store found to crash"
        assert join_store_dirs > 0, "expected a second (join) state store"
        for p in agg_deltas:
            # the local FS keeps checksum sidecars (N.delta.crc and the
            # hidden .N.delta.crc[.crc] forms) next to each delta; a
            # REAL crash never wrote any of them, and a stale crc makes
            # the replayed commit's rename silently fail — same gotcha
            # as the commit-log injection above.
            d, base = os.path.split(p)
            for side in (
                p,
                os.path.join(d, base + ".crc"),
                os.path.join(d, "." + base + ".crc"),
                os.path.join(d, "." + base + ".crc.crc"),
            ):
                if os.path.exists(side):
                    os.remove(side)

    return m, out, sink, committed_rows


def test_chained_stateful_exactly_once_across_crash_kill(spark, tmp_path):
    """The reference's worker-death lab (test_test.go:174-208) applied
    to the HARDEST state topology the engine claims: q143's chained
    stream-stream interval join → tumbling window aggregate (two state
    stores in one dataflow) landing in a checkpointed parquet sink.

    Crash window: mid-batch between the two operators' state commits —
    the window-agg store's post-batch delta is deleted while the join's
    stores keep theirs, and (since state commits precede the manifest
    write) the batch's commit marker AND manifest entry go too, leaving
    its data files ORPHANED in the sink directory. On restart the batch
    must re-execute against the PRE-batch versions of both stores
    (including the join store whose newer delta must be ignored, not
    resumed from), the orphaned files must stay invisible to
    manifest-driven reads, and the final directory must equal the batch
    oracle (q143's watermark formula) — no duplicated window, no
    missing window."""
    import os
    import time

    H = 3600
    schema = "user_id long, event_type string, ts_s long, value double"
    select = ("user_id", "event_type", "timestamp_seconds(ts_s) AS ts", "value")

    def mk(h_lo, h_hi):
        rows = []
        for h in range(h_lo, h_hi):
            for u in range(1, 6):
                rows.append((u, "click", h * H + u * 60, 0.0))
                rows.append((u, "purchase", h * H + u * 60 + 300, float(h * 10 + u)))
        return rows

    src_files = {
        "a": mk(0, 2),
        "b": mk(2, 5),  # advances the watermark past hours 0-1 windows
    }
    post_crash = mk(5, 6) + [
        (1, "click", 100 * H, 0.0),
        (1, "purchase", 100 * H + 60, 0.0),
    ]  # sentinel far ahead: closes every real window at the final drain

    def build_stream(src):
        ev = (
            spark.readStream.schema("user_id long, event_type string, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        clicks = (
            ev.where(F.col("event_type") == "click")
            .select("user_id", F.col("ts").alias("click_ts"))
            .withWatermark("click_ts", "30 minutes")
        )
        purchases = (
            ev.where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
                F.col("value").alias("purchase_value"),
            )
            .withWatermark("purchase_ts", "30 minutes")
        )
        joined = clicks.join(
            purchases,
            F.expr(
                "user_id = p_user_id AND purchase_ts >= click_ts "
                "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
            ),
        )
        return (
            joined.groupBy(F.window("purchase_ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_conversions"),
                (
                    F.sum(F.expr("CAST(round(purchase_value * 100) AS BIGINT)")) / 100.0
                ).alias("converted_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "n_conversions",
                "converted_value",
            )
        )

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for name, rows in src_files.items():
        _drop_parquet(spark, src, name, rows, schema, select)

    m, out, sink, committed_rows = _crash_kill_roundtrip(
        spark, tmp_path, build_stream, partial_state_op="agg"
    )

    _drop_parquet(spark, src, "c", post_crash, schema, select)
    q2 = sink(build_stream(src), {"availableNow": True})
    q2.awaitTermination()
    replayed = [p["batchId"] for p in q2.recentProgress if p is not None]
    assert m in replayed, f"batch {m} was not re-executed after the crash ({replayed})"

    got = sorted(
        (r["window_start"], r["n_conversions"], round(r["converted_value"], 2))
        for r in spark.read.parquet(out).collect()
    )
    starts = [g[0] for g in got]
    assert len(starts) == len(set(starts)), f"duplicated window after replay: {got}"

    batch = spark.read.schema(
        "user_id long, event_type string, ts timestamp, value double"
    ).parquet(src)
    clicks = batch.where("event_type = 'click'").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = batch.where("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    wm = (
        clicks.agg(F.max("click_ts").alias("c"))
        .crossJoin(purchases.agg(F.max("purchase_ts").alias("p")))
        .selectExpr("least(c, p) - INTERVAL 30 MINUTES AS wm")
        .first()["wm"]
    )
    expected = sorted(
        (r["window_start"], r["n_conversions"], round(r["converted_value"], 2))
        for r in (
            clicks.join(
                purchases,
                F.expr(
                    "user_id = p_user_id AND purchase_ts >= click_ts "
                    "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
                ),
            )
            .groupBy(F.window("purchase_ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_conversions"),
                (
                    F.sum(F.expr("CAST(round(purchase_value * 100) AS BIGINT)")) / 100.0
                ).alias("converted_value"),
            )
            .where(F.col("w.end") <= F.lit(wm))
            .select(F.col("w.start").alias("window_start"), "n_conversions", "converted_value")
        ).collect()
    )
    assert got == expected, f"sink != oracle after crash+restart\n{got}\n{expected}"


def test_stream_stream_join_exactly_once_across_crash_kill(spark, tmp_path):
    """q73's watermarked interval join under the same crash injection:
    the commit marker of the last sink-visible batch is removed (sink
    parquet durable, batch uncommitted), the join's four state stores
    keep their deltas, restart re-executes the batch from its offsets
    entry — the manifest must dedupe the re-add and the final sink must
    equal the batch join exactly (inner interval joins emit matches
    eagerly, so the oracle is ALL matched pairs over all files)."""
    import os

    H = 3600
    schema = "user_id long, event_type string, ts_s long, value double"
    select = ("user_id", "event_type", "timestamp_seconds(ts_s) AS ts", "value")

    def mk(h_lo, h_hi):
        rows = []
        for h in range(h_lo, h_hi):
            for u in range(1, 6):
                rows.append((u, "click", h * H + u * 60, 0.0))
                rows.append((u, "purchase", h * H + u * 60 + 300, float(h * 10 + u)))
        return rows

    def build_stream(src):
        ev = (
            spark.readStream.schema("user_id long, event_type string, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        clicks = (
            ev.where(F.col("event_type") == "click")
            .select("user_id", F.col("ts").alias("click_ts"))
            .withWatermark("click_ts", "30 minutes")
        )
        purchases = (
            ev.where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
                F.col("value").alias("purchase_value"),
            )
            .withWatermark("purchase_ts", "30 minutes")
        )
        return clicks.join(
            purchases,
            F.expr(
                "user_id = p_user_id AND purchase_ts >= click_ts "
                "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
            ),
        ).select("user_id", "click_ts", "purchase_ts", "purchase_value")

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    _drop_parquet(spark, src, "a", mk(0, 2), schema, select)
    _drop_parquet(spark, src, "b", mk(2, 4), schema, select)

    m, out, sink, committed_rows = _crash_kill_roundtrip(spark, tmp_path, build_stream)

    _drop_parquet(spark, src, "c", mk(4, 5), schema, select)
    q2 = sink(build_stream(src), {"availableNow": True})
    q2.awaitTermination()
    replayed = [p["batchId"] for p in q2.recentProgress if p is not None]
    assert m in replayed, f"batch {m} was not re-executed after the crash ({replayed})"

    got = sorted(
        (r["user_id"], r["click_ts"], r["purchase_ts"], r["purchase_value"])
        for r in spark.read.parquet(out).collect()
    )
    assert len(got) == len(set(got)), "duplicated join match after replay"
    batch = spark.read.schema(
        "user_id long, event_type string, ts timestamp, value double"
    ).parquet(src)
    clicks = batch.where("event_type = 'click'").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = batch.where("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    expected = sorted(
        (r["user_id"], r["click_ts"], r["purchase_ts"], r["purchase_value"])
        for r in clicks.join(
            purchases,
            F.expr(
                "user_id = p_user_id AND purchase_ts >= click_ts "
                "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
            ),
        )
        .select("user_id", "click_ts", "purchase_ts", "purchase_value")
        .collect()
    )
    assert got == expected, f"sink != oracle after crash+restart\n{got[:5]}\n{expected[:5]}"


def test_stream_incremental_dedup_equals_batch(spark, tmp_path):
    """q162 == q161 on the same fixture: streaming the increment in
    micro-batches against the static corpus must land on exactly the
    batch classification (per-doc classification + static corpus ⇒
    batch-boundary independence), including the 'exact' NULL-jaccard
    and best-near-match tie rules. Also asserts the stream really ran
    through the foreachBatch sink (progress recorded)."""
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans
    from mapreduce_mit_spark.streaming.stream_queries import last_progress

    from .test_operators import BASE

    load_all_plans()
    near = BASE.replace("quiet", "noisy")
    rows = [
        (0, BASE),
        (1, "completely different content about spark query planning and "
            "shuffle partitioning strategies for large scale data systems"),
        (2, BASE),
        (7, BASE.upper().replace("  ", " ")),    # batch: exact after norm
        (17, near),                              # batch: near-dup of 0/2
        (27, "yet another unrelated document mentioning streaming "
             "watermarks and stateful aggregation semantics in engines"),
    ]
    (
        spark.createDataFrame(rows, "doc_id long, text string")
        .select(
            "doc_id", "text",
            F.lit("en").alias("lang"), F.lit("t").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .write.parquet(str(tmp_path / "documents.parquet"))
    )
    sf = str(tmp_path)
    streamed = REGISTRY["q162_stream_incremental_dedup"].fn(spark, sf).collect()
    batch = REGISTRY["q161_incremental_dedup"].fn(spark, sf).collect()
    as_tuples = lambda rs: sorted(  # noqa: E731
        (r.doc_id, r.status, r.match_doc_id, r.jaccard) for r in rs
    )
    assert as_tuples(streamed) == as_tuples(batch)
    got = {r.doc_id: r for r in streamed}
    assert set(got) == {7, 17, 27}
    assert got[7].status == "exact" and got[7].match_doc_id == 0
    assert got[17].status == "near_dup" and got[17].jaccard >= 0.9
    assert got[27].status == "new"
    assert len(last_progress("q162_sink")) >= 1

def test_stream_admission_equals_full_rebuild(spark, tmp_path):
    """The EVOLVING-corpus property q162 cannot express, pinned on
    q163's operator: an increment-2 doc classified against a doc that
    was only ADMITTED by increment 1 (match_doc_id from the previous
    micro-batch), and — because groups are cliques, increments are
    internally dup-free, and ids grow batch-over-batch — the final
    admitted corpus equals a from-scratch q148 rebuild over the full
    union (the streaming form of the batch chain equivalence in
    tests/test_operators.py::test_incremental_dedup_chained_equals_full_rebuild).
    Also checks the state layout contract: one batch_id partition per
    applied batch and the meta pointer at the last one."""
    import itertools
    import json
    import os

    from mapreduce_mit_spark.plans.dedup import _dedup_pipeline
    from mapreduce_mit_spark.streaming.stream_queries import (
        stream_admit_increments,
    )

    from .test_operators import BASE

    wordset = lambda seed, n: " ".join(  # noqa: E731
        "".join(p) for p in itertools.islice(
            itertools.product(seed, repeat=3), n
        )
    )
    doc_c = wordset("cdefghi", 40)
    # CASE-VARIANT exacts (10, 20) are the contract's sharpest edge:
    # tokenization is case-sensitive, so a from-scratch q148 rebuild
    # KEEPS them (disjoint token sets — not even near-dups of their
    # lowercase originals), and rebuild-equivalent admission must too.
    # An admission gate keyed on the case-folding norm_text hash
    # (q161/q162's classification key) would drop them — the exact
    # divergence this fixture exists to catch.
    # Byte-identical exacts (7xx-free here) are covered by the q148
    # pre-pass tests; 23 is a token-identical (whitespace-variant)
    # exact, which BOTH the rebuild's collapse and admission's exact
    # tier must drop.
    docs = {
        0: BASE,                                  # corpus
        1: wordset("jklmnop", 40),                # corpus
        10: BASE.upper().replace("  ", " "),      # inc1: case variant of 0 -> KEPT
        11: doc_c,                                # inc1: new -> admitted
        13: BASE.replace("quiet", "noisy"),       # inc1: near-dup of 0
        20: doc_c.upper(),                        # inc2: case variant of 11 -> KEPT
        21: doc_c + " extraqa extraqb",           # inc2: near-dup of 11
        22: wordset("qrstuvw", 40),               # inc2: new -> admitted
        23: doc_c.replace(" ", "  "),             # inc2: token-exact of 11 (inc1!)
    }

    def df(ids):
        return spark.createDataFrame(
            [(i, docs[i]) for i in ids], "doc_id long, text string"
        )

    root = str(tmp_path / "admit")
    log = stream_admit_increments(
        spark, df([0, 1]), [df([10, 11, 13]), df([20, 21, 22, 23])], root
    ).collect()

    got = {r.doc_id: r for r in log}
    assert {(r.increment, r.doc_id) for r in log} == {
        (1, 10), (1, 11), (1, 13), (2, 20), (2, 21), (2, 22), (2, 23)
    }
    assert got[10].status == "new", "case variant must be KEPT (rebuild keeps it)"
    assert got[13].status == "near_dup" and got[13].match_doc_id == 0
    assert got[11].status == "new"
    # the evolving-corpus property: inc2 docs match an inc1 ADMISSION
    assert got[20].status == "new", "case variant must be KEPT (rebuild keeps it)"
    assert got[21].status == "near_dup" and got[21].match_doc_id == 11
    assert got[22].status == "new"
    assert got[23].status == "exact" and got[23].match_doc_id == 11, (
        "token-identical doc must hit the exact tier against an inc1 admission"
    )

    # final corpus state == from-scratch q148 rebuild over the union
    meta = json.loads(open(os.path.join(root, "meta.json")).read())
    assert meta["batch_id"] == 1
    final = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(root, "docs"))
        .where(F.col("batch_id") <= meta["batch_id"])
        .collect()
    }
    full_dir = str(tmp_path / "full")
    (
        df(sorted(docs))
        .select(
            "doc_id", "text",
            F.lit("en").alias("lang"), F.lit("t").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .write.parquet(full_dir + "/documents.parquet")
    )
    rebuild = {r.doc_id for r in _dedup_pipeline(spark, full_dir).collect()}
    assert final == rebuild == {0, 1, 10, 11, 20, 22}
    # append-only layout: one partition per applied batch, seed at -1
    for t in ("docs", "bands", "hashes"):
        parts = sorted(
            p for p in os.listdir(os.path.join(root, t))
            if p.startswith("batch_id=")
        )
        assert parts == ["batch_id=-1", "batch_id=0", "batch_id=1"], (t, parts)


def test_stream_ann_serve_from_attached_index(spark, tmp_path, monkeypatch):
    """q168 composes the two lifecycles: a saved IVF index attached in
    a cache-cold session must serve the whole query stream without
    refitting (fit core poisoned), and the streamed result equals the
    pre-attach run — the online half of "offline jobs fit and save,
    query jobs attach and serve"."""
    from mapreduce_mit_spark.plans import similarity as sim
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    sf = SF_SMALL
    out = str(tmp_path / "ivf")
    sim.ivf_index_save(spark, sf, out)
    base = sorted(
        map(tuple, REGISTRY["q168_stream_ann_serve"].fn(spark, sf).collect())
    )

    cache = sim._session_cache(spark)
    for k in list(cache):
        sim._cache_evict(cache.pop(k))
    sim.ivf_index_attach(spark, sf, out)

    def _poisoned(*a, **kw):
        raise AssertionError("q168 refit the IVF codebook after attach")

    monkeypatch.setattr(sim, "ivf_codebook", _poisoned)
    served = sorted(
        map(tuple, REGISTRY["q168_stream_ann_serve"].fn(spark, sf).collect())
    )
    assert served == base, "attached-index serving diverges from the fit"


def test_stream_ann_serve_empty_query_sample(spark, monkeypatch):
    """An empty deterministic query sample must yield an EMPTY serve
    result, not a read error: with no queries no micro-batch may ever
    run, so out_dir is never created and the final read needs the
    empty-schema short-circuit (ADVICE r11)."""
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans
    from mapreduce_mit_spark.streaming import stream_queries as sq

    load_all_plans()
    # frac so small the 16-bit hash threshold is 0 -> no vector samples
    monkeypatch.setattr(sq, "ANN_SERVE_FRAC", 1.0 / 131072)
    res = REGISTRY["q168_stream_ann_serve"].fn(spark, SF_SMALL)
    assert res.columns == ["query_id", "rnk", "vec_id", "cos_sim"]
    assert res.count() == 0


def test_stream_index_ingest_equals_batch_freshness(spark):
    """q176's streamed ingest must land EXACTLY the combined lists
    q175 builds in one shot: same hits, same is_new flags, same
    in-band recall — stream == batch, asserted directly (both are also
    value-checked against the same SQL oracle by the driver). A second
    q176 run over the same staged tree must be idempotent."""
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    batch = sorted(
        map(tuple, REGISTRY["q175_ivf_incremental_serve"].fn(spark, SF_SMALL).collect())
    )
    streamed = sorted(
        map(tuple, REGISTRY["q176_stream_index_ingest"].fn(spark, SF_SMALL).collect())
    )
    assert streamed == batch and batch, "streamed ingest diverges from batch"
    again = sorted(
        map(tuple, REGISTRY["q176_stream_index_ingest"].fn(spark, SF_SMALL).collect())
    )
    assert again == streamed, "q176 rerun not idempotent"


def test_stream_agg_maintenance_equals_batch(spark):
    """q181's streamed partial-fold must land EXACTLY q178's merged
    view: same groups, same exact-integer measures, same has_new flags
    — stream == batch, asserted directly (both are also value-checked
    against the same SQL oracle by the driver). A second run over a
    re-staged tree must be idempotent."""
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    batch = sorted(
        map(
            tuple,
            REGISTRY["q178_incremental_agg_maintenance"].fn(spark, SF_SMALL).collect(),
        )
    )
    streamed = sorted(
        map(tuple, REGISTRY["q181_stream_agg_maintenance"].fn(spark, SF_SMALL).collect())
    )
    assert streamed == batch and batch, "streamed maintenance diverges from batch"
    again = sorted(
        map(tuple, REGISTRY["q181_stream_agg_maintenance"].fn(spark, SF_SMALL).collect())
    )
    assert again == streamed, "q181 rerun not idempotent"


def test_stream_state_compaction_preserves_view_and_shrinks_tree(spark):
    """q185's contract, pinned beyond the shared oracle: the compacted
    tree serves ROW-IDENTICAL results to the fresh multi-batch tree,
    and physically shrinks to the single batch_id=-2 partition."""
    import glob
    import os

    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans
    from mapreduce_mit_spark.streaming.stream_queries import (
        _active_parts_dir,
        _stage_agg_parts_tree,
        _serve_agg_view,
        fp_stream_root,
    )

    load_all_plans()
    parts_dir = _stage_agg_parts_tree(spark, SF_SMALL, "q185_test_sink")
    n_batches_before = len(glob.glob(os.path.join(parts_dir, "batch_id=*")))
    assert n_batches_before > 1, "staging should land multiple micro-batches"
    before = sorted(
        map(tuple, _serve_agg_view(spark, SF_SMALL, parts_dir).collect())
    )
    after = sorted(
        map(
            tuple,
            REGISTRY["q185_stream_state_compaction"].fn(spark, SF_SMALL).collect(),
        )
    )
    assert after == before and before, "compaction changed the served view"
    root = fp_stream_root("mms_agg_stream", SF_SMALL, "lineitem.parquet")
    active = _active_parts_dir(root)
    parts = glob.glob(os.path.join(active, "batch_id=*"))
    assert len(parts) == 1 and parts[0].endswith("batch_id=-2")
    # the superseded multi-batch tree was GC'd after the pointer flip
    assert not os.path.isdir(os.path.join(root, "parts"))


def test_partials_tree_pointer_distinguishes_missing_from_empty(spark, tmp_path):
    """The torn-swap guard: a missing ACTIVE pointer (or a pointer
    naming a vanished directory) must raise, never silently serve a
    snapshot-only view; a pointer to an EXISTING empty tree serves the
    empty partials frame (zero increments is a legitimate state)."""
    import os

    import pytest

    from mapreduce_mit_spark.streaming.stream_queries import (
        _active_parts_dir,
        _parts_pointer_write,
        _q181_partials_tree,
    )

    root = str(tmp_path / "tree_root")
    os.makedirs(root)
    with pytest.raises(RuntimeError, match="ACTIVE"):
        _active_parts_dir(root)
    _parts_pointer_write(root, "parts_gone")
    with pytest.raises(RuntimeError, match="torn swap"):
        _active_parts_dir(root)
    empty = os.path.join(root, "parts_empty")
    os.makedirs(empty)
    _parts_pointer_write(root, "parts_empty")
    assert _active_parts_dir(root) == empty
    assert _q181_partials_tree(spark, empty).count() == 0
    with pytest.raises(RuntimeError, match="does not exist"):
        _q181_partials_tree(spark, os.path.join(root, "nope"))


def test_stream_dsir_scoring_equals_batch(spark):
    """q195's contract beyond the shared oracle: the streamed per-batch
    scoring against the standing llr table lands EXACTLY q190's rows —
    stream == batch, independent of micro-batch boundaries."""
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    batch = sorted(
        map(tuple, REGISTRY["q190_dsir_importance"].fn(spark, SF_SMALL).collect())
    )
    streamed = sorted(
        map(tuple, REGISTRY["q195_stream_dsir_scoring"].fn(spark, SF_SMALL).collect())
    )
    assert streamed == batch and batch


def test_stream_bpe_tokenize_equals_batch(spark):
    """q198's contract beyond the shared oracle: per-batch tokenization
    with the fitted merge table folds to EXACTLY q197's vocabulary —
    symbol counts are additive over documents, so any micro-batch
    boundary lands the same view."""
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    batch = sorted(
        map(tuple, REGISTRY["q197_bpe_vocab"].fn(spark, SF_SMALL).collect())
    )
    streamed = sorted(
        map(tuple, REGISTRY["q198_stream_bpe_tokenize"].fn(spark, SF_SMALL).collect())
    )
    assert streamed == batch and batch


def test_ann_ingest_compaction_preserves_serve_and_shrinks_tree(spark):
    """q205's contract, pinned beyond the shared oracle: the compacted
    increment tree serves ROW-IDENTICAL results to the fresh
    multi-batch tree, physically shrinks to the single batch_id=-2
    partition with fewer parquet files, and the superseded tree is
    GC'd after the atomic pointer flip."""
    import glob
    import os

    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans
    from mapreduce_mit_spark.streaming.stream_queries import (
        _active_parts_dir,
        _serve_ivf_ingest_view,
        _stage_ivf_lists_tree,
    )

    load_all_plans()
    root = _stage_ivf_lists_tree(spark, SF_SMALL, "q205_test_sink")
    lists_dir = _active_parts_dir(root)
    n_batches_before = len(glob.glob(os.path.join(lists_dir, "batch_id=*")))
    assert n_batches_before > 1, "staging should land multiple micro-batches"
    files_before = len(
        glob.glob(os.path.join(lists_dir, "batch_id=*", "cluster=*", "*.parquet"))
    )
    before = sorted(
        map(tuple, _serve_ivf_ingest_view(spark, SF_SMALL, lists_dir).collect())
    )
    after = sorted(
        map(
            tuple,
            REGISTRY["q205_ann_ingest_compaction"].fn(spark, SF_SMALL).collect(),
        )
    )
    assert after == before and before, "compaction changed the served view"
    active = _active_parts_dir(root)
    parts = glob.glob(os.path.join(active, "batch_id=*"))
    assert len(parts) == 1 and parts[0].endswith("batch_id=-2")
    files_after = len(
        glob.glob(os.path.join(active, "batch_id=*", "cluster=*", "*.parquet"))
    )
    assert 0 < files_after < files_before, (files_after, files_before)
    # the superseded multi-batch tree was GC'd after the pointer flip
    assert not os.path.isdir(os.path.join(root, "lists"))


def test_q176_streams_empty_ingest_under_refreshed_artifact(spark, tmp_path):
    """The moved-boundary streaming path end to end: with q207's
    refreshed index ATTACHED (standing_hex = IVF_REFRESHED_HEX), the
    q176 increment carve is provably empty — every micro-batch is
    zero rows, each leaving a batch_id directory with no parquet files
    (the _SUCCESS-only shape the tree reader's file-level glob
    guards), and the serve must come back all is_new = false from the
    standing artifact alone."""
    import os

    from mapreduce_mit_spark.plans import similarity as sim
    from mapreduce_mit_spark.plans._util import _session_cache, source_fingerprint
    from mapreduce_mit_spark.registry import REGISTRY, load_all_plans

    load_all_plans()
    out = str(tmp_path / "ivf_refreshed")
    sim.ivf_standing_index_refresh(spark, SF_SMALL, out)
    key = ("ivf_standing",) + source_fingerprint(
        os.path.join(SF_SMALL, "embeddings.parquet")
    )
    cache = _session_cache(spark)
    prev = cache.get(key)
    # pre-attach baseline: the default artifact's serve (note: at this
    # SF the pinned query's top-k happens to contain no increment-tier
    # rows, so is_new is False throughout — the distinguishing signal
    # for cache restoration is row-identity with this baseline, not
    # is_new)
    baseline = sorted(
        map(
            tuple,
            REGISTRY["q176_stream_index_ingest"].fn(spark, SF_SMALL).collect(),
        )
    )
    assert baseline, "baseline serve returned no rows"
    try:
        sim.ivf_standing_index_attach(spark, SF_SMALL, out)
        rows = REGISTRY["q176_stream_index_ingest"].fn(spark, SF_SMALL).collect()
        assert rows and all(not r.is_new for r in rows), (
            "refreshed boundary must stream an empty ingest and serve "
            "from the standing tier only"
        )
    finally:
        if prev is not None:
            cache[key] = prev
        else:
            cache.pop(key, None)
    # the default artifact serves unchanged afterwards (cache restored):
    # row-identical to the pre-attach baseline, ingest rows included
    again = sorted(
        map(
            tuple,
            REGISTRY["q176_stream_index_ingest"].fn(spark, SF_SMALL).collect(),
        )
    )
    assert again == baseline, (
        "restored-default serve diverged from the pre-attach baseline"
    )
