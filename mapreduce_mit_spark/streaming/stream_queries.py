"""Structured Streaming operators over the ``events`` table.

The reference engine is strictly batch (two synchronous phases,
master.go:110-111) — streaming is a pure capability extension
(SURVEY §2.2). Each query here runs a REAL Structured Streaming job
(file source → stateful operators → memory sink, availableNow trigger)
and returns the sink table, so the driver exercises genuine streaming
state management, not a batch rewrite:

- q90: tumbling-window aggregation, complete mode → final state equals
  the batch q70 twin, so it IS DuckDB-oracle-checkable.
- q91: watermarked append-mode aggregation — only windows the 10-min
  watermark has closed are emitted; single-batch processing makes the
  emitted set deterministic, so it too has an exact SQL oracle.
- q92: streaming dedup with dropDuplicatesWithinWatermark (rows-only).
- q93: custom stateful op via applyInPandasWithState (rows-only).
- q152: checkpointed parquet FILE sink (exactly-once landing path; the
  memory sinks above are observation harnesses, this is the production
  sink contract, rerun-idempotent by checkpoint).

Scale posture: state lives in the state store keyed by (window[, user]);
watermarks bound state growth; file source here stands in for
Kafka/object-store streams — the operator graph is source-agnostic.
"""

from __future__ import annotations

import glob
import os
import tempfile
import time
from collections.abc import Iterator
from contextlib import contextmanager
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from ..registry import register
from ..plans._util import money_sum as _total_value

# State stores per stateful stream — see _run_to_table. Unlike batch
# shuffles (AQE re-sizes those at runtime), streaming state partitioning
# is FIXED at first checkpoint, so it must be sized to the stream, not
# defaulted: a stream-stream join instantiates 4 stores per partition,
# and store setup dominates small micro-batches (measured at sf0.1:
# 8 parts → 2.33 s, 4 → 1.75 s per availableNow drain, same results).
# 4 keeps every core class of the 32-thread box busy at test scale; a
# real deployment sizes this to events/sec via the env override.
STREAM_STATE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STREAM_PARTS", "4"))

# Per-sink StreamingQuery handles from the last availableNow drain.
# Observability hook: lets tests (and operators) assert state-store
# posture — stateOperators row counts, watermark advancement, eviction
# — without re-running the stream. Handles only: materializing
# recentProgress eagerly costs ~0.25 s of py4j/JSON per run, so parsing
# is deferred to last_progress().
LAST_QUERY: dict[str, Any] = {}


def last_progress(name: str) -> list[dict[str, Any]]:
    """Parsed StreamingQueryProgress list for a sink run earlier."""
    q = LAST_QUERY.get(name)
    if q is None:
        return []
    return [p for p in q.recentProgress if p is not None]


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet.

    The file stream source requires a directory, so the single parquet
    file is exposed through a scratch dir of symlinks — the stand-in for
    the object-store prefix a production stream would tail."""
    from ..sources.io import normalize_ns_timestamps, read_schema

    path = os.path.join(sf_dir, "events.parquet")
    stage = os.path.join(
        tempfile.gettempdir(), "mms_stream", sf_dir.strip("/").replace("/", "_")
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    # lexists: a stale symlink (testdata dir recreated) makes exists()
    # False but symlink() still raise; re-point whenever the target moved.
    # The stage dir is SHARED across processes, so both the remove and
    # the symlink can race a concurrent session doing the same repair —
    # each step tolerates the other process having won (the end state
    # both want is identical), then the final realpath check confirms it.
    if not os.path.lexists(link) or os.path.realpath(link) != os.path.realpath(path):
        try:
            os.remove(link)
        except FileNotFoundError:
            pass
        try:
            os.symlink(path, link)
        except FileExistsError:
            pass
        if os.path.realpath(link) != os.path.realpath(path):
            raise RuntimeError(f"stream stage link points elsewhere: {link}")
    # the batch tables' read schema: nanos ts arrives as long
    return normalize_ns_timestamps(
        spark.readStream.schema(read_schema(spark, path)).parquet(stage)
    )


def _final_updates(spark: SparkSession, name: str, seq_col: str = "n_events") -> DataFrame:
    """Reduce an update-mode memory sink to the FINAL update per user.

    A memory sink in update mode APPENDS each micro-batch's rows rather
    than upserting, so any multi-batch drain (e.g. a maxFilesPerTrigger
    source change splitting the availableNow run) would leave stale
    per-user running-total rows alongside the final ones. The per-user
    accumulators are strictly monotone in ``seq_col`` (event counts only
    grow), so the final state row is exactly the per-user seq-max row —
    selected here instead of trusting the single-batch assumption."""
    w = Window.partitionBy("user_id").orderBy(F.col(seq_col).desc())
    return (
        spark.table(name)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _run_to_table(result: DataFrame, name: str, mode: str) -> None:
    spark = result.sparkSession
    spark.catalog.dropTempView(name) if name in [
        t.name for t in spark.catalog.listTables()
    ] else None
    # Stateful streaming ops keep one state store per shuffle partition,
    # and every micro-batch pays per-store setup/commit. Size the stream's
    # partition count to its state cardinality (hundreds of windows/users
    # here — at scale: keys ÷ target-keys-per-store), instead of
    # inheriting the batch-tuned global default. Measured ~2× on the
    # availableNow runs at sf0.1. Conf is restored after the run.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        LAST_QUERY[name] = q
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@register(
    "q90_stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
           count(*) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    ORDER BY window_start
    """,
    tags=("streaming", "tumbling"),
)
def q90_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window count/sum, complete output mode: after
    the availableNow run drains the source, the sink holds exactly the
    batch answer — hash-checked against the batch oracle. Money summed
    as integer cents on both sides (order-independent, hash-safe)."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"), _total_value())
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )
    _run_to_table(agg, "q90_sink", "complete")
    return spark.table("q90_sink").orderBy("window_start")


@register(
    "q91_stream_watermark_append",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
             time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
             count(*) AS n_events
      FROM events
      GROUP BY 1, 2
    ),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS watermark FROM events)
    SELECT window_start, window_end, n_events
    FROM agg, wm
    WHERE window_end <= watermark
    ORDER BY window_start
    """,
    tags=("streaming", "watermark", "late-data"),
)
def q91_stream_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode windows: only windows whose end precedes
    the final watermark (max event time − 10 min) are emitted; the last
    open window is withheld. That late-data semantics is reproduced
    exactly by the oracle's watermark predicate — the one streaming
    behavior SURVEY §7.5(5) flags as checkable this way."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )
    _run_to_table(agg, "q91_sink", "append")
    return spark.table("q91_sink").orderBy("window_start")


@register(
    "q92_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
    tags=("streaming", "dedup"),
)
def q92_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type) within a 30-min
    watermark — dropDuplicatesWithinWatermark keeps state bounded (the
    streaming twin of q80).

    The projection keeps exactly the dedup-key columns: WHICH duplicate
    survives depends on arrival order (inherently nondeterministic), but
    the SET of surviving keys does not — so this streaming state
    operator gets an exact oracle (the single-batch availableNow drain
    emits each key once; the watermark bound never fires within one
    batch)."""
    dedup = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    _run_to_table(dedup, "q92_sink", "append")
    return spark.table("q92_sink").orderBy("user_id", "event_type")


@register(
    "q73_stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id  AS user_id,
           c.ts       AS click_ts,
           p.ts       AS purchase_ts,
           p.value    AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    ORDER BY click_id, purchase_id
    """,
    tags=("streaming", "stream-stream-join", "interval-join"),
)
def q73_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases within 30 minutes after a
    click by the same user. Both sides are watermarked and the join
    carries an event-time range constraint, so the state store evicts
    rows older than the watermark — the bounded-state formulation that
    survives an unbounded stream (an un-constrained stream-stream join
    would buffer both streams forever). The availableNow drain emits
    every match once, so the batch SQL join is an exact oracle."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL 30 MINUTES
            """
        ),
    ).select(
        "click_id", "purchase_id", "user_id", "click_ts", "purchase_ts", "purchase_value"
    )
    _run_to_table(joined, "q73_sink", "append")
    return spark.table("q73_sink").orderBy("click_id", "purchase_id")


@register(
    "q74_stream_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       <= INTERVAL 10 MINUTE
                  THEN 0 ELSE 1 END AS is_new
      FROM events
      WHERE ts IS NOT NULL
    ),
    sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM ordered
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 10 MINUTE AS session_end,
           count(*) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM sess
    GROUP BY user_id, sess_id
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "session"),
)
def q74_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (10-minute gap) per user — the
    streaming twin of batch q72, exercising Spark's session-merging
    state store (sessions grow/merge as events arrive; complete mode +
    availableNow drain leaves the final merged sessions, equal to the
    batch answer and the gaps-and-islands oracle)."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), _total_value())
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    _run_to_table(agg, "q74_sink", "complete")
    return spark.table("q74_sink").orderBy("user_id", "session_start")


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _user_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # State accumulates integer CENTS, not a float sum: integer addition
    # is order-independent, so the final state is exact regardless of
    # batch/partition arrival order — which is what lets this custom
    # stateful operator be value-checked against a SQL oracle instead of
    # rows-only.
    (n, cents) = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # nullable Int64 + skipna sum: a NULL value counts in n_events
        # but contributes no cents (the oracle's count(*)/sum split) —
        # and a single dirty row must never kill the state store task
        cents += int((pdf["value"] * 100).round().astype("Int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_cents": [cents],
            "total_value": [cents / 100.0],
        }
    )


@register(
    "q93_stream_stateful_custom",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "stateful", "pandas-udf"),
)
def q93_stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running event count + value total kept in GroupState.
    The arbitrary-stateful escape hatch for operators Spark's built-in
    streaming aggregates can't express — and still exactly value-checked:
    the state is integer cents (order-independent), and the availableNow
    drain leaves one final update row per user."""
    updates = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_totals,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _run_to_table(updates, "q93_sink", "update")
    return _final_updates(spark, "q93_sink").orderBy("user_id")


@register(
    "q94_stream_sliding",
    oracle="""
    WITH slid AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) - (k * INTERVAL 15 MINUTE) AS window_start,
             value
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
      WHERE ts IS NOT NULL
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           count(*) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM slid
    GROUP BY 1, 2
    ORDER BY window_start
    """,
    tags=("streaming", "sliding"),
)
def q94_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window aggregation (1 h windows every 15 min —
    each event feeds 4 windows via Spark's window replication), complete
    mode: the drained sink equals the batch q71 twin, same oracle."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), _total_value())
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )
    _run_to_table(agg, "q94_sink", "complete")
    return spark.table("q94_sink").orderBy("window_start")


@register(
    "q75_stream_static_join",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("streaming", "stream-static-join"),
)
def q75_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched with the static
    customer dimension (user_id = c_custkey), then aggregated per
    market segment. The static side is broadcast to every micro-batch
    — no state store for the join itself (only the downstream agg
    keeps state), which is why stream-static enrichment is the
    cheapest join in Structured Streaming and the default pattern for
    dimension lookups at 100 TB. Money as integer cents (hash-safe)."""
    from ..sources.io import load_table

    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"), _total_value())
    )
    _run_to_table(agg, "q75_sink", "complete")
    return spark.table("q75_sink").orderBy("c_mktsegment")


@register(
    "q76_stream_stream_left_join",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
      SELECT c.click_id, p.purchase_id, c.user_id
      FROM clicks c JOIN purch p
        ON c.user_id = p.user_id
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    ),
    wm AS (
      SELECT least((SELECT max(click_ts) FROM clicks),
                   (SELECT max(purchase_ts) FROM purch))
             - INTERVAL 30 MINUTE AS w
    )
    SELECT click_id, purchase_id, user_id FROM matched
    UNION ALL
    SELECT c.click_id, NULL AS purchase_id, c.user_id
    FROM clicks c, wm
    WHERE c.click_id NOT IN (SELECT click_id FROM matched)
      AND c.click_ts + INTERVAL 30 MINUTE < wm.w
    ORDER BY click_id, purchase_id
    """,
    tags=("streaming", "stream-stream-join", "outer"),
)
def q76_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the state-eviction
    semantics q73 doesn't exercise: a click emits its null-extended row
    ONLY once the global watermark (min across both streams, minus the
    30-min delay) passes its join-window upper bound, proving the state
    store released it; clicks still inside the watermark horizon at
    drain stay unemitted. The oracle reproduces exactly that emission
    rule: matched pairs plus unmatched clicks with
    ``click_ts + 30 min < watermark``."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL 30 MINUTES
            """
        ),
        "leftOuter",
    ).select("click_id", "purchase_id", "user_id")
    _run_to_table(joined, "q76_sink", "append")
    return spark.table("q76_sink").orderBy("click_id", "purchase_id")


@register(
    "q115_stream_upsert",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "foreachbatch", "upsert", "sink"),
)
def q115_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental upsert: the stream is split into
    multiple micro-batches (maxFilesPerTrigger over a re-sharded copy),
    and each batch MERGES its per-user partial aggregates into a
    persistent parquet state table — the exactly-once sink pattern for
    engines without a transactional table format.

    Exactly-once mechanics, each one load-bearing:
    - per-batch partial agg first, so the merge input is keys-sized,
      not events-sized;
    - ping-pong state dirs (write batch N's merge to the dir batch N-1
      did NOT write), so a mid-write crash never corrupts the readable
      state — the atomic "commit" is a driver-side pointer flip;
    - the pointer file records the last applied batch_id; a replayed
      batch (foreachBatch redelivers after failure) is skipped, making
      the sink idempotent — THE property that upgrades Structured
      Streaming's at-least-once redelivery to exactly-once results.
    State accumulates integer cents, so the final per-user totals are
    independent of batch boundaries and merge order — which is what
    lets an incremental, multi-batch materialization be value-checked
    against a single-shot SQL oracle. At 100 TB the parquet ping-pong
    becomes a Delta/Iceberg MERGE keyed the same way; the batch-id
    guard and keys-sized merge input carry over unchanged."""
    import json
    import shutil

    from ..sources.io import ensure_reader_confs, load_table

    ensure_reader_confs(spark)
    # fingerprint-keyed like q152/q162/q163 (fp_stream_root): disjoint
    # state trees for logically independent runs
    root = fp_stream_root("mms_upsert", sf_dir, "events.parquet")
    src_dir = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    state_dirs = [os.path.join(root, "state_a"), os.path.join(root, "state_b")]
    meta_path = os.path.join(root, "meta.json")

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")

    def _state() -> tuple[int, str] | None:
        if not os.path.exists(meta_path):
            return None
        m = json.loads(open(meta_path).read())
        return m["batch_id"], m["dir"]

    def upsert(batch: DataFrame, batch_id: int) -> None:
        cur = _state()
        if cur is not None and batch_id <= cur[0]:
            return  # replayed batch: already applied, skip (idempotence)
        agg = batch.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
        )
        if cur is not None:
            prev = batch.sparkSession.read.parquet(cur[1])
            agg = (
                prev.unionByName(agg)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("cents").alias("cents"),
                )
            )
        nxt = state_dirs[batch_id % 2]
        agg.write.mode("overwrite").parquet(nxt)
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps({"batch_id": batch_id, "dir": nxt}))
        os.replace(tmp, meta_path)  # the atomic commit

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        # Process lease on the shared tree (the q152/q162 discipline):
        # the rmtree reset, the whole drain, AND the final state read
        # happen under the lock, so a concurrent q115 in another
        # process can neither rip the tree out mid-stream nor have its
        # tree ripped out by this reset. The result is eagerly
        # checkpointed BEFORE the lock releases — the returned
        # DataFrame is detached from the tree, so the next process's
        # reset can't invalidate it under the caller.
        with tree_lock(root):
            # Fresh state per invocation: this query's contract is
            # "stream the whole table from scratch", so stale state
            # from a previous call must not leak in (deterministic
            # dir, removed up front — no tmpdir accumulation).
            shutil.rmtree(root, ignore_errors=True)
            # Re-shard so the file stream source yields several
            # micro-batches (one parquet file would collapse to a
            # single batch and the merge loop would never exercise
            # its incremental path).
            ev.repartition(6).write.mode("overwrite").parquet(src_dir)
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 2)
                .parquet(src_dir)
            )
            q = (
                stream.writeStream.foreachBatch(upsert)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            LAST_QUERY["q115_sink"] = q
            final = _state()
            assert final is not None, "stream produced no batches"
            out = (
                spark.read.parquet(final[1])
                .select(
                    "user_id",
                    "n_events",
                    (F.col("cents") / 100.0).alias("total_value"),
                )
                .localCheckpoint(eager=True)
            )
            return out.orderBy("user_id")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


# --- transformWithState (Spark 4 arbitrary-stateful API) -------------------

def _has_transform_with_state_runtime() -> bool:
    """transformWithStateInPandas talks to a Python state server over
    protobuf; this container ships pyspark without the protobuf package
    (and installs are off-limits), so the API crashes at stream start
    with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE. Same posture
    as the image codecs (operators/multimodal.py): detect honestly,
    run the modern path when the environment supports it."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


_TWS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


class _UserStatsProcessor:
    """StatefulProcessor for q134: per-user running (count, cent total,
    cent max) in a ValueState. Integer-cents state keeps the result an
    exact, order-independent function of the input — the same
    falsifiability discipline as q93's GroupState twin."""

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "totals", "n BIGINT, cents BIGINT, max_cents BIGINT"
        )

    def handleInputRows(self, key, rows, timerValues):
        n, cents, max_cents = (
            self._state.get() if self._state.exists() else (0, 0, None)
        )
        for pdf in rows:
            n += len(pdf)
            # nullable Int64: NULL values count in n, add no cents, and
            # set no max (the oracle's count(*) / sum / max NULL-skips)
            c = (pdf["value"] * 100).round().astype("Int64")
            cents += int(c.sum())
            bm = c.max()
            if not pd.isna(bm):
                max_cents = int(bm) if max_cents is None else max(max_cents, int(bm))
        self._state.update((n, cents, max_cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                # max_cents is None iff the group has no non-NULL value
                # yet — where the oracle's sum/max are NULL, not 0
                "total_value": [cents / 100.0 if max_cents is not None else None],
                "max_value": [max_cents / 100.0 if max_cents is not None else None],
            }
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def close(self) -> None:
        pass


@register(
    "q134_stream_transform_with_state",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value,
           max(CAST(round(value * 100) AS BIGINT)) / 100.0 AS max_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "stateful", "transform-with-state"),
)
def q134_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming via transformWithStateInPandas — the
    Spark 4 successor to applyInPandasWithState (q93), with named state
    variables, TTL, and timers managed by a StatefulProcessor. Here a
    ValueState holds per-user (count, cent-total, cent-max); update
    mode emits one row per user per micro-batch, and the availableNow
    drain leaves exactly the batch answer in the sink.

    Scale shape: state is keyed by user in the RocksDB state store
    (transformWithState requires the RocksDB provider — changelog
    checkpointing and out-of-heap state at scale); the only shuffle is
    the groupBy(user_id) routing, sized by STREAM_STATE_PARTITIONS.
    The provider conf is set for the run and restored after.

    Runtime gate: the API's Python state server needs protobuf, which
    this container lacks — there the SAME per-user state logic runs via
    applyInPandasWithState (GroupState), so the catalog result is
    identical either way; tests/test_streaming.py exercises the
    processor class directly and skips the end-to-end modern path
    when protobuf is absent."""
    grouped = _events_stream(spark, sf_dir).groupBy("user_id")
    if _has_transform_with_state_runtime():
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        # subclassing at call time keeps the module importable even if
        # the ABC moves; the processor itself is plain-Python above
        proc = type("UserStats", (_UserStatsProcessor, StatefulProcessor), {})()
        updates = grouped.transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType=_TWS_OUT_SCHEMA,
            outputMode="update",
            timeMode="none",
        )
        provider_key = "spark.sql.streaming.stateStore.providerClass"
        rocksdb = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
        prev = spark.conf.get(provider_key, None)
        spark.conf.set(provider_key, rocksdb)
        try:
            _run_to_table(updates, "q134_sink", "update")
        finally:
            if prev is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prev)
    else:
        updates = grouped.applyInPandasWithState(
            _user_stats_group_state,
            outputStructType=_TWS_OUT_SCHEMA,
            stateStructType="n BIGINT, cents BIGINT, max_cents BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        _run_to_table(updates, "q134_sink", "update")
    return _final_updates(spark, "q134_sink").orderBy("user_id")


def _user_stats_group_state(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """GroupState twin of _UserStatsProcessor — identical accumulation,
    used when the transformWithState runtime is unavailable."""
    n, cents, max_cents = state.get if state.exists else (0, 0, None)
    for pdf in pdfs:
        n += len(pdf)
        # same dirty-row contract as _UserStatsProcessor (they must stay
        # twins): NULLs count in n, add no cents, set no max
        c = (pdf["value"] * 100).round().astype("Int64")
        cents += int(c.sum())
        bm = c.max()
        if not pd.isna(bm):
            max_cents = int(bm) if max_cents is None else max(max_cents, int(bm))
    state.update((n, cents, max_cents))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [cents / 100.0 if max_cents is not None else None],
            "max_value": [max_cents / 100.0 if max_cents is not None else None],
        }
    )


@register(
    "q143_stream_join_then_window",
    oracle="""
    WITH matches AS (
      SELECT p.ts AS purchase_ts, p.value AS purchase_value
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    ),
    wm AS (
      SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 30 MINUTE AS w
    )
    SELECT time_bucket(INTERVAL '1 hour', purchase_ts) AS window_start,
           time_bucket(INTERVAL '1 hour', purchase_ts) + INTERVAL 1 HOUR
             AS window_end,
           count(*) AS n_conversions,
           sum(CAST(round(purchase_value * 100) AS BIGINT)) / 100.0
             AS converted_value
    FROM matches, wm
    WHERE time_bucket(INTERVAL '1 hour', purchase_ts) + INTERVAL 1 HOUR <= w
    GROUP BY 1, 2
    ORDER BY window_start
    """,
    tags=("streaming", "stream-stream-join", "chained-stateful", "watermark"),
)
def q143_stream_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming operators (Spark 3.4+ capability):
    a watermarked stream-stream interval join (q73's click→purchase
    attribution) feeding a tumbling-window aggregation in the SAME
    query — two state stores, one dataflow.

    Exactness: the availableNow drain processes all files, then the
    watermark advances to min(max click_ts, max purchase_ts) − 30 min
    (the global watermark is the minimum across both watermarked
    inputs), and append mode emits exactly the windows whose end is ≤
    that watermark — reproduced in the oracle's wm CTE, the same
    technique as q91's single-operator eviction oracle.

    Scale shape: join state is bounded by the 30-minute interval
    constraint (q73); the downstream agg holds one row per open
    (window) — both stores keyed and evicted by watermark. The join
    and the agg shuffle on different keys (user_id, then window), which
    is precisely why chaining matters: the engine pipelines the
    re-keying between stateful operators inside one micro-batch."""
    ev = _events_stream(spark, sf_dir)
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
            """
            user_id = p_user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL 30 MINUTES
            """
        ),
    )
    agg = (
        joined.groupBy(F.window("purchase_ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_conversions"),
            (
                F.sum(F.expr("CAST(round(purchase_value * 100) AS BIGINT)")) / 100.0
            ).alias("converted_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_conversions",
            "converted_value",
        )
    )
    _run_to_table(agg, "q143_sink", "append")
    return spark.table("q143_sink").orderBy("window_start")


def q152_sink_base(sf_dir: str) -> str:
    """Sink/checkpoint root for q152, shared with bench.py (which resets
    it before a cold run so the cold number measures the stream, not a
    checkpoint no-op read-back). See :func:`fp_stream_root` for the
    fingerprint/pruning discipline."""
    return fp_stream_root(
        "mms_stream_sink", sf_dir, "events.parquet",
        missing_hint="the streaming file sink reads the events table "
        "of the given sf_dir",
    )


def fp_stream_root(
    label: str, sf_dir: str, src_name: str, missing_hint: str | None = None
) -> str:
    """Per-(query-family, fixture-fingerprint) stream state root under
    /tmp — shared by q152's sink, q162's incremental-dedup tree, and
    q163's admission tree, so logically independent runs (different
    fixtures, or the same fixture regenerated) never contend for one
    fixed directory; same-fingerprint runs still serialize on the
    tree lock, which is the correct remaining exclusion.

    The path embeds a fingerprint (size+mtime) of the source file: if
    the testdata is regenerated in place, an old checkpoint would still
    consider the source consumed and return STALE contents computed
    from the previous data. A new fingerprint gives a fresh tree,
    mirroring _events_stream's stale-symlink re-point; SIBLING
    fingerprints of the same sf_dir (state of a since-regenerated
    source) are pruned here once IDLE for _SINK_PRUNE_AGE_S, so
    regenerating testdata cannot accumulate orphaned trees under /tmp
    forever. The age gate is the concurrency guard: a sibling
    fingerprint can belong to another LIVE process that stat'ed the
    source just before a regeneration — its stream is actively writing
    (recent mtimes throughout its checkpoint tree), so an
    unconditional prune would delete a running query's state out from
    under it. Idle-for-an-hour trees are orphans by definition (a
    micro-batch commits every few seconds while a stream lives).
    Production analog: checkpoint identity is tied to the source
    prefix's manifest generation, and retired generations are
    garbage-collected after a grace period, never synchronously with
    the cutover."""
    src = os.path.join(sf_dir, src_name)
    try:
        st = os.stat(src)
    except FileNotFoundError as e:
        hint = f" — {missing_hint}" if missing_hint else ""
        raise FileNotFoundError(
            f"{label} source file missing: {src}{hint}"
        ) from e
    sf_root = os.path.join(
        tempfile.gettempdir(),
        label,
        "v1",
        sf_dir.strip("/").replace("/", "_"),
    )
    fp = f"{st.st_size}_{st.st_mtime_ns}"
    if os.path.isdir(sf_root):
        import shutil
        import time

        cutoff = time.time() - _SINK_PRUNE_AGE_S
        for stale in os.listdir(sf_root):
            if stale == fp or stale.endswith(".lock"):
                continue
            p = os.path.join(sf_root, stale)
            if _tree_newest_mtime(p) < cutoff:
                # delete only while HOLDING the sibling's lock: the
                # idle-age gate protects against a LIVE stream (recent
                # mtimes), the lock protects against a process that
                # acquired the tree but hasn't written yet — the gap
                # the age gate alone cannot see. Non-blocking: if the
                # lock is held, the tree is live and is skipped.
                # the 0-byte .lock sibling is deliberately left behind:
                # unlinking a held lock file lets a waiter flock the
                # orphaned inode while a newcomer creates (and locks) a
                # fresh one — two holders. Orphan lock files are inert
                # and bounded by the number of source regenerations.
                with tree_lock(p, blocking=False) as held:
                    if held:
                        shutil.rmtree(p, ignore_errors=True)
    # Legacy sweep: pre-v1 revisions of q115/q162/q163 kept their state
    # DIRECTLY under <tmp>/<label>/ (src/ckpt/out/...), leased by the
    # sibling <label>.lock. Those trees are invisible to the
    # fingerprint-level sweep above (it only scans inside v1/<sfdir>),
    # so a box that ran the old code accumulates them forever. Same
    # discipline as the main sweep: delete only entries that are idle
    # past the age gate AND only while holding the legacy root's own
    # lock (a live old-revision process holds it; non-blocking probe
    # skips). "v1" and lock files are the new layout — never touched.
    label_root = os.path.join(tempfile.gettempdir(), label)
    if os.path.isdir(label_root):
        import shutil
        import time

        cutoff = time.time() - _SINK_PRUNE_AGE_S
        legacy = [
            e for e in os.listdir(label_root)
            if e != "v1" and not e.endswith(".lock")
        ]
        if legacy and all(
            _tree_newest_mtime(os.path.join(label_root, e)) < cutoff
            for e in legacy
        ):
            with tree_lock(label_root, blocking=False) as held:
                if held:
                    for e in legacy:
                        p = os.path.join(label_root, e)
                        if os.path.isdir(p):
                            shutil.rmtree(p, ignore_errors=True)
                        else:
                            try:
                                os.unlink(p)
                            except OSError:
                                pass
    return os.path.join(sf_root, fp)


# Orphaned sibling checkpoint+sink trees are pruned only after this
# much IDLE time (no write anywhere in the tree) — long enough that a
# live stream (micro-batches commit every few seconds) can never look
# idle, short enough that /tmp doesn't accumulate regeneration orphans.
_SINK_PRUNE_AGE_S = 3600


# Default blocking-acquire timeout. A module constant (not a default
# argument baked at def time) so tests can shrink it to prove the
# lock-respecting paths raise instead of hanging.
TREE_LOCK_TIMEOUT_S = 600.0


@contextmanager
def tree_lock(tree_path: str, blocking: bool = True, timeout_s: float | None = None):
    """Inter-PROCESS advisory lock on a shared checkpoint/sink tree.

    Structured Streaming's local-FS checkpoint has no cross-process
    mutual exclusion: two processes driving a query off the same
    checkpointLocation interleave offset/commit writes and corrupt the
    exactly-once contract (observed: a concurrent verify session on the
    box broke the crash-kill suite, VERIFY_JUDGE_r08). The lock is an
    ``fcntl.flock`` on a 0-byte ``<tree>.lock`` SIBLING of the tree
    (inside the tree it would die with every reset), so holding it
    survives the tree being recreated, and the kernel releases it on
    process death — a crash-killed runner never wedges the tree, which
    the crash-kill tests rely on.

    Yields True when the lock is held. ``blocking=True`` polls up to
    ``timeout_s`` then raises TimeoutError (a deadlock surfaced beats a
    silent corruption); ``blocking=False`` yields False immediately
    when another process holds it (the prune path's probe).

    Production analog: the single-writer-per-checkpoint rule every
    managed streaming runtime enforces via job-level leases; on a
    shared POSIX FS, flock is that lease.
    """
    import fcntl

    if timeout_s is None:
        timeout_s = TREE_LOCK_TIMEOUT_S
    lock_path = tree_path.rstrip("/") + ".lock"
    os.makedirs(os.path.dirname(lock_path), exist_ok=True)
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    held = False
    try:
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                held = True
                break
            except OSError:
                if not blocking:
                    break
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"could not lock {lock_path} within {timeout_s}s — "
                        "another process is driving this checkpoint tree"
                    )
                time.sleep(0.2)
        yield held
    finally:
        try:
            if held:
                fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)


def q152_reset(sf_dir: str) -> None:
    """Delete q152's checkpoint+sink tree (bench.py's cold-run reset),
    under the tree lock so a reset can never rip a live run's
    checkpoint out from under another process."""
    import shutil

    base = q152_sink_base(sf_dir)
    with tree_lock(base):
        shutil.rmtree(base, ignore_errors=True)


def _tree_newest_mtime(path: str) -> float:
    """Newest mtime anywhere in a directory tree (the tree's
    last-write time). Checkpoint trees are small (dozens of files), so
    the walk is cheap; unreadable entries count as 'just written' so a
    racing writer is never treated as idle."""
    try:
        newest = os.path.getmtime(path)
    except OSError:
        return float("inf")
    for root_, dirs, files in os.walk(path):
        for n in dirs + files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root_, n)))
            except OSError:
                return float("inf")
    return newest


@register(
    "q152_stream_file_sink",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
             time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
             count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
               AS total_value
      FROM events
      GROUP BY 1, 2
    ),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS watermark FROM events)
    SELECT window_start, window_end, n_events, total_value
    FROM agg, wm
    WHERE window_end <= watermark
    ORDER BY window_start
    """,
    tags=("streaming", "sink", "exactly-once", "checkpoint"),
)
def q152_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed parquet FILE sink — the production exactly-once
    path (the memory sinks elsewhere in this module are observation
    harnesses). Watermark-closed hourly aggregates stream into a
    parquet directory under a persistent checkpoint; the query returns
    the files read back, so the driver verifies the SINK's contents,
    not the in-memory result.

    Exactly-once contract: the checkpoint records which source files
    each committed batch consumed and the sink's file manifest — a
    re-run (same checkpoint, no new source data) schedules zero new
    batches and rewrites nothing, so the directory's contents are
    stable across restarts (pinned by
    tests/test_streaming.py::test_file_sink_rerun_is_idempotent).
    At scale this is the object-store landing pattern: one writer per
    state partition, manifest-committed files, downstream readers see
    only committed data."""
    base = q152_sink_base(sf_dir)
    out, ck = os.path.join(base, "data"), os.path.join(base, "checkpoint")
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")) / 100.0).alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        # tree_lock: the checkpoint tree is shared ACROSS PROCESSES
        # (that is the point — restart/recovery finds prior state), so
        # concurrent runs against the same fingerprint serialize here
        # instead of interleaving checkpoint writes. The second runner
        # proceeds after the first finishes and its availableNow pass
        # is the exactly-once no-op (checkpoint: nothing new).
        with tree_lock(base):
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            LAST_QUERY["q152_file_sink"] = q
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.parquet(out).orderBy("window_start")


# --- streaming incremental dedup -------------------------------------------

def _incr_dedup_oracle() -> str:
    from ..plans.dedup import INCR_DEDUP_ORACLE

    return INCR_DEDUP_ORACLE


@register(
    "q162_stream_incremental_dedup",
    oracle=_incr_dedup_oracle(),
    tags=("streaming", "dedup", "incremental", "foreachbatch",
          "training-pipeline"),
)
def q162_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental dedup — the crawl-ingest shape of q161:
    the incoming documents arrive as a file STREAM in several
    micro-batches, and ``foreachBatch`` classifies each one against
    the standing corpus ('exact' / 'near_dup' / 'new') using
    :func:`~..plans.dedup.classify_increment` with the corpus's
    maintained index artifacts (content-hash table + LSH band table,
    built ONCE before the stream and reused by every micro-batch).

    Why foreachBatch and not a stream-static join: the asymmetry that
    makes q161 scale is "broadcast the increment, never shuffle the
    corpus". A declarative stream-static join would put the corpus on
    the probe side of each micro-batch's join; foreachBatch lets each
    micro-batch run the exact batch plan q161 runs — batch hashes and
    band keys broadcast, corpus-side tables partition-pruned static
    artifacts — which is the production ingest loop (classify, admit
    the 'new' docs, append their bands to the band table; PLANS.md
    "standing-corpus dedup lifecycle" step 2).

    Exactly-once: each micro-batch OVERWRITES its own
    ``batch_id=<id>`` output partition, so a foreachBatch redelivery
    after a crash rewrites the same rows instead of appending
    duplicates — the q115 idempotent-sink discipline with directory
    granularity standing in for the pointer file. The whole tree is
    process-leased (:func:`tree_lock`), closing the shared-/tmp
    hazard the crash-kill suite guards.

    Correctness: classification is per-document and the corpus is
    static across the stream, so the result is independent of
    micro-batch boundaries and the streamed union equals batch q161 —
    both check against the SAME SQL oracle (stream == batch ==
    oracle). Reference analog: the golden pipeline's check-then-add
    merge discipline (master_splitmerge.go:14-51), run incrementally.
    """
    import shutil

    from ..plans.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
        classify_increment,
        lsh_bands_for,
        norm_text_col,
    )
    from ..sources.io import ensure_reader_confs, load_table

    ensure_reader_confs(spark)
    # fingerprint-keyed root (fp_stream_root): two sessions running
    # q162 against DIFFERENT fixtures (or a regenerated one) get
    # disjoint trees and never serialize on the lock below
    root = fp_stream_root("mms_incr_stream", sf_dir, "documents.parquet")
    src_dir = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    out_dir = os.path.join(root, "out")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == INCR_BATCH_REM
    corpus = docs.where(~is_batch)

    # The corpus-side index artifacts, built once for the whole stream:
    # the memoized whole-corpus band table sliced to corpus rows
    # (per-row banding makes the slice identical to banding the corpus
    # alone), and the content-hash table as one narrow pass. Both are
    # what a production pipeline maintains ALONGSIDE the corpus; the
    # hash table is checkpointed so micro-batches don't re-hash.
    corpus_bands = lsh_bands_for(spark, sf_dir).where(~is_batch)
    corpus_hashes = (
        corpus.select("doc_id", F.md5(norm_text_col("text")).alias("h"))
        .localCheckpoint(eager=True)
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS * 2))
    try:
        with tree_lock(root):
            # Fresh tree per invocation (q115 discipline): the query's
            # contract is "stream the whole increment from scratch".
            for sub in (src_dir, ckpt, out_dir):
                shutil.rmtree(sub, ignore_errors=True)
            # Re-shard the increment so the file source yields several
            # micro-batches (one file would collapse to a single batch
            # and never exercise the incremental loop).
            docs.where(is_batch).repartition(4, "doc_id").write.mode(
                "overwrite"
            ).parquet(src_dir)

            def classify(batch: DataFrame, batch_id: int) -> None:
                out = classify_increment(
                    batch,
                    corpus,
                    corpus_bands=corpus_bands,
                    verify_docs=docs,
                    corpus_hashes=corpus_hashes,
                )
                out.write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"batch_id={batch_id}")
                )

            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            q = (
                stream.writeStream.foreachBatch(classify)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            LAST_QUERY["q162_sink"] = q
            # Detach the result from the shared tree BEFORE the lock
            # releases (increment-sized, so the checkpoint is cheap):
            # a concurrent q162 in another process resets the tree the
            # moment it acquires the lock, and a lazily-read result
            # would break under the caller.
            res = (
                spark.read.parquet(out_dir)
                .select("doc_id", "status", "match_doc_id", "jaccard")
                .localCheckpoint(eager=True)
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        corpus_hashes.unpersist()

    return res.orderBy("doc_id")


# --- streaming corpus admission (the lifecycle's ingest loop) --------------

def stream_admit_increments(
    spark: SparkSession,
    initial_corpus: DataFrame,
    increments: list[DataFrame],
    root: str,
) -> DataFrame:
    """The standing-corpus ADMISSION loop as one streaming job — the
    lifecycle's step 2 (PLANS.md) with the corpus EVOLVING across
    micro-batches, where q162 holds it fixed: each staged increment
    arrives as its own micro-batch (one file each, mtime-ordered),
    foreachBatch classifies it against the CURRENT corpus state, and
    the 'new' docs are admitted — docs, band rows, and content hashes
    appended — before the next increment is processed.

    State layout (all under ``root``, process-leased): ``docs``,
    ``bands``, ``hashes``, and the classification ``log``, each an
    APPEND-ONLY parquet tree of ``batch_id=N`` partitions (seeded at
    ``batch_id=-1`` from the initial corpus) with a driver-side
    ``meta.json`` pointer recording the last APPLIED batch. Readers
    filter ``batch_id <= applied`` (partition-pruned), so a crash
    between a partition write and the pointer flip leaves a readable
    consistent state, and a foreachBatch redelivery overwrites its own
    partition then re-flips — the q115 exactly-once discipline with
    admission appends instead of ping-pong rewrites. Appends are
    increment-sized; the corpus is NEVER rewritten (at 100 TB these
    are partition adds to the corpus/band/hash tables, exactly how the
    maintained artifacts grow in production).

    Returns the classification log: (increment, doc_id, status,
    match_doc_id, jaccard), increment = 1-based processing order.

    The exact tier keys on q148's TOKEN-SEQUENCE collapse key
    (dedup.token_seq_key_col), NOT q161/q162's case-folding norm_text
    key: admission's contract is rebuild-equivalence — the admitted
    corpus must equal a from-scratch q148 rebuild over the union — and
    q148 keeps case-variant docs (tokenization is case-sensitive), so
    a case-folding exact tier here would drop docs the rebuild keeps.
    With that key, greedy admission never merges two already-admitted
    docs, so with clique-shaped groups and ids growing batch-over-batch
    the final corpus EQUALS the rebuild (pinned by
    tests/test_streaming.py::test_stream_admission_equals_full_rebuild,
    mirroring the batch chain's equivalence contract)."""
    import json
    import shutil

    from ..plans.dedup import _lsh_bands_df, classify_increment, token_seq_key_col
    from ..sources.io import ensure_reader_confs

    ensure_reader_confs(spark)
    src_dir = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    meta_path = os.path.join(root, "meta.json")
    tables = {n: os.path.join(root, n) for n in ("docs", "bands", "hashes", "log")}

    def _applied() -> int:
        if not os.path.exists(meta_path):
            return -1
        return json.loads(open(meta_path).read())["batch_id"]

    def _flip(batch_id: int) -> None:
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps({"batch_id": batch_id}))
        os.replace(tmp, meta_path)  # the atomic commit

    def _part(table: str, batch_id: int) -> str:
        return os.path.join(tables[table], f"batch_id={batch_id}")

    def _hashes(d: DataFrame) -> DataFrame:
        return d.select("doc_id", token_seq_key_col().alias("h"))

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS * 2))
    try:
        with tree_lock(root):
            shutil.rmtree(root, ignore_errors=True)
            os.makedirs(src_dir)
            # Seed the state from the initial corpus (batch_id=-1).
            seed = initial_corpus.select("doc_id", "text")
            seed.write.parquet(_part("docs", -1))
            _lsh_bands_df(seed).write.parquet(_part("bands", -1))
            _hashes(seed).write.parquet(_part("hashes", -1))
            _flip(-1)
            # Stage each increment as ONE file with strictly increasing
            # mtimes — the file source processes oldest-first, so the
            # staged order IS the micro-batch order.
            t0 = time.time() - 60 * len(increments)
            for i, inc in enumerate(increments):
                tmp = os.path.join(root, f"_stage{i}")
                inc.select("doc_id", "text").coalesce(1).write.parquet(tmp)
                part = next(
                    f for f in os.listdir(tmp) if f.endswith(".parquet")
                )
                dst = os.path.join(src_dir, f"inc_{i:04d}.parquet")
                shutil.move(os.path.join(tmp, part), dst)
                shutil.rmtree(tmp)
                os.utime(dst, (t0 + 30 * i, t0 + 30 * i))

            def admit(batch: DataFrame, batch_id: int) -> None:
                applied = _applied()
                if batch_id <= applied:
                    return  # replayed batch: already admitted, skip
                live = F.col("batch_id") <= F.lit(applied)
                docs_s = spark.read.parquet(tables["docs"]).where(live)
                corpus = docs_s.select("doc_id", "text")
                cls = classify_increment(
                    batch,
                    corpus,
                    corpus_bands=spark.read.parquet(tables["bands"])
                    .where(live)
                    .select("doc_id", "band_idx", "band_key"),
                    corpus_hashes=spark.read.parquet(tables["hashes"])
                    .where(live)
                    .select("doc_id", "h"),
                    verify_docs=batch.select("doc_id", "text").unionByName(corpus),
                    exact_key=token_seq_key_col(),
                ).localCheckpoint(eager=True)  # one evaluation, 2 consumers
                cls.write.mode("overwrite").parquet(_part("log", batch_id))
                new_docs = batch.join(
                    cls.where(F.col("status") == "new"), "doc_id", "left_semi"
                ).select("doc_id", "text").localCheckpoint(eager=True)
                new_docs.write.mode("overwrite").parquet(_part("docs", batch_id))
                _lsh_bands_df(new_docs).write.mode("overwrite").parquet(
                    _part("bands", batch_id)
                )
                _hashes(new_docs).write.mode("overwrite").parquet(
                    _part("hashes", batch_id)
                )
                _flip(batch_id)

            schema = spark.read.parquet(src_dir).schema
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
                .writeStream.foreachBatch(admit)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            LAST_QUERY["admit_sink"] = q
            res = (
                spark.read.parquet(tables["log"])
                .select(
                    (F.col("batch_id") + 1).cast("int").alias("increment"),
                    "doc_id",
                    "status",
                    "match_doc_id",
                    "jaccard",
                )
                .localCheckpoint(eager=True)  # detach before lock release
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return res.orderBy("increment", "doc_id")


ADMIT_REM_1 = 7  # first streamed increment:  doc_id % 10 == 7
ADMIT_REM_2 = 8  # second streamed increment: doc_id % 10 == 8


def _q163_oracle() -> str:
    from ..plans.dedup import _incr_stage_sql, _lsh_bands_sql, token_seq_key_sql

    k = token_seq_key_sql("text")
    return f"""
    WITH {_lsh_bands_sql()},
    s1batch AS MATERIALIZED (
      SELECT doc_id FROM documents WHERE doc_id % 10 = {ADMIT_REM_1}),
    s1corpus AS MATERIALIZED (
      SELECT doc_id FROM documents
      WHERE doc_id % 10 NOT IN ({ADMIT_REM_1}, {ADMIT_REM_2})),
    {_incr_stage_sql('s1', 's1batch', 's1corpus', key_sql=k)},
    s2batch AS MATERIALIZED (
      SELECT doc_id FROM documents WHERE doc_id % 10 = {ADMIT_REM_2}),
    s2corpus AS MATERIALIZED (
      SELECT doc_id FROM s1corpus
      UNION
      SELECT doc_id FROM s1cls WHERE status = 'new'),
    {_incr_stage_sql('s2', 's2batch', 's2corpus', key_sql=k)}
    SELECT * FROM (
      SELECT CAST(1 AS INTEGER) AS increment, doc_id, status,
             match_doc_id, jaccard
      FROM s1cls
      UNION ALL
      SELECT CAST(2 AS INTEGER) AS increment, doc_id, status,
             match_doc_id, jaccard
      FROM s2cls
    )
    ORDER BY increment, doc_id
    """


@register(
    "q163_stream_corpus_admission",
    oracle=_q163_oracle(),
    tags=("streaming", "dedup", "incremental", "foreachbatch", "stateful",
          "training-pipeline"),
)
def q163_stream_corpus_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus admission with an EVOLVING corpus — the step
    q162 deliberately freezes: two crawl increments (id protocol:
    doc_id % 10 == 7, then == 8) stream through
    :func:`stream_admit_increments`, and increment 2 is classified
    against the corpus AS EXTENDED by increment 1's admitted docs —
    a doc in increment 2 can be an exact/near dup OF AN INCREMENT-1
    DOC. The corpus state (docs + band table + hash table) grows by
    append-only batch partitions; nothing is rewritten or re-banded.

    The oracle replays the evolution as two CHAINED classification
    stages (dedup.py's _incr_stage_sql — stage 2's corpus id-set is
    stage 1's corpus UNION its 'new' docs), which is exact because the
    increment ORDER is fixed by the protocol and enforced by staged
    file mtimes. This makes corpus evolution — genuinely stateful
    streaming — still fully SQL-oracle-checkable.

    Production shape: increments are pre-deduped internally (q148 on
    the batch) before admission; here they stream as-is, so batch-
    internal dups admit together — classification never compares
    within an increment (q161's contract). The exact tier (Spark AND
    oracle) keys on q148's token-sequence collapse key, not q161's
    case-folding norm_text key — admission's contract is rebuild-
    equivalence, and q148 keeps case-variant docs (see
    stream_admit_increments). Reference analog: the check-then-add
    merge loop (master_splitmerge.go:14-51), run as a stream."""
    from ..sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    rem = F.col("doc_id") % 10
    # fingerprint-keyed like q152/q162: logically independent runs
    # (different or regenerated fixtures) get disjoint state trees
    root = fp_stream_root("mms_admit", sf_dir, "documents.parquet")
    return stream_admit_increments(
        spark,
        docs.where(~rem.isin(ADMIT_REM_1, ADMIT_REM_2)),
        [docs.where(rem == ADMIT_REM_1), docs.where(rem == ADMIT_REM_2)],
        root,
    )


# --- streaming ANN serving (the online half of the index lifecycle) --------

ANN_SERVE_FRAC = 0.05  # deterministic hash-sample of query vectors
ANN_SERVE_THR = int(ANN_SERVE_FRAC * 65536)


def _ann_serve_oracle() -> str:
    from ..plans.similarity import (
        ANN_K,
        N_PROBE,
        _ivf_codebook_sql,
        cosine_sql,
    )

    from ..plans._util import hex_int_sql

    sample = hex_int_sql("md5('serve1:' || CAST(vec_id AS VARCHAR))", 1, 4)
    return f"""
    WITH {_ivf_codebook_sql()},
    sims AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {cosine_sql('e.embedding', 'c.cv')} AS sim
      FROM embeddings e, cent c
    ),
    assign AS (
      SELECT vec_id, embedding, cid AS cluster
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cid) AS rn
            FROM sims)
      WHERE rn = 1
    ),
    queries AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE {sample} < {ANN_SERVE_THR}
    ),
    qcell AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.qv, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {cosine_sql('q.qv', 'c.cv')} DESC,
                                           c.cid) AS rk
        FROM queries q, cent c)
      WHERE rk <= {N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             {cosine_sql('a.embedding', 'p.qv')} AS cs
      FROM assign a JOIN qcell p ON a.cluster = p.cid
      WHERE a.vec_id != p.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cs,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cs DESC, vec_id) AS INTEGER)
               AS rnk
      FROM scored
    )
    SELECT query_id, rnk, vec_id, round(cs, 4) AS cos_sim
    FROM ranked WHERE rnk <= {ANN_K}
    ORDER BY query_id, rnk
    """


@register(
    "q168_stream_ann_serve",
    oracle=_ann_serve_oracle(),
    tags=("streaming", "similarity", "ivf", "ann", "serving"),
)
def q168_stream_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN serving — the ONLINE half of the index lifecycle
    the batch ANN queries freeze: query vectors arrive as a file
    stream in several micro-batches, and ``foreachBatch`` answers each
    batch from the FITTED IVF index (:func:`~..plans.similarity.
    ivf_index_for` — memoized, attachable from a saved index, never
    refit on the serve path) via :func:`~..plans.similarity.
    ivf_serve_hits`: rank the batch's queries against the broadcast
    codebook, probe only their nearest cells' lists, top-k per query.

    Why foreachBatch and not a stream-static join: same asymmetry as
    q162 — the corpus-side artifacts (codebook + inverted lists) are
    static and must stay on the build/partition-pruned side; each
    micro-batch broadcasts only its own probe set, which is the
    production request-serving loop (attach once, serve forever).

    Exactly-once: each micro-batch OVERWRITES its own ``batch_id=<id>``
    output partition (q162's idempotent-redelivery discipline); the
    whole tree is process-leased and fingerprint-keyed.

    Correctness: serving is per-query and the index is static across
    the stream, so the streamed union equals the one-shot batch serve
    over the same query set — stream == batch == the SQL oracle, which
    replays codebook, lists, cell probe, and per-query top-k."""
    import shutil

    from ..plans.similarity import (
        ANN_K,
        ivf_index_for,
        ivf_serve_hits,
        sample_queries,
    )
    from ..sources.io import ensure_reader_confs, load_table

    ensure_reader_confs(spark)
    root = fp_stream_root("mms_ann_serve", sf_dir, "embeddings.parquet")
    src_dir = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    out_dir = os.path.join(root, "out")

    e = load_table(spark, sf_dir, "embeddings")
    cent, assign = ivf_index_for(spark, sf_dir)
    queries = sample_queries(e, ANN_SERVE_FRAC, tag="serve1")

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS * 2))
    try:
        with tree_lock(root):
            for sub in (src_dir, ckpt, out_dir):
                shutil.rmtree(sub, ignore_errors=True)
            # several micro-batches: one file per shard, one shard per
            # trigger — the request-batch arrival shape
            queries.repartition(4, "query_id").write.mode("overwrite").parquet(
                src_dir
            )

            def serve(batch: DataFrame, batch_id: int) -> None:
                # keep_rank: report the rank the top-k filter already
                # computed instead of paying a second window sort
                hits = ivf_serve_hits(assign, cent, batch, ANN_K, keep_rank=True)
                out = hits.select(
                    "query_id",
                    F.col("_rk").alias("rnk"),
                    "vec_id",
                    F.round("_sim", 4).alias("cos_sim"),
                )
                out.write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"batch_id={batch_id}")
                )

            stream = (
                spark.readStream.schema(queries.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            q = (
                stream.writeStream.foreachBatch(serve)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            LAST_QUERY["q168_sink"] = q
            if not glob.glob(os.path.join(out_dir, "batch_id=*")):
                # empty query sample → no micro-batch ever ran and
                # out_dir was never created; return an empty result
                # with the serve schema instead of a read error
                res = spark.createDataFrame(
                    [], "query_id bigint, rnk int, vec_id bigint, cos_sim double"
                )
            else:
                res = (
                    spark.read.parquet(out_dir)
                    .select("query_id", "rnk", "vec_id", "cos_sim")
                    .localCheckpoint(eager=True)
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    return res.orderBy("query_id", "rnk")


def q176_ingested_tree(spark: SparkSession, lists_dir: str) -> DataFrame:
    """The increment tree as a serving DataFrame: ``batch_id=N/
    cluster=K`` parquet partitions discovered as partition columns,
    ``cluster`` cast back to the fitted bigint (partition discovery
    re-infers int from directory names — the read_index_table class of
    schema drift, applied here by hand since the tree is a stream sink
    rather than a saved family). An empty tree serves as an empty
    DataFrame with the lists schema so the union — and a fresh
    corpus's serve path — still plans. The guard globs for actual
    parquet FILES, not just ``batch_id=`` directories: a zero-row
    micro-batch (e.g. the increment carve is empty because a refreshed
    q207 artifact is attached) creates its batch directory with only
    _SUCCESS inside, and a directory-level check would hand the reader
    a tree it cannot infer a schema from."""
    if not glob.glob(os.path.join(lists_dir, "batch_id=*", "*", "*.parquet")):
        return spark.createDataFrame(
            [],
            "vec_id bigint, label string, cluster bigint, "
            "embedding array<float>",
        )
    return spark.read.parquet(lists_dir).select(
        "vec_id",
        "label",
        F.col("cluster").cast("long").alias("cluster"),
        "embedding",
    )


@register(
    "q176_stream_index_ingest",
    oracle=None,  # set below: shares q175's oracle — stream == batch == SQL
    tags=("streaming", "similarity", "ivf", "ann", "incremental",
          "training-pipeline"),
)
def q176_stream_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING index ingest — the streaming half of q175's freshness
    story, and the ANN twin of q163's corpus admission: increment
    vectors arrive as a file stream in micro-batches, each batch is
    assigned to the STANDING index's codebook (broadcast argmax over
    the BATCH only — the standing tier never recomputes, never
    reshuffles) and appended to the increment tree as its own
    ``batch_id=<id>/cluster=<k>`` parquet partitions (whole-batch
    overwrite → idempotent redelivery, the q162 exactly-once
    discipline; cluster sub-partitioning is FAISS's IVF layout, so
    probed-cell serves PRUNE FILES on the increments exactly as they
    do on the standing lists). After the stream drains, the pinned
    query is served from standing artifact ∪ tree, both sides pruned
    to the probed cells, with q175's in-band recall contract.

    The STANDING tier is the ninth persisted family
    (``ivf_standing_index_for`` — fitted once per session/source or
    attached from disk); this query never refits or re-seeds it. The
    serve materializes the probed cell ids (≤ N_PROBE rows, ranked
    against the k-row broadcast codebook — the same documented
    tiny-probe class as graph.py's convergence reads) so the cell
    predicate is STATIC and both parquet tiers prune at planning time
    (PartitionFilters — pinned in tests/test_plan_shapes.py).

    Because assignment is per-vector against a static codebook, the
    streamed ingest lands EXACTLY the lists q175 builds in one shot —
    stream == batch == the SQL oracle (this query registers q175's
    oracle verbatim), the q162/q163 equivalence discipline applied to
    the ANN index lifecycle.

    Scale shape: per micro-batch cost is the batch's rows × k
    centroids, nothing else; the tree is append-only with at-once
    idempotent batch partitions (compacted periodically by q205);
    serve reads probed-cell files only from both tiers."""
    root = _stage_ivf_lists_tree(spark, sf_dir, "q176_sink")
    return _serve_ivf_ingest_view(spark, sf_dir, _active_parts_dir(root))


def _stage_ivf_lists_tree(spark: SparkSession, sf_dir: str, sink_key: str) -> str:
    """q176's ingest: stream the increment vectors, assign each batch
    to the standing codebook, land idempotent ``batch_id=N/cluster=K``
    partitions, then flip the ACTIVE pointer to the fresh tree.
    Returns the tree ROOT (resolve the tree itself through
    :func:`_active_parts_dir`). Shared with q205, whose compaction
    rewrites the tree behind the same pointer."""
    import shutil

    from ..plans._util import standing_hex
    from ..plans.similarity import (
        _assign_to_codebook,
        _standing_key,
        _with_cnorm,
        ivf_standing_index_for,
        valid_embeddings,
    )
    from ..sources.io import ensure_reader_confs, load_table

    ensure_reader_confs(spark)
    root = fp_stream_root("mms_ivf_ingest", sf_dir, "embeddings.parquet")
    src_dir = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    lists_dir = os.path.join(root, "lists")

    # the same ingestion gate every ANN family applies (EMB_VALID_SQL
    # twin): malformed vectors never enter fit, lists, or ground truth.
    # The increment carve is the ARTIFACT's stamped boundary (q207's
    # refreshed index streams a provably empty ingest).
    e = valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    # the standing tier: fitted artifact (or attached — no refit here)
    cent, _slists = ivf_standing_index_for(spark, sf_dir)
    incr = e.where(~(_standing_key() < standing_hex(cent))).select(
        "vec_id", "label", "embedding"
    )
    centn = _with_cnorm(cent).localCheckpoint(eager=True)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS * 2))
    try:
        with tree_lock(root):
            for sub in (src_dir, ckpt, lists_dir, lists_dir + "_compact"):
                shutil.rmtree(sub, ignore_errors=True)
            # several micro-batches: one file per shard per trigger
            incr.repartition(4, "vec_id").write.mode("overwrite").parquet(src_dir)

            def ingest(batch: DataFrame, batch_id: int) -> None:
                # cluster sub-partitioning inside the batch partition:
                # the probe predicate becomes a directory prune
                _assign_to_codebook(batch, centn).write.mode(
                    "overwrite"
                ).partitionBy("cluster").parquet(
                    os.path.join(lists_dir, f"batch_id={batch_id}")
                )

            stream = (
                spark.readStream.schema(incr.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            q = (
                stream.writeStream.foreachBatch(ingest)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            LAST_QUERY[sink_key] = q
            # a zero-batch drain never creates the dir: materialize it
            # so 'legitimately empty' is representable, then flip the
            # pointer — from here on readers resolve through ACTIVE
            os.makedirs(lists_dir, exist_ok=True)
            _parts_pointer_write(root, os.path.basename(lists_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return root


def _serve_ivf_ingest_view(
    spark: SparkSession, sf_dir: str, lists_dir: str
) -> DataFrame:
    """Serve q175's pinned-query view from standing artifact ∪ the
    ingested increment tree — the final probe/union/top-k q176 and
    q205 share (both register q175's oracle, so the view's shape is
    the one contract)."""
    from ..plans.similarity import (
        ANN_K,
        N_PROBE,
        QUERY_VEC_ID,
        Q175_RECALL_TARGET,
        _cos,
        _mark_exact_topk,
        _with_cnorm,
        _with_recall,
        cosine_col,
        ivf_standing_index_for,
        valid_embeddings,
    )
    from ..sources.io import ensure_reader_confs, load_table

    ensure_reader_confs(spark)
    e = valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    cent, slists = ivf_standing_index_for(spark, sf_dir)
    centn = _with_cnorm(cent).localCheckpoint(eager=True)
    tree = q176_ingested_tree(spark, lists_dir)

    # serve the pinned query from standing artifact ∪ ingested tree
    # (q175's contract). The probed cells materialize as a static
    # predicate: N_PROBE ids ranked against the k-row codebook — a
    # bounded driver-side read (k = 8 here; still trivial at k = 2^16)
    # that lets BOTH cluster-partitioned tiers file-prune at planning
    # time instead of row-filtering after the scan.
    probe = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .crossJoin(F.broadcast(centn))
        .select(
            "cid",
            F.expr(_cos("embedding", "cv", nb="_cn")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "cid")
        .limit(N_PROBE)
        .select("cid")
    )
    probed_cells = [r.cid for r in probe.collect()]
    combined = (
        slists.withColumn("is_new", F.lit(False))
        .unionByName(tree.withColumn("is_new", F.lit(True)))
        .where(F.col("cluster").isin(probed_cells))
    )
    qv = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    qsim = cosine_col("embedding", "qv")
    hits = (
        combined.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "label", "cluster", "is_new", qsim.alias("_sim"))
        .orderBy(F.col("_sim").desc(), "vec_id")
        .limit(ANN_K)
    )
    queries1 = e.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    marked = _mark_exact_topk(
        hits.withColumn("query_id", F.lit(QUERY_VEC_ID).cast("long")),
        e,
        queries1,
        ANN_K,
    )
    return _with_recall(
        marked, ANN_K, Q175_RECALL_TARGET, F.col("_sim").desc()
    ).select(
        "vec_id", "label", "cluster", "is_new",
        F.round("_sim", 4).alias("cos_sim"),
        "in_exact_topk", "recall_at_k", "recall_ok",
    )


# stream == batch == SQL: the streamed ingest provably lands the lists
# q175 builds in one shot, so q176 registers q175's oracle verbatim —
# the driver value-checks the streaming path against the same chained
# CTE (the q162/q163 equivalence discipline).
#
# ORACLE VALIDITY: the bound SQL carves at the DEFAULT standing
# boundary (Q175_STANDING_HEX). If a q207-refreshed artifact is
# ATTACHED in the same session, the engine carves at the artifact's
# stamped standing_hex and the value-check would mismatch by
# construction — the driver harness always runs in a fresh session
# (default artifact), and the lifecycle tests that do attach a
# refreshed artifact restore the session cache before any oracle run.
def _q176_bind_oracle() -> None:
    from ..plans.similarity import _q175_oracle
    from ..registry import REGISTRY

    REGISTRY["q176_stream_index_ingest"].oracle = _q175_oracle()


_q176_bind_oracle()


# --- q205: ANN ingest-tree compaction ---------------------------------------


@register(
    "q205_ann_ingest_compaction",
    oracle=None,  # set below: q175's oracle — compaction preserves the serve
    tags=("streaming", "similarity", "ivf", "ann", "maintenance",
          "incremental"),
)
def q205_ann_ingest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INGEST-TREE COMPACTION — q185's small-files lifecycle step
    applied to the LATENCY-SENSITIVE tier: q176's ``batch_id=N/
    cluster=K`` inverted-lists tree grows in files forever (one file
    set per micro-batch per touched cell), and every probed-cell serve
    plans one read per batch per cell. Because list membership is
    append-only facts (vector → cluster assignment against a STATIC
    codebook), the drained batches can be FOLDED into one consolidated
    ``batch_id=-2`` tier — still ``cluster=K``-partitioned, so the
    probe predicate keeps pruning files — without changing a single
    served row (tier membership, not batch id, marks a row
    ``is_new``, so the fold is invisible to the serve). After an
    ``availableNow`` drain every staged batch is committed, so this
    query folds the WHOLE tree; a live deployment would fold only the
    checkpoint-committed batch ids and leave in-flight ones under
    their own ``batch_id=N`` — same pointer discipline, smaller fold
    set.

    The swap is ATOMIC: the consolidated tree is written under its own
    directory, then the ACTIVE pointer flips in one ``os.replace``
    (:func:`_parts_pointer_write` — the q163/q185 discipline); a
    reader planning mid-compaction resolves either tree, both serving
    the identical view. The superseded tree is GC'd only AFTER the
    flip. (As with q185: the flip protects pointer RESOLUTION; a
    reader in another process that resolved the old tree before the
    flip races the GC — the single-writer-per-tree lease every managed
    streaming runtime enforces is the production guard, and
    ``tree_lock`` is that lease for the write half.)

    This query stages q176's tree, compacts it, and serves q175's
    pinned-query view from standing artifact ∪ COMPACTED tree —
    registering q175's oracle VERBATIM, so the driver value-checks
    that compaction preserved the serve exactly
    (tests/test_streaming.py additionally pins file-count shrinkage
    and row-identical pre/post serves).

    Scale shape: the fold reads the increment lists once and writes
    one file set per cluster (``hint("rebalance", "cluster")`` — one
    shuffle clustered by cell with AQE splitting hot cells, so the
    fold's width is never capped at the cell count); serve planning
    returns to O(probed cells) in stream age. At 100 TB this is the
    periodic OPTIMIZE that keeps the freshness tier's p99 flat while
    the stream runs forever.

    Reference analog: the reference's merge phase (master_splitmerge.go
    — many per-task files folded into one) run periodically against
    the live index instead of once per job."""
    root = _stage_ivf_lists_tree(spark, sf_dir, "q205_sink")
    return _q205_compact_and_serve(spark, sf_dir, root)


def _q205_compact_and_serve(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """q205's RECURRING arm — the fold + atomic pointer flip + serve a
    production deployment pays per compaction trigger. Split from the
    stream-drain staging (:func:`_stage_ivf_lists_tree`) so the bench
    prices the two separately: the drain is q176's ingest cost, paid
    once per stream, not per compaction."""
    import shutil

    with tree_lock(root):
        lists_dir = _active_parts_dir(root)
        compact_dir = os.path.join(root, "lists_compact")
        shutil.rmtree(compact_dir, ignore_errors=True)
        if glob.glob(os.path.join(lists_dir, "batch_id=*", "*", "*.parquet")):
            # fold every drained batch into the consolidated tier, one
            # file set per cluster so probed-cell serves keep pruning.
            # REBALANCE, not repartition (r18, the fitted_family save
            # note): a plain hash repartition on the k-valued cluster
            # key caps the fold's write parallelism at k tasks and
            # gives a skewed cell one giant file; the AQE rebalance
            # hint clusters identically AND splits hot cells.
            q176_ingested_tree(spark, lists_dir).hint(
                "rebalance", "cluster"
            ).write.mode("overwrite").partitionBy("cluster").parquet(
                os.path.join(compact_dir, "batch_id=-2")
            )
        else:  # legitimately empty tree: compact to an empty tree
            os.makedirs(compact_dir, exist_ok=True)
        _parts_pointer_write(root, os.path.basename(compact_dir))
        shutil.rmtree(lists_dir, ignore_errors=True)
    return _serve_ivf_ingest_view(spark, sf_dir, _active_parts_dir(root))


# compaction preserves the serve row-for-row, so q205 registers q175's
# oracle verbatim (the q185 discipline applied to the ANN tier).
# Same ORACLE VALIDITY caveat as q176's binding above: valid only with
# the default-fitted artifact (fresh session), which is how the driver
# harness runs.
def _q205_bind_oracle() -> None:
    from ..plans.similarity import _q175_oracle
    from ..registry import REGISTRY

    REGISTRY["q205_ann_ingest_compaction"].oracle = _q175_oracle()


_q205_bind_oracle()


# --- q181: streaming aggregate-snapshot maintenance -------------------------


def _parts_pointer_write(root: str, basename: str) -> None:
    """Atomically flip the ACTIVE-tree pointer (q163's meta-pointer
    discipline applied to the partials tree): write a tmp file, then
    ``os.replace`` — readers resolving through the pointer see either
    the old tree or the new one, never neither. This replaces the
    earlier two-rename directory swap, whose window (old tree moved
    aside, new not yet in place) could read as 'no tree'."""
    tmp = os.path.join(root, "ACTIVE.tmp")
    with open(tmp, "w") as f:
        f.write(basename)
    os.replace(tmp, os.path.join(root, "ACTIVE"))


def _active_parts_dir(root: str) -> str:
    """Resolve the ACTIVE partials tree through the pointer. A missing
    pointer, or a pointer naming a missing directory, fails LOUDLY:
    'tree missing' must be distinguishable from 'tree legitimately
    empty' — without the distinction a torn swap would silently serve
    a snapshot-only view with every streamed increment dropped."""
    ptr = os.path.join(root, "ACTIVE")
    if not os.path.exists(ptr):
        raise RuntimeError(
            f"no ACTIVE partials-tree pointer under {root} — the tree was "
            "never staged (run the q181 ingest) or a swap was torn before "
            "the pointer flip; refusing to serve a possibly-stale view"
        )
    with open(ptr) as f:
        base = f.read().strip()
    d = os.path.join(root, base)
    if not os.path.isdir(d):
        raise RuntimeError(
            f"ACTIVE partials-tree pointer names {base!r} but {d} does not "
            "exist — torn swap or manual deletion; restage the tree"
        )
    return d


def _q181_partials_tree(spark: SparkSession, parts_dir: str) -> DataFrame:
    """Read the streamed partials tree back, restoring the snapshot's
    column set (``batch_id`` is layout, not data). Empty tree (the
    directory EXISTS but no increments ever arrived) planes as an
    empty DataFrame with the partials schema so the merge still plans;
    a MISSING directory raises (see :func:`_active_parts_dir` — the
    two cases must not be conflated)."""
    if not os.path.isdir(parts_dir):
        raise RuntimeError(
            f"partials tree {parts_dir} does not exist — resolve trees "
            "through _active_parts_dir, never a guessed path"
        )
    if not glob.glob(os.path.join(parts_dir, "batch_id=*")):
        return spark.createDataFrame(
            [],
            "l_suppkey bigint, n_items bigint, sum_qty bigint, "
            "rev_cents bigint, ship_first timestamp_ntz, "
            "ship_last timestamp_ntz",
        )
    return spark.read.parquet(parts_dir).select(
        "l_suppkey", "n_items", "sum_qty", "rev_cents", "ship_first", "ship_last"
    )


@register(
    "q181_stream_agg_maintenance",
    oracle=None,  # set below: shares q178's oracle — stream == batch == SQL
    tags=("streaming", "maintenance", "incremental", "aggregation"),
)
def q181_stream_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING materialized-aggregate maintenance — the streaming half
    of q178's freshness story, completing the trilogy's symmetry
    (dedup q161/q162, ANN index q175/q176, relational aggregate
    q178/this): increment fact rows arrive as a file stream in
    micro-batches; each batch folds to the SAME mergeable partial
    shape the snapshot stores (count / exact-integer sums / min-max —
    one map-side-combined agg over the batch only) and lands as its
    own ``batch_id=<id>`` parquet partition (whole-batch overwrite →
    idempotent redelivery, the q162/q176 exactly-once discipline).
    After the drain, the view is served by merging the persisted
    standing snapshot (the tenth family, never rescanned, never
    refreshed here) with the streamed partials tree.

    Because the partial-merge algebra is associative and commutative
    over exact integers (tests/test_maintenance.py proves
    split-invariance), ANY batch boundary lands the same merged view —
    so this query registers q178's oracle VERBATIM: stream == batch ==
    SQL, value-checked by the driver.

    Scale shape: per micro-batch cost is one partial agg over the
    batch's rows (shuffle carries one row per touched group); the
    partials tree grows by O(groups-touched) per batch, NOT by rows;
    the serve-side merge reads snapshot + tree — both group-sized —
    and never the standing fact table. A periodic refresh would fold
    the tree into a new snapshot and truncate it (the q163 pointer-flip
    pattern); between refreshes this is the entire serving cost.

    Reference analog: the reference's combiner/reduce split
    (wc.go:64-74) with the combine running per micro-batch and the
    reduce at serve time."""
    parts_dir = _stage_agg_parts_tree(spark, sf_dir, "q181_sink")
    return _serve_agg_view(spark, sf_dir, parts_dir)


def _stage_agg_parts_tree(spark: SparkSession, sf_dir: str, sink_key: str) -> str:
    """q181's ingest: stream the increment rows and fold each
    micro-batch to an idempotent ``batch_id=`` partial partition.
    Returns the partials tree dir. Shared with q185, whose compaction
    rewrites this tree."""
    import shutil

    from ..plans._util import standing_hex
    from ..plans.maintenance import (
        _agg_split_key,
        _lineitem_partials,
        agg_snapshot_for,
    )
    from ..sources.io import ensure_reader_confs, load_table

    ensure_reader_confs(spark)
    root = fp_stream_root("mms_agg_stream", sf_dir, "lineitem.parquet")
    src_dir = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    parts_dir = os.path.join(root, "parts")

    li = load_table(spark, sf_dir, "lineitem")
    # carve at the SNAPSHOT's stamped boundary (not the module
    # constant) so the streamed increments and the snapshot the serve
    # merges with can never disagree about where standing ends
    boundary = standing_hex(agg_snapshot_for(spark, sf_dir))
    incr = li.where(~(_agg_split_key() < boundary)).select(
        "l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS * 2))
    try:
        with tree_lock(root):
            for sub in (src_dir, ckpt, parts_dir, parts_dir + "_compact"):
                shutil.rmtree(sub, ignore_errors=True)
            # several micro-batches: one file per shard per trigger
            incr.repartition(4, "l_orderkey").write.mode("overwrite").parquet(src_dir)

            def fold(batch: DataFrame, batch_id: int) -> None:
                _lineitem_partials(batch).write.mode("overwrite").parquet(
                    os.path.join(parts_dir, f"batch_id={batch_id}")
                )

            stream = (
                spark.readStream.schema(incr.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            q = (
                stream.writeStream.foreachBatch(fold)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            LAST_QUERY[sink_key] = q
            # a zero-batch drain never creates the dir: materialize it
            # so 'legitimately empty' is representable, then flip the
            # pointer — from here on readers resolve through ACTIVE
            os.makedirs(parts_dir, exist_ok=True)
            _parts_pointer_write(root, os.path.basename(parts_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return _active_parts_dir(root)


def _serve_agg_view(spark: SparkSession, sf_dir: str, parts_dir: str) -> DataFrame:
    """Serve q178's view from snapshot + a partials tree — the final
    merge q181 and q185 share (both register q178's oracle, so the
    view's shape is the one contract)."""
    from ..plans.maintenance import _merge_partials, agg_snapshot_for

    snap = agg_snapshot_for(spark, sf_dir)
    tree = _q181_partials_tree(spark, parts_dir)
    merged = _merge_partials(
        snap.withColumn("has_new_i", F.lit(0)).unionByName(
            tree.withColumn("has_new_i", F.lit(1))
        )
    )
    return (
        merged.select(
            "l_suppkey",
            "n_items",
            "sum_qty",
            (F.col("rev_cents") / 100.0).alias("revenue"),
            F.round(F.col("sum_qty") * 1.0 / F.col("n_items"), 4).alias("avg_qty"),
            "ship_first",
            "ship_last",
            "has_new",
        )
        .orderBy(F.col("revenue").desc(), "l_suppkey")
        .limit(25)
    )


# stream == batch == SQL: the partial-merge algebra is batch-boundary-
# independent, so the streamed maintenance provably lands q178's view —
# q181 registers q178's oracle verbatim (the q162/q163/q176 equivalence
# discipline applied to materialized-aggregate maintenance).
def _q181_bind_oracle() -> None:
    from ..plans.maintenance import _q178_oracle
    from ..registry import REGISTRY

    REGISTRY["q181_stream_agg_maintenance"].oracle = _q178_oracle()


_q181_bind_oracle()


# --- q185: streaming-state compaction --------------------------------------


@register(
    "q185_stream_state_compaction",
    oracle=None,  # set below: q178's oracle — compaction preserves the view
    tags=("streaming", "maintenance", "incremental", "aggregation"),
)
def q185_stream_state_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-STATE COMPACTION — the small-files lifecycle step every
    ``batch_id=``-append tree (q162/q163/q176/q181) eventually needs:
    after N micro-batches the partials tree holds N tiny partitions,
    and every serve plans N file reads. Because partial merge is
    associative, the tree can be FOLDED — all batch partials merged
    into ONE partial set per group (``batch_id=-2``) — without
    changing the view it serves.

    This query stages q181's tree, compacts it, and serves q178's view
    from snapshot + COMPACTED tree — registering q178's oracle
    VERBATIM, so the driver value-checks that compaction preserved the
    view exactly (and tests/test_streaming.py additionally pins
    tree-file shrinkage and row-identical pre/post serves).

    Scale shape: the fold's inputs are the N batch partial sets —
    group-sized each, never fact rows; cost is one group-keyed merge
    shuffle. At 100 TB this is the maintenance job that keeps serve
    planning O(1) in stream age (N grows forever without it), the
    exact analog of a lakehouse OPTIMIZE/compaction run over commit
    deltas.

    The swap is ATOMIC: the compacted tree is written under its own
    directory, then the ACTIVE pointer flips to it in one
    ``os.replace`` (:func:`_parts_pointer_write` — q163's meta-pointer
    discipline); a reader planning mid-compaction resolves either the
    old tree or the new, both serving the identical view, never a
    missing one. The superseded tree is garbage-collected only AFTER
    the flip.

    Reference analog: the reference's merge phase (merge in
    master.go's reduce hand-off) — many partial files folded into one
    — run periodically against streaming state instead of once per
    job."""
    import shutil

    from ..plans.maintenance import _merge_partials

    parts_dir = _stage_agg_parts_tree(spark, sf_dir, "q185_sink")
    root = os.path.dirname(parts_dir)

    with tree_lock(root):
        tree = _q181_partials_tree(spark, parts_dir)
        folded = _merge_partials(
            tree.withColumn("has_new_i", F.lit(1))
        ).drop("has_new")
        compact_dir = parts_dir + "_compact"
        shutil.rmtree(compact_dir, ignore_errors=True)
        folded.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(compact_dir, "batch_id=-2")
        )
        _parts_pointer_write(root, os.path.basename(compact_dir))
        shutil.rmtree(parts_dir, ignore_errors=True)

    return _serve_agg_view(spark, sf_dir, _active_parts_dir(root))


def _q185_bind_oracle() -> None:
    from ..plans.maintenance import _q178_oracle
    from ..registry import REGISTRY

    REGISTRY["q185_stream_state_compaction"].oracle = _q178_oracle()


_q185_bind_oracle()


# --- q195: streaming DSIR scoring (the twelfth family's serve twin) --------


@register(
    "q195_stream_dsir_scoring",
    oracle=None,  # set below: q190's oracle verbatim — stream == batch == SQL
    tags=("streaming", "selection", "language-model", "training-pipeline"),
)
def q195_stream_dsir_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DSIR scoring — the crawl-ingest shape of q190,
    completing the serve-twin symmetry for the twelfth family (dedup
    q161/q162, ANN q175/q176, aggregates q178/q181, DSIR q190/this):
    documents arrive as a file stream in micro-batches and each batch
    is scored against the STANDING bucket LMs — the 256-row llr table
    is built ONCE before the stream from the fitted family
    (:func:`~..plans.selection._dsir_llr`, checkpointed) and joined
    BROADCAST into every micro-batch; the model never refits and
    nothing corpus-sized ever shuffles.

    Exactly-once: each micro-batch OVERWRITES its own ``batch_id=<id>``
    partition (the q162 idempotent-sink discipline, tree process-
    leased). Because scoring is per-document against a static model,
    the result is independent of batch boundaries — the streamed union
    equals batch q190, so this query registers q190's oracle VERBATIM
    (stream == batch == SQL, driver value-checked).

    Scale shape: per micro-batch, one tokenize + (doc_id, bucket)
    partial agg over the batch's rows and a broadcast join against 256
    rows — O(batch tokens) map work, zero standing-side cost. This is
    the production filter loop: score documents as they land, admit on
    the sign gate.

    Reference analog: wc.go's map-side combine run per arrival batch
    against a persisted model (SURVEY §2.3 selection extension)."""
    import shutil

    from ..plans.selection import _bucket_col, _dsir_llr
    from ..functions.textfns import tokens_col
    from ..sources.io import ensure_reader_confs, load_table

    ensure_reader_confs(spark)
    root = fp_stream_root("mms_dsir_stream", sf_dir, "documents.parquet")
    src_dir = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    out_dir = os.path.join(root, "out")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # the standing model, built once for the whole stream (256 rows)
    llr = _dsir_llr(spark, sf_dir).localCheckpoint(eager=True)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS * 2))
    try:
        with tree_lock(root):
            for sub in (src_dir, ckpt, out_dir):
                shutil.rmtree(sub, ignore_errors=True)
            docs.repartition(4, "doc_id").write.mode("overwrite").parquet(src_dir)

            def score(batch: DataFrame, batch_id: int) -> None:
                occ = batch.select(
                    "doc_id", F.explode(tokens_col("text")).alias("token")
                ).select("doc_id", _bucket_col(F.col("token")).alias("bucket"))
                n_db = occ.groupBy("doc_id", "bucket").agg(
                    F.count(F.lit(1)).alias("n")
                )
                w = (
                    n_db.join(F.broadcast(llr), "bucket")
                    .groupBy("doc_id")
                    .agg(
                        F.sum("n").cast("long").alias("n_tokens"),
                        F.round(F.sum(F.col("n") * F.col("llr")), 4).alias(
                            "weight"
                        ),
                    )
                )
                out = (
                    batch.select("doc_id", "lang")
                    .join(w, "doc_id", "left")
                    .select(
                        "doc_id",
                        "lang",
                        F.coalesce("n_tokens", F.lit(0))
                        .cast("long")
                        .alias("n_tokens"),
                        "weight",
                        (F.coalesce("weight", F.lit(-1e9)) > 0).alias(
                            "selected"
                        ),
                    )
                )
                out.write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"batch_id={batch_id}")
                )

            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            q = (
                stream.writeStream.foreachBatch(score)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            LAST_QUERY["q195_sink"] = q
            res = (
                spark.read.parquet(out_dir)
                .select("doc_id", "lang", "n_tokens", "weight", "selected")
                .localCheckpoint(eager=True)
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        llr.unpersist()

    return res.orderBy("doc_id")


def _q195_bind_oracle() -> None:
    # importing the plans module registers q190 (direct imports of this
    # module don't go through load_all_plans)
    from ..plans import selection as _sel  # noqa: F401
    from ..registry import REGISTRY

    REGISTRY["q195_stream_dsir_scoring"].oracle = REGISTRY[
        "q190_dsir_importance"
    ].oracle


_q195_bind_oracle()


# --- q198: streaming BPE tokenize (the thirteenth family's serve twin) -----


@register(
    "q198_stream_bpe_tokenize",
    oracle=None,  # set below: q197's oracle verbatim — stream == batch == SQL
    tags=("streaming", "selection", "tokenizer", "training-pipeline"),
)
def q198_stream_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING BPE tokenization — the serve twin for the THIRTEENTH
    family, completing the maintained-artifact streaming symmetry
    (dedup, ANN, aggregates, DSIR, now the tokenizer): documents
    arrive in micro-batches, each batch tokenizes its own words with
    the FITTED merge table (read once per stream — a 6-row bounded
    artifact read folded into one composed column expression, the
    q197 serve) and lands its per-batch (symbol, count) partials as an
    idempotent ``batch_id=`` partition. Symbol counts are additive
    over document occurrences, so the post-drain fold of all batch
    partials equals the batch q197 view for ANY batch boundary — this
    query registers q197's oracle VERBATIM (stream == batch == SQL).

    Scale shape: per micro-batch, one tokenize + vocab-sized symbol
    agg over the batch only; the partials tree grows by
    O(symbols-touched) per batch; the serve fold reads batch-sized
    partials, never documents. This is the trainer-side ingest loop:
    tokenize arrivals with the frozen tokenizer, maintain corpus
    token statistics incrementally.

    Reference analog: wc.go's combiner per arrival batch with the
    reduce at serve time — the reference's own split, run against a
    persisted tokenizer model (SURVEY §2.3 tokenizer extension)."""
    import shutil

    from ..plans.selection import (
        _SYM0_SPARK,
        _merge_apply_expr,
        Q197_TOP,
        bpe_merges_for,
    )
    from ..functions.textfns import tokens_col
    from ..sources.io import ensure_reader_confs, load_table

    ensure_reader_confs(spark)
    root = fp_stream_root("mms_bpe_stream", sf_dir, "documents.parquet")
    src_dir = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    out_dir = os.path.join(root, "out")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the standing tokenizer, read once per stream (6 rows)
    merges = sorted(
        (r["merge_rank"], r["pair"], r["merged"])
        for r in bpe_merges_for(spark, sf_dir).collect()
    )
    expr = _SYM0_SPARK
    for _rank, pair, merged in merges:
        expr = _merge_apply_expr(expr, f"'{pair}'", f"'{merged}'")

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS * 2))
    try:
        with tree_lock(root):
            for sub in (src_dir, ckpt, out_dir):
                shutil.rmtree(sub, ignore_errors=True)
            docs.repartition(4, "doc_id").write.mode("overwrite").parquet(src_dir)

            def tokenize(batch: DataFrame, batch_id: int) -> None:
                out = (
                    batch.select(F.explode(tokens_col("text")).alias("word"))
                    .groupBy("word")
                    .agg(F.count(F.lit(1)).alias("wfreq"))
                    .select(F.expr(expr).alias("s"), "wfreq")
                    .select(
                        F.explode(F.split("s", " ")).alias("symbol"), "wfreq"
                    )
                    .groupBy("symbol")
                    .agg(F.sum("wfreq").cast("long").alias("n"))
                )
                out.write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"batch_id={batch_id}")
                )

            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            q = (
                stream.writeStream.foreachBatch(tokenize)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            LAST_QUERY["q198_sink"] = q
            res = (
                spark.read.parquet(out_dir)
                .groupBy("symbol")
                .agg(F.sum("n").cast("long").alias("n"))
                .localCheckpoint(eager=True)
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    return res.orderBy(F.col("n").desc(), "symbol").limit(Q197_TOP)


def _q198_bind_oracle() -> None:
    from ..plans import selection as _sel  # noqa: F401  (registers q197)
    from ..registry import REGISTRY

    REGISTRY["q198_stream_bpe_tokenize"].oracle = REGISTRY[
        "q197_bpe_vocab"
    ].oracle


_q198_bind_oracle()
