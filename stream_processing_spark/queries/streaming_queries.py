"""Streaming queries in the registry: each runs a REAL Structured
Streaming query (readStream → stateful agg → memory sink, availableNow)
and returns the drained result as a DataFrame. Because the stream runs
to completion, final state equals the batch answer — so these carry
full DuckDB oracles, not just rows-only checks.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_spark.catalog import (
    events_ts_layout,
    load_table,
    normalize_events_ts,
    table_path,
)
from stream_processing_spark.queries import register
from stream_processing_spark.streaming.job import (
    STATE_STORE_KEY,
    STATE_STORE_PROVIDERS,
    await_drained,
    start_with_confs,
)


def _stream_dir(sf_dir: str, table: str, copies: int = 1) -> str:
    """FileStreamSource wants a DIRECTORY of files (the scale-correct shape:
    at 100 TB a stream is a directory micro-files land in, not one file).
    The fixtures are single .parquet files, so stage a symlink directory
    holding ``copies`` links to the table (a replayed delivery is the
    same file staged twice)."""
    d = tempfile.mkdtemp(prefix=f"stream_src_{table}_")
    for i in range(copies):
        os.symlink(table_path(sf_dir, table), os.path.join(d, f"{table}_{i}.parquet"))
    return d


def _events_schema(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(readStream schema DDL, ts layout) of the events parquet, from
    catalog.events_ts_layout (which also pins the session confs every
    events consumer needs); apply ``normalize_events_ts`` to the read."""
    layout = events_ts_layout(spark, sf_dir)
    schema = (
        f"event_id bigint, ts {layout}, user_id bigint, "
        "event_type string, value double, props string"
    )
    return schema, layout


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, ts normalized to session-TZ
    micros under a pinned UTC session (see catalog.events_ts_layout)."""
    schema, layout = _events_schema(spark, sf_dir)
    raw = spark.readStream.schema(schema).parquet(_stream_dir(sf_dir, "events"))
    return normalize_events_ts(raw, layout)


# Streaming state-partition sizing: a stateful streaming query's shuffle
# partition count is captured into the checkpoint at FIRST start and
# becomes the state-store partition count forever. Inheriting whatever
# session default happens to be set (the vanilla driver session ships
# 200) is wrong twice over: tiny drains pay 200 state stores per
# micro-batch (the stream-stream join oracle took 31s at sf0.01 under
# 200 vs 5.8s under 32), and real deployments must SIZE state
# deliberately. Every registry streaming query therefore pins an
# explicit count at start and restores the session conf after.
_STATE_PARTITIONS = 32


def _pinned(confs: dict | None) -> dict:
    """The registry's start pins: the state-partition count, then any
    per-query ``confs`` (which may override it)."""
    return {"spark.sql.shuffle.partitions": str(_STATE_PARTITIONS), **(confs or {})}


# Micro-batch physical plans of recently drained registry streams —
# the lint surface for tests/test_plan_lint.py's streaming tier (the
# batch tier lints executedPlan; streams only materialize a plan once
# a micro-batch has run, so the drain helpers capture it post-run).
# Bounded: callers clear it; plans are strings, never row data.
CAPTURED_PLANS: list[str] = []


def _capture_plan(q) -> None:
    """Record the query's last micro-batch plan (explainInternal
    survives termination via lastExecution). Best-effort: a stream
    that never ran a batch has no plan to lint."""
    try:
        CAPTURED_PLANS.append(q._jsq.explainInternal(True))
    except Exception:
        pass


def _drain(writer, spark: SparkSession, confs: dict | None = None) -> None:
    """Drain `writer` (availableNow) under the registry pins plus
    ``confs``, then capture its last micro-batch plan."""
    q = start_with_confs(writer.trigger(availableNow=True), spark, _pinned(confs))
    await_drained(q)
    _capture_plan(q)


def _drain_memory(
    df: DataFrame, spark: SparkSession, mode: str, confs: dict | None = None
) -> DataFrame:
    """Drain ``df`` into a fresh memory sink in output ``mode``; return
    the sink table (complete mode ⇒ final state == batch answer)."""
    name = f"stream_q_{uuid.uuid4().hex[:12]}"
    writer = df.writeStream.format("memory").queryName(name).outputMode(mode)
    _drain(writer, spark, confs)
    return spark.table(name)


def _drain_processing_time(
    df: DataFrame,
    spark: SparkSession,
    expected_input_rows: int,
    trigger: str = "300 milliseconds",
    stable_polls: int = 8,
    poll_sec: float = 0.5,
    confs: dict | None = None,
) -> DataFrame:
    """Drain a stream that CANNOT use availableNow — processing-time
    timers/TTL only fire on a wall-clock trigger (an availableNow drain
    under TimeMode.ProcessingTime loops state-maintenance micro-batches
    without ever letting pending timers mature past real data). Runs
    the query on a processing-time trigger and stops on QUIESCENCE: all
    ``expected_input_rows`` ingested (tracked per batchId — the
    recentProgress buffer is a ring, so counts are accumulated, not
    re-summed), the stateful operator's ``numRowsTotal`` back to ZERO
    (no key still holds a pending buffer — the metric-backed guarantee
    that a slow micro-batch can't trick a wall-clock window into
    stopping before the last flush), and the update-mode memory sink
    stable for 2 polls. Where the state metric is unavailable, falls
    back to ``stable_polls`` consecutive stable polls. Returns the
    sink table.

    PRECONDITION: the drained output must be NON-EMPTY. Quiescence
    requires ``cnt > 0``, so a stream whose correct result is zero rows
    can never quiesce and burns the full deadline before raising
    TimeoutError. All current callers guarantee ≥1 output row (every
    ingested key flushes at least one record)."""
    import time

    name = f"stream_q_{uuid.uuid4().hex[:12]}"
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(processingTime=trigger)
    )
    q = start_with_confs(writer, spark, _pinned(confs))
    rows_by_batch: dict[int, int] = {}
    last_cnt, stable = -1, 0
    quiesced = False
    deadline = time.time() + 240
    try:
        while time.time() < deadline:
            time.sleep(poll_sec)
            for p in q.recentProgress:
                rows_by_batch[p["batchId"]] = int(p["numInputRows"])
            state_rows = None
            lp = q.lastProgress
            if lp is not None:
                ops = lp.get("stateOperators") or []
                if ops:
                    state_rows = sum(
                        int(o.get("numRowsTotal", 0)) for o in ops
                    )
            cnt = spark.table(name).count()
            ingested = sum(rows_by_batch.values()) >= expected_input_rows
            drained = ingested and cnt > 0 and (
                state_rows == 0 if state_rows is not None else True
            )
            if drained and cnt == last_cnt:
                stable += 1
                if stable >= (2 if state_rows is not None else stable_polls):
                    quiesced = True
                    break
            else:
                stable = 0
                last_cnt = cnt
    finally:
        q.stop()
        _capture_plan(q)
    if not quiesced:  # pragma: no cover - deadline
        raise TimeoutError(
            f"stream never quiesced: ingested "
            f"{sum(rows_by_batch.values())}/{expected_input_rows} rows, "
            f"sink at {last_cnt} rows"
        )
    return spark.table(name)


@register(
    "streaming_counts_by_type",
    """
    SELECT event_type, COUNT(*) AS cnt
    FROM events
    GROUP BY event_type
    """,
    doc="A REAL Structured Streaming query (file stream → stateful count "
    "→ complete-mode memory sink, drained with availableNow); final "
    "state equals the batch aggregate, hence a full oracle. The "
    "streaming twin of T5 (reference tests/sample2_op2.py).",
)
def streaming_counts_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _drain_memory(agg, spark, "complete")


@register(
    "streaming_sliding_windows",
    """
    WITH w AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
               event_type
        FROM events
    )
    SELECT ws AS window_start, event_type, COUNT(*) AS cnt
    FROM w GROUP BY 1, 2
    """,
    doc="Streaming sliding window (1h window / 30min slide): every event "
    "lands in exactly two windows; the oracle materializes both via a "
    "shifted UNION ALL of 30-min buckets (same epoch alignment Spark "
    "uses)",
)
def streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.windows import sliding_counts

    src = _events_stream(spark, sf_dir)
    return _drain_memory(sliding_counts(src), spark, "complete")


@register(
    "streaming_session_windows",
    """
    WITH ordered AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_sess
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM ordered
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           user_id,
           COUNT(*) AS cnt
    FROM sess GROUP BY user_id, sid
    """,
    doc="Streaming session windows (30-min gap) per user via "
    "session_window + watermark; the oracle is the classic "
    "gaps-and-islands rewrite (LAG → new-session flag → running sum → "
    "group), with session_end = last event + gap exactly as Spark "
    "defines it",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.windows import session_counts

    src = _events_stream(spark, sf_dir)
    return _drain_memory(session_counts(src), spark, "complete")


@register(
    "streaming_stateful_running_count",
    """
    SELECT event_type AS key, COUNT(*) AS cnt
    FROM events
    GROUP BY event_type
    """,
    doc="T8 parity (reference framework.py stateful contract): arbitrary "
    "per-key state via applyInPandasWithState in update mode; the final "
    "update per key (max cnt — counts only grow) equals the batch "
    "count, mirroring how the reference's own evaluation counted 'the "
    "unique record with the maximum key' (SURVEY.md §4.1)",
)
def streaming_stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.stateful import stateful_running_count

    src = _events_stream(spark, sf_dir).select(F.col("event_type").alias("key"))
    counts = stateful_running_count(src, key_col="key")
    out = _drain_memory(counts, spark, "update")
    # update mode emits one row per key per batch; the last (= max) is final
    return out.groupBy("key").agg(F.max("cnt").alias("cnt"))


# transformWithState mandates the RocksDB state-store provider
_ROCKSDB = {STATE_STORE_KEY: STATE_STORE_PROVIDERS["rocksdb"]}


def _assert_tws_runtime(spark: SparkSession) -> None:
    """transformWithState's state-server protocol needs google.protobuf
    importable inside the TWS driver worker, which the JVM launches
    with its OWN start-time env — so the vendored-shim export must
    have happened before the JVM started (importing __spark_entry__
    does it). Check the JVM's System.getenv (NOT a regular python
    worker probe, which inherits newer env through the daemon and
    passes even when the TWS worker would crash) so a mis-ordered
    harness gets an actionable error instead of a mid-stream
    XXKST worker traceback."""
    from stream_processing_spark.compat import (
        ensure_protobuf_runtime,
        tws_worker_env_ok,
    )

    runtime = ensure_protobuf_runtime()
    if runtime is None:
        raise RuntimeError(
            "transformWithState needs a google.protobuf runtime and "
            "neither a native install nor the vendored shim is "
            "available in this environment"
        )
    if runtime == "native":
        return
    if not tws_worker_env_ok(spark):
        raise RuntimeError(
            "the JVM was started before the vendored protobuf runtime "
            "was exported, so transformWithState's state-server "
            "worker cannot import google.protobuf — import "
            "__spark_entry__ (or call compat.ensure_protobuf_runtime) "
            "FIRST, then build the SparkSession"
        )


@register(
    "streaming_tws_running_count",
    """
    SELECT event_type AS key, COUNT(*) AS cnt
    FROM events
    GROUP BY event_type
    """,
    doc="T8 parity on Spark 4's transformWithStateInPandas tier: the "
    "same per-key running count as streaming_stateful_running_count "
    "but with engine-owned typed ValueState on RocksDB (the state "
    "backend contract the new API mandates) instead of a row-encoded "
    "tuple on the default provider. Runs drained in update mode; the "
    "final update per key (max cnt — counts only grow) equals the "
    "batch count. The state server speaks protobuf to python workers, "
    "so the query asserts the runtime is worker-visible first "
    "(vendored shim, compat.ensure_protobuf_runtime).",
)
def streaming_tws_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.tws import tws_running_count

    _assert_tws_runtime(spark)
    src = _events_stream(spark, sf_dir).select(F.col("event_type").alias("key"))
    counts = tws_running_count(src, key_col="key")
    # keyed state is bounded by the event_type DOMAIN (~5 keys): size
    # the state-store partition count to the key space, not the
    # registry pin — each state partition costs a RocksDB store open +
    # state-server channel per micro-batch, and 32 stores for 5 keys
    # was pure per-partition protocol overhead (r11 profile: 3.9 s @32
    # → 2.8 s @8 on local[32], ~47 ms/store/batch)
    out = _drain_memory(
        counts, spark, "update",
        {**_ROCKSDB, "spark.sql.shuffle.partitions": "8"},
    )
    # update mode emits one row per key per batch; the last (= max) is final
    return out.groupBy("key").agg(F.max("cnt").alias("cnt"))


@register(
    "streaming_tws_timer_flush",
    """
    SELECT event_type AS key, CAST(2 * COUNT(*) AS BIGINT) AS total
    FROM events
    GROUP BY event_type
    """,
    doc="Native PROCESSING-TIME timer expiry end-to-end (tws.py "
    "handleExpiredTimer, reference ST5 timer analogue "
    "framework.py:52-54): a buffer-and-flush operator whose "
    "handleInputRows NEVER emits — every output row is produced by a "
    "handleExpiredTimer firing on the wall clock, so a non-empty "
    "result PROVES the timer path ran. The events file is staged "
    "twice (maxFilesPerTrigger=1 → two data batches), the stream runs "
    "on a processing-time trigger (availableNow cannot mature "
    "processing-time timers) and stops on quiescence; per-key SUM of "
    "the flushed partials equals 2× the batch count no matter how "
    "many flushes the wall clock produced — the timing-invariance "
    "that makes a timer query oracle-able.",
)
def streaming_tws_timer_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.tws import tws_timer_flush_counts

    _assert_tws_runtime(spark)
    schema, _ = _events_schema(spark, sf_dir)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_stream_dir(sf_dir, "events", copies=2))
        .select(F.col("event_type").alias("key"))
    )
    flushed = tws_timer_flush_counts(src, flush_ms=400)
    n_events = spark.read.parquet(table_path(sf_dir, "events")).count()
    out = _drain_processing_time(
        flushed,
        spark,
        expected_input_rows=2 * n_events,
        confs=_ROCKSDB,
    )
    return out.groupBy("key").agg(
        F.sum("flushed").cast("bigint").alias("total")
    )


@register(
    "streaming_dedup_events",
    """
    SELECT event_id, COUNT(*) AS n
    FROM events
    GROUP BY event_id
    """,
    doc="Streaming exactly-once-by-key (reference ST2, worker.py:446-453 "
    "dedup dicts): the input directory stages the SAME events file "
    "twice, dropDuplicatesWithinWatermark collapses replays within the "
    "watermark horizon with bounded state — every event_id survives "
    "exactly once",
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.windows import dedup_within_watermark

    schema, layout = _events_schema(spark, sf_dir)
    # stage the file TWICE (replayed delivery); maxFilesPerTrigger=1 →
    # the two copies arrive in SEPARATE micro-batches, so dedup must
    # work across batches via the state store, not just within one batch
    raw = normalize_events_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_stream_dir(sf_dir, "events", copies=2)),
        layout,
    )
    deduped = dedup_within_watermark(raw, ["event_id"], ts_col="ts", watermark="1 hour")
    out = _drain_memory(deduped.select("event_id"), spark, "append")
    return out.groupBy("event_id").agg(F.count(F.lit(1)).alias("n"))


@register(
    "streaming_static_join_counts",
    """
    SELECT n_name, COUNT(*) AS cnt
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n_name
    """,
    doc="STREAM-STATIC join: the event stream enriched against the "
    "static nation dim (broadcast — the dim is re-read per micro-batch, "
    "never shuffled against the stream), then a stateful count. The "
    "standard enrichment topology for dimension lookups at scale.",
)
def streaming_static_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    src = _events_stream(spark, sf_dir)
    joined = src.join(
        F.broadcast(nation), src.user_id % 25 == nation.n_nationkey
    )
    agg = joined.groupBy("n_name").agg(F.count(F.lit(1)).alias("cnt"))
    return _drain_memory(agg, spark, "complete")


@register(
    "streaming_stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    """,
    doc="STREAM-STREAM inner join with an event-time interval condition "
    "(clicks within 30 min before each purchase, same user): watermarks "
    "on both sides bound the join state Spark must buffer — without "
    "them a stream-stream join accretes state forever. Drained with "
    "availableNow, so the result equals the batch interval join.",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id")
    return _drain_memory(joined, spark, "append")


@register(
    "streaming_hourly_windows",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
    """,
    doc="Streaming tumbling event-time window (1h) with watermark, "
    "drained to completion — matches the batch date_trunc oracle "
    "(events_hourly_tumbling's streaming twin)",
)
def streaming_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )
    return _drain_memory(agg, spark, "complete")


def _running_max_op(key: str, value: str, state):
    """A genuinely user-defined STATEFUL operator (not in any library):
    per-key running max, emitting only on change — the reference's
    'output all changes to the aggregate' stateful-exe shape
    (framework.py:52-54), with state as a JSON-serializable scalar."""
    from decimal import Decimal

    if state is None or Decimal(value) > Decimal(state):
        return value, [(key, value)]
    return state, []


@register(
    "streaming_custom_stateful_max",
    """
    SELECT user_id AS key,
           CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_value
    FROM events
    GROUP BY user_id
    """,
    doc="T8 arbitrary-STATEFUL-operator parity: a user fn(key, value, "
    "state) -> (state', emissions) running through the generic "
    "stateful_flat_map harness (applyInPandasWithState, JSON state "
    "blob) — per-user running max emitting only changes; the max of "
    "the emitted updates equals the batch MAX. The same path "
    "`cli rainstorm \"udf_stateful file.py:fn\"` submits.",
)
def streaming_custom_stateful_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.stateful import stateful_flat_map

    src = _events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )
    out = _drain_memory(stateful_flat_map(src, _running_max_op), spark, "update")
    return (
        out.groupBy(F.col("key").cast("bigint").alias("key"))
        .agg(
            F.max(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("max_value")
        )
    )


@register(
    "streaming_trending_topk",
    """
    WITH w AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
               event_type, COUNT(*) AS cnt
        FROM events
        GROUP BY 1, 2
    ),
    r AS (
        SELECT window_start, event_type, cnt,
               ROW_NUMBER() OVER (PARTITION BY window_start
                                  ORDER BY cnt DESC, event_type) AS rk
        FROM w
    )
    SELECT window_start, event_type, cnt, rk
    FROM r WHERE rk <= 3
    """,
    doc="Streaming trending top-k: 6-hour tumbling windows of per-type "
    "counts maintained by a REAL streaming aggregation (complete-mode "
    "memory sink, drained), then the top-3 rank per window applied on "
    "the sink table — the dashboard pattern where the stream maintains "
    "the windowed counts (the unbounded, stateful part) and the "
    "renderer ranks the current snapshot (bounded: |windows|×|types| "
    "rows, never raw events). Ties broken by event_type so the rank "
    "is total and deterministic. Scale: the stream shuffles on "
    "(window, type) with partial aggregation; the rank runs over the "
    "tiny materialized state, not the stream.",
)
def streaming_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    src = _events_stream(spark, sf_dir)
    agg = src.groupBy(
        F.window("ts", "6 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    snap = _drain_memory(agg, spark, "complete")
    rk = F.row_number().over(
        W.partitionBy("window_start").orderBy(
            F.col("cnt").desc(), F.col("event_type")
        )
    )
    return (
        snap.select(
            F.col("w.start").alias("window_start"), "event_type", "cnt"
        )
        .withColumn("rk", rk)
        .where(F.col("rk") <= 3)
    )


@register(
    "streaming_stream_stream_left_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase'
            AND ts < TIMESTAMP '2024-01-30 00:00:00') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    """,
    doc="STREAM-STREAM LEFT OUTER join with watermarks: purchases keep "
    "a row even with zero preceding clicks. The semantic subtlety this "
    "query exists to pin down: an outer join's null-padded rows emit "
    "ONLY once the watermark passes the row's event time (before that, "
    "a match could still arrive), so rows newer than max(ts) - delay "
    "are withheld at drain and the stream would undercount vs batch. "
    "Bounding the outer side to a CLOSED window (ts < Jan 30, final "
    "watermark ~Jan 30 21:57 clears it) makes the drained result equal "
    "the batch left join exactly — the oracle proves it. This "
    "closed-window discipline is how production jobs reconcile outer "
    "stream joins against batch backfills.",
)
def streaming_stream_stream_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # With two watermarked inputs Spark's GLOBAL watermark defaults to
    # the MIN of the per-input ones — here the purchase side is cut at
    # Jan 30 so its own watermark can never pass its own tail, and the
    # last 2 h of purchases would be withheld forever. The 'max' policy
    # lets the unbounded click side (runs to Jan 30 23:57) drive the
    # global watermark past the whole closed purchase window. Scoped to
    # the query-start window via the drain's confs (a streaming query
    # captures its confs at start), so the session default is restored
    # after.
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") < F.lit("2024-01-30 00:00:00").cast("timestamp"))
        )
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select("purchase_id", "click_id")
    return _drain_memory(
        joined, spark, "append",
        {"spark.sql.streaming.multipleWatermarkPolicy": "max"},
    )


# Shared by BOTH stateful-session tiers (applyInPandasWithState and
# transformWithState): batch gaps-and-islands sessions whose end
# precedes max(ts) — exactly the drained result under a 0-second
# watermark and the strict append-mode finality rule. One copy so the
# gap constant / finality predicate can never diverge between tiers.
_SESSIONS_ORACLE = """
    WITH e AS (
        SELECT CAST(user_id AS VARCHAR) AS key, epoch_ms(ts) AS ms
        FROM events
    ),
    x AS (
        SELECT key, ms,
               CASE WHEN LAG(ms) OVER (PARTITION BY key ORDER BY ms)
                         IS NULL
                      OR ms - LAG(ms) OVER (PARTITION BY key ORDER BY ms)
                         > 1800000
                    THEN 1 ELSE 0 END AS brk
        FROM e
    ),
    g AS (
        SELECT key, ms,
               SUM(brk) OVER (PARTITION BY key ORDER BY ms
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM x
    ),
    s AS (
        SELECT key, MIN(ms) AS start_ms, MAX(ms) + 1800000 AS end_ms,
               COUNT(*) AS n_events
        FROM g GROUP BY key, sid
    )
    SELECT key, start_ms, end_ms, n_events FROM s
    WHERE end_ms < (SELECT MAX(epoch_ms(ts)) FROM events)
    ORDER BY key, start_ms
    """


@register(
    "streaming_stateful_sessions",
    _SESSIONS_ORACLE,
    doc="CUSTOM stateful sessions with EVENT-TIME TIMEOUTS "
    "(streaming/stateful.py stateful_event_sessions): unlike "
    "session_window, the state emits when the WATERMARK says a key "
    "went quiet — the state-store timer fires with no new data for "
    "the key, a capability the reference's operator processes "
    "fundamentally lacked (a silent key stayed silent forever). "
    "In-batch gap breaks close sessions immediately; each key's open "
    "tail closes via timeout when the watermark strictly passes "
    "last + gap (strictness pinned by test_streaming's equality-edge "
    "case). With a 0-second watermark the drained result is EXACTLY "
    "the batch gaps-and-islands sessions whose end precedes max(ts) — "
    "which is what this oracle computes.",
)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.stateful import (
        stateful_event_sessions,
    )

    src = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "0 seconds")
        .select(F.col("user_id").cast("string").alias("key"), "ts")
    )
    sess = stateful_event_sessions(src, gap_sec=1800)
    return _drain_memory(sess, spark, "append")


@register(
    "streaming_tws_sessions",
    _SESSIONS_ORACLE,
    doc="The streaming_stateful_sessions semantics on Spark 4's "
    "transformWithState tier: inactivity-gap sessions where quiet "
    "keys close via NATIVE event-time timers (registerTimer / "
    "handleExpiredTimer on RocksDB) instead of the "
    "applyInPandasWithState timeout shim — the engine wakes the key "
    "when the watermark passes its pending session end, with zero "
    "new input for that key. Same append-mode finality rule (a block "
    "emits only once the watermark STRICTLY passes end+gap, so an "
    "admissible late event can still merge), hence the same oracle: "
    "batch gaps-and-islands sessions whose end precedes max(ts) "
    "under a 0-second watermark.",
)
def streaming_tws_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.tws import tws_event_sessions

    _assert_tws_runtime(spark)
    src = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "0 seconds")
        .select(F.col("user_id").cast("string").alias("key"), "ts")
    )
    sess = tws_event_sessions(src, gap_sec=1800)
    return _drain_memory(sess, spark, "append", _ROCKSDB)


def _stage_halves(df: DataFrame, split_expr, d: str) -> None:
    """Stage ``df`` as TWO single-file parquet batches in ``d`` (split
    by ``split_expr``), with explicitly pinned distinct mtimes so the
    FileStreamSource admits them in a deterministic order under
    maxFilesPerTrigger=1."""
    import glob
    import shutil
    import time as _time

    now = _time.time()
    for i, keep in enumerate((split_expr, ~split_expr)):
        tmp = tempfile.mkdtemp(prefix="stage_half_")
        df.where(keep).coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = os.path.join(d, f"b{i}.parquet")
        shutil.copy(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        os.utime(dst, (now - 100 + i * 50, now - 100 + i * 50))


_INGEST_SIGS_SQL = (
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    shingles AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3
    ),
    sigs AS (SELECT doc_id, """
    + ", ".join(f"MIN(md5('{s}:' || sh)) AS h{s}" for s in range(8))
    + """ FROM shingles GROUP BY doc_id),
    buckets AS (
    """
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(h{2*b} || '|' || h{2*b+1}) "
        "AS sig FROM sigs"
        for b in range(4)
    )
    + """),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    """
)

_N_AGREE_SQL = " + ".join(
    f"CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END" for s in range(8)
)


@register(
    "streaming_ingest_neardup_pairs",
    _INGEST_SIGS_SQL
    + f"""
    SELECT doc_a, doc_b,
           CAST({_N_AGREE_SQL} AS BIGINT) AS n_agree,
           ROUND(CAST({_N_AGREE_SQL} AS DOUBLE) / 8.0, 6) AS est_jaccard
    FROM cand
    JOIN sigs sa ON sa.doc_id = doc_a
    JOIN sigs sb ON sb.doc_id = doc_b
    """,
    doc="The RUNNING MinHash-LSH corpus (streaming/ingest_dedup.py) "
    "driven end-to-end under the driver gate: documents arrive in two "
    "micro-batches (split by doc_id parity, deterministic order), each "
    "batch joins its banded signatures against the partition-pruned "
    "accumulated corpus, and the union of per-batch discoveries must "
    "equal the BATCH LSH pipeline over the full corpus — the module's "
    "once-per-pair discovery invariant, here hash-checked against the "
    "batch oracle (same md5 minhash/band spelling as "
    "dedup_minhash_verified_pairs, min_agree=0 so every candidate "
    "carries its signature-agreement score).",
)
def streaming_ingest_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.ingest_dedup import (
        StreamingIngestDedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = tempfile.mkdtemp(prefix="stream_src_ingest_")
    _stage_halves(docs, F.col("doc_id") % 2 == 0, d)
    sink = StreamingIngestDedup(
        spark, tempfile.mkdtemp(prefix="ingest_state_")
    )
    writer = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .writeStream.foreachBatch(sink.writer())
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ingest_ck_")
        )
    )
    _drain(writer, spark)
    return sink.candidate_pairs()


@register(
    "streaming_upsert_latest_state",
    """
    WITH ranked AS (
        SELECT user_id, value, event_type,
               CASE WHEN event_id % 10 = 0 THEN 'delete'
                    ELSE 'upsert' END AS op,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, value AS last_value, event_type AS last_type
    FROM ranked WHERE rn = 1 AND op = 'upsert'
    """,
    doc="The versioned bucketed UPSERT table (streaming/upsert.py) "
    "driven end-to-end under the driver gate: events become CDC "
    "changes (key=user_id, op=delete for event_id % 10 = 0 else "
    "upsert, ts=event micros, seq=event_id) arriving in two "
    "micro-batches split by event_id parity — so most keys MERGE "
    "across batches, older cross-batch changes must lose to fresher "
    "stored state, and a key whose latest change is a delete must "
    "stay tombstoned out of current(). Oracle = latest change per key "
    "via a ranked window, live rows only.",
)
def streaming_upsert_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.upsert import UpsertTable

    ev = load_table(spark, sf_dir, "events")
    changes = ev.select(
        F.col("user_id").alias("uid"),
        F.when(F.col("event_id") % 10 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.unix_micros("ts").alias("cts"),
        F.col("event_id").alias("seq"),
        "value",
        "event_type",
    ).withColumnRenamed("cts", "ts")
    d = tempfile.mkdtemp(prefix="stream_src_upsert_")
    _stage_halves(changes, F.col("seq") % 2 == 0, d)
    table = UpsertTable(
        spark,
        tempfile.mkdtemp(prefix="upsert_table_"),
        key_col="uid",
        vacuum_every=2,  # exercise manifest folding under the gate too
    )
    writer = (
        spark.readStream.schema(
            "uid bigint, op string, ts bigint, seq bigint, "
            "value double, event_type string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .writeStream.foreachBatch(table.writer())
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="upsert_ck_")
        )
    )
    _drain(writer, spark)
    return table.current().select(
        F.col("uid").alias("user_id"),
        F.col("value").alias("last_value"),
        F.col("event_type").alias("last_type"),
    )


@register(
    "streaming_stream_stream_full_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase'
            AND ts < TIMESTAMP '2024-01-25 00:00:00') p
    FULL OUTER JOIN
         (SELECT * FROM events
          WHERE event_type = 'click'
            AND ts < TIMESTAMP '2024-01-25 00:00:00') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    """,
    doc="STREAM-STREAM FULL OUTER join with watermarks — completes the "
    "join-mode matrix beside the inner and left variants. Both sides "
    "must finalize their null-padded rows, so BOTH are closed windows "
    "(ts < Jan 25) and — the load-bearing trick — the watermark is "
    "attached BEFORE the window filter: the watermark node then "
    "observes the full stream (max ts ≈ Jan 30 23:57, watermark "
    "≈ 21:57) and clears both horizons, while only windowed rows reach "
    "the join. Filtering first would stall each side's watermark 2 h "
    "short of its own tail and withhold the final null-padded rows "
    "forever. Drained result equals the batch full outer join exactly.",
)
def streaming_stream_stream_full_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # 'max' watermark policy scoped to the query-start window via
    # the drain's confs (see the left-join variant for why max is needed).
    cutoff = F.lit("2024-01-25 00:00:00").cast("timestamp")
    purchases = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") < cutoff))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .filter((F.col("event_type") == "click") & (F.col("ts") < cutoff))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "full_outer",
    ).select("purchase_id", "click_id")
    return _drain_memory(
        joined, spark, "append",
        {"spark.sql.streaming.multipleWatermarkPolicy": "max"},
    )


@register(
    "streaming_state_inspection",
    """
    SELECT CAST(event_type AS VARCHAR) AS key,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
    doc="STATE-STORE INSPECTION (streaming/stateview.py, the Spark 4 "
    "'statestore' data source): run the streaming count to completion "
    "against a persistent checkpoint, then read the checkpoint's keyed "
    "state back as a TABLE — no replay, no query downtime — and verify "
    "it equals the batch aggregate. This is the 100 TB ops surface for "
    "stateful pipelines (audit a dedup set after replay, find the "
    "skewed key whose state blew up) and the engine-side twin of the "
    "reference's recover_log state rebuild "
    "(src/Streaming/worker.py:327-368), which must REPLAY the "
    "processed log line by line to see the same dict. Fully oracled: "
    "drained state == the batch GROUP BY.",
)
def streaming_state_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.stateview import read_state

    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ck = tempfile.mkdtemp(prefix="stateinspect_ck_")
    name = f"stream_q_{uuid.uuid4().hex[:12]}"
    writer = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ck)
    )
    _drain(writer, spark)
    st = read_state(spark, ck)
    # the streaming-agg state value stores the internal aggregation
    # buffer; count(1) buffers surface as field `count`
    return st.select(
        F.col("key").getField("event_type").alias("key"),
        F.col("value").getField("count").cast("bigint").alias("cnt"),
    )


@register(
    "streaming_scd2_history",
    """
    WITH ordered AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS uts, event_id,
               value,
               ROW_NUMBER() OVER w AS rn,
               LAG(value) OVER w AS prev_v
        FROM events WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id)
    ),
    changes AS (
        SELECT user_id, uts, event_id, value FROM ordered
        WHERE rn = 1 OR value IS DISTINCT FROM prev_v
    ),
    versioned AS (
        SELECT user_id, value,
               CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version,
               uts AS valid_from_us,
               LEAD(uts) OVER w2 AS valid_to_us
        FROM changes
        WINDOW w2 AS (PARTITION BY user_id ORDER BY uts, event_id)
    )
    SELECT user_id, version, value, valid_from_us, valid_to_us,
           CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS is_current
    FROM versioned
    """,
    doc="The exactly-once streaming SCD2 history table "
    "(streaming/scd2.py) driven end-to-end under the driver gate: "
    "events become CDC changes (key=user_id, tracked value, ts=event "
    "micros, seq=event_id) arriving in two TIME-ORDERED micro-batches "
    "split at 2024-01-25 — so batch 2 must CLOSE the open versions "
    "batch 1 left (cross-batch interval stitching) while version "
    "numbers continue densely and consecutive equal values collapse "
    "across the batch boundary. Final history() must equal the batch "
    "scd2_user_value_history operator's semantics (the oracle) — "
    "stream/batch parity for versioned history, the same relationship "
    "streaming_upsert_latest_state has to the CDC latest-state core. "
    "Same storage scale shape as the upsert table: O(touched buckets) "
    "per batch, manifests + atomic pointer, crash-window replay safe.",
)
def streaming_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_spark.streaming.scd2 import Scd2Table

    ev = load_table(spark, sf_dir, "events")
    changes = ev.where(F.col("user_id").isNotNull()).select(
        F.col("user_id").alias("uid"),
        F.unix_micros("ts").alias("ts"),
        F.col("event_id").alias("seq"),
        "value",
    )
    split_us = 1706140800000000  # 2024-01-25 00:00:00 UTC in micros
    d = tempfile.mkdtemp(prefix="stream_src_scd2_")
    _stage_halves(changes, F.col("ts") < split_us, d)
    table = Scd2Table(
        spark,
        tempfile.mkdtemp(prefix="scd2_table_"),
        key_col="uid",
        value_col="value",
    )
    writer = (
        spark.readStream.schema(
            "uid bigint, ts bigint, seq bigint, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .writeStream.foreachBatch(table.writer())
        .option("checkpointLocation", tempfile.mkdtemp(prefix="scd2_ck_"))
    )
    _drain(writer, spark)
    return table.history().select(
        F.col("uid").alias("user_id"),
        "version",
        "value",
        F.col("__vf").alias("valid_from_us"),
        F.col("__vt").alias("valid_to_us"),
        "is_current",
    )
