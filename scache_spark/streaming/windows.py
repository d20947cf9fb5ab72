"""Structured Streaming over the events table (SURVEY.md §2 B27).

The reference's push-trigger — master broadcasts `StartMapFetch` the
moment a map's output is complete, clients react per-arrival
(`storage/BlockManagerMasterEndpoint.scala:347-366`) — is an
at-data-arrival callback, i.e. exactly a streaming micro-batch
trigger.  Here the events fixture is replayed as a file stream with
`availableNow` (deterministic batch-equivalent semantics), through
tumbling / sliding / session windows, watermarks, and streaming dedup.

On a real cluster the same plans run unchanged on Kafka sources with
`trigger(processingTime=...)`; availableNow is what makes them
oracle-checkable.

The fixture's nanosecond timestamps are unreadable by the streaming
parquet reader (PARQUET_TYPE_ILLEGAL for TIMESTAMP(NANOS)), so events
is staged once per sf_dir through a batch rewrite (micros) into
`.stream_src/` — a fixture-prep detail, not an engine behavior.

Windowed aggregates run in APPEND mode: only watermark-finalized
windows are emitted and their state is dropped — the posture that
survives an unbounded stream (complete mode retains every window
ever created).  The staged corpus carries one synthetic FLUSH row one
day past the stream head; its arrival advances the watermark beyond
every real window's end, so all real windows finalize, while the
flush row's own (still-open) window is never emitted.  Non-windowed
queries filter the flush row out explicitly or drop it via their join
or event-type predicates.
"""

from __future__ import annotations

import itertools
import os
import threading
import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from scache_spark.catalog import SCHEMAS, _stage_once, load_table, staged_key
from scache_spark.registry import register

_STAGE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".stream_src")
_SINK_COUNTER = itertools.count()


def _sweep_stale_run_dirs() -> None:
    """Bound the staging roots: per-run checkpoint/sink dirs are named
    ``<kind>_<pid>_<n>`` — any whose owning pid is dead is garbage from
    a finished driver/pytest/bench process and is removed here, once,
    at import.  Staged SOURCE dirs (``*_x{copies}_v{N}``) are content-
    addressed and deliberately reused, so they are never swept.
    Legacy un-pid-prefixed ``ckpt_audit_<n>`` dirs are always removed
    (a memory-sink stream cannot recover from a foreign checkpoint)."""
    import re
    import shutil

    pat = re.compile(
        r"^(?:ckpt|data|ckpt_audit|statestore_audit|ckpt_cdc)_(\d+)(_\d+)?$"
        r"|^(?:view_cdc)_(\d+)_\d+_v\d+$"
    )
    for root in (_STAGE_ROOT, os.path.join(os.path.dirname(_STAGE_ROOT), ".stream_sink")):
        if not os.path.isdir(root):
            continue
        for name in os.listdir(root):
            m = pat.match(name)
            if not m:
                continue
            pid_str = m.group(1) or m.group(3)
            path = os.path.join(root, name)
            if m.group(1) is not None and m.group(2) is None:
                stale = True  # legacy counter-only name: always a hazard
            else:
                pid = int(pid_str)
                try:
                    os.kill(pid, 0)
                    stale = False
                except ProcessLookupError:
                    stale = True
                except OSError:
                    stale = False
                if not stale:
                    # pid-liveness alone can leak forever: a RECYCLED
                    # pid (or a foreign user's process answering with
                    # EPERM) looks alive.  Age is the backstop — no
                    # run in this repo legitimately spans 2 days.
                    try:
                        age_s = _time.time() - os.path.getmtime(path)
                        stale = age_s > 2 * 24 * 3600
                    except OSError:
                        pass
            if stale:
                shutil.rmtree(path, ignore_errors=True)


_sweep_stale_run_dirs()

FLUSH_EVENT_ID = -1  # the synthetic watermark-advancing row


def _staged_events_dir(spark: SparkSession, sf_dir: str, copies: int = 1) -> str:
    """Stage events.parquet as a streamable directory (micros ts) plus
    the flush row.  ``copies=2`` includes every event twice — planted
    duplicates for the streaming-dedup query.

    All copies and the flush row go out in ONE write, published whole
    by ``_stage_once``, so ``_SUCCESS`` implies the complete corpus and
    concurrent stagers never write one directory in place.  The
    ``_v2`` suffix versioned the layout against pre-flush-row
    stagings; ``_v3`` (r10) stages 16 files instead of 4 for the same
    reason the documents staging moved to 16 in r9: the replayed data
    batch's SCAN stage carries the map-side per-event work (window
    assignment, the CMS md5 x3 explode) and file count caps its
    parallelism — a real ingest feed arrives in many files; 4 was an
    artifact of the staging write."""

    def write(path: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        flush = ev.agg(F.max("ts").alias("mx")).select(
            F.lit(FLUSH_EVENT_ID).cast("long").alias("event_id"),
            (F.col("mx") + F.expr("INTERVAL 1 DAY")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("flush").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        full = ev
        for _ in range(copies - 1):
            full = full.unionByName(ev)
        full.unionByName(flush).repartition(16).write.parquet(path)

    return _stage_once(
        os.path.join(_STAGE_ROOT, f"{staged_key(sf_dir)}_x{copies}_v3"), write
    )


def events_stream(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    path = _staged_events_dir(spark, sf_dir, copies)
    return spark.readStream.schema(SCHEMAS["events"]).parquet(path)


def _staged_documents_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents.parquet as a streamable directory — the corpus
    replayed as an ingestion feed for at-arrival operators (near-dup
    suppression).  Documents carry no event time and the at-arrival
    operators below use NoTimeout keyed state, so no synthetic flush
    row is needed; it is published whole like ``_staged_events_dir``."""
    # _v2: 16 files instead of 4 — the replayed batch's scan stage
    # carries the CPU-heavy shingle/minhash map work of the at-arrival
    # dedup, and file count caps its parallelism (a real ingest feed
    # arrives in many files; 4 was an artifact of the staging write).
    return _stage_once(
        os.path.join(_STAGE_ROOT, f"docs_{staged_key(sf_dir)}_v2"),
        lambda path: load_table(spark, sf_dir, "documents")
        .repartition(16)
        .write.parquet(path),
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_documents_dir(spark, sf_dir)
    return spark.readStream.schema(SCHEMAS["documents"]).parquet(path)


# Stateful streaming operators create one state-store instance per
# shuffle partition, and that count is fixed at the first checkpoint —
# AQE never coalesces it.  So unlike batch (where 32 partitions match
# the 32 cores), state partitioning should track STATE SIZE: for the
# fixture-scale replay, 8 stores cut per-query wall time ~40% vs 32
# (store init/commit dominates, not state volume).  On a 1000-executor
# cluster against a real firehose this constant is the knob you raise
# before first deploy — it cannot be changed without a state rebuild.
STREAM_SHUFFLE_PARTITIONS = 8


# Final state-store footprint of each run_stream invocation, keyed by
# the caller's label: {"state_rows": n, "state_bytes": b} summed over
# the plan's stateful operators and their "state_partitions" counts.
# A state BLOW-UP (losing the shard-coalescing of
# stream_neardup_suppress, a dedup horizon that stops expiring) is
# invisible to result-correctness checks — the ratchet in
# tests/test_stream_state_baseline.py reads this dict against
# tools/stream_state_baseline.json and fails CI at >2x.
LAST_STATE_METRICS: dict[str, dict] = {}

# Serializes _run_to_end's set -> start() -> restore window, so two
# runners never restore each other's confs.
_START_LOCK = threading.Lock()


def _run_to_end(writer, label: str, confs=()) -> StreamingQuery:
    """The one place a stream starts: run ``writer`` to completion
    (availableNow) and return its query.  The stream confs
    (STREAM_SHUFFLE_PARTITIONS plus ``confs``, (key, value) pairs) are
    set only while ``start()`` runs — a query copies its session's SQL
    conf as it starts — and then restored exactly, an unset conf to
    unset, so the caller's session is handed back as it was.  Raises
    if the query is still running at the timeout or terminated with an
    error — a silently partial sink must never be returned."""
    spark = writer._spark
    confs = (("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)), *confs)
    with _START_LOCK:
        prev = {k: spark.conf.get(k, None) for k, _ in confs}
        try:
            for k, v in confs:
                spark.conf.set(k, v)
            q = writer.trigger(availableNow=True).start()
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(f"streaming query {label} still running after 600s")
    if q.exception() is not None:
        raise q.exception()
    return q


def run_stream(df, name: str, mode: str, confs=()) -> DataFrame:
    """Run a streaming DataFrame to completion through ``_run_to_end``
    into a memory sink; return the sink as a batch DataFrame.  The
    sink's temp view is dropped once the frame has resolved it (the
    frame holds the sink itself), so a run leaves no view behind.
    Records the run's peak state footprint in LAST_STATE_METRICS."""
    sink = f"{name}_{next(_SINK_COUNTER)}"
    spark = df.sparkSession
    writer = df.writeStream.format("memory").queryName(sink).outputMode(mode)
    q = _run_to_end(writer, sink, confs)
    out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    # PEAK footprint over the whole run, not the final batch: a
    # windowed agg evicts everything once the flush row closes the
    # last window, so final-batch rows would hide a mid-run state
    # blow-up entirely.  recentProgress is a ring buffer of the latest
    # progress events (100 by default); a run with more batches than
    # events kept would under-report, so it fails instead.
    progress = q.recentProgress
    n_batches = progress[-1]["batchId"] + 1 if progress else 0
    if n_batches > len(progress):
        raise RuntimeError(
            f"streaming query {sink}: {n_batches} batches but only "
            f"{len(progress)} progress events kept — peak state would "
            "under-report"
        )
    rows_peak = bytes_peak = 0
    parts: set[int] = set()
    for p in progress:
        ops = p.get("stateOperators") or []
        rows_peak = max(rows_peak, sum(int(o.get("numRowsTotal") or 0) for o in ops))
        bytes_peak = max(
            bytes_peak, sum(int(o.get("memoryUsedBytes") or 0) for o in ops)
        )
        parts.update(int(o["numShufflePartitions"]) for o in ops)
    LAST_STATE_METRICS[name] = {
        "state_rows": rows_peak,
        "state_bytes": bytes_peak,
        "state_partitions": sorted(parts),
    }
    return out


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP)
               AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
    tags=("B27",),
    doc="Tumbling 5-minute windowed aggregate with a 1-minute "
    "watermark in APPEND mode: a window is emitted once, when the "
    "watermark passes its end, and its state is dropped — the only "
    "posture that survives an unbounded stream.  The staged flush row "
    "finalizes every real window; its own window (event_type='flush') "
    "stays open and is never emitted, so the oracle is plain batch "
    "time-bucketing over real events.",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    agg = s.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    res = agg.select(
        F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
    )
    return run_stream(res, "tumbling", "append")


@register(
    "stream_sliding_window",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, value FROM events
      WHERE ts IS NOT NULL
      UNION ALL
      SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS ws,
             value
      FROM events WHERE ts IS NOT NULL
    )
    SELECT CAST(ws AS TIMESTAMP) AS window_start,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total_value
    FROM b GROUP BY 1
    """,
    tags=("B27",),
    doc="Sliding window (10 min length, 5 min slide): every event lands "
    "in exactly two windows; oracle materializes both bucket "
    "assignments explicitly.",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    agg = s.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    res = agg.select(F.col("w.start").alias("window_start"), "n", "total_value")
    return run_stream(res, "sliding", "append")


@register(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
    tags=("B27",),
    doc="Session windows (10-minute gap) per user — Spark "
    "session_window vs the oracle's gaps-and-islands SQL.  A session "
    "closes when the next event is >= gap away (half-open interval), "
    "hence the oracle's >=.",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    agg = s.groupBy(
        F.session_window("ts", "10 minutes").alias("w"), "user_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    res = agg.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        "n_events",
        "total_value",
    )
    return run_stream(res, "session", "append")


@register(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT event_id, event_type, value FROM events
    """,
    tags=("B27", "B13"),
    doc="Streaming dedup: the staged source contains every event TWICE "
    "(two files); dropDuplicates on event_id with a watermark emits "
    "each exactly once — result equals plain events (the oracle).",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        events_stream(spark, sf_dir, copies=2)
        .filter(F.col("event_id") != FLUSH_EVENT_ID)
        .withWatermark("ts", "1 minute")
    )
    deduped = s.dropDuplicates(["event_id"]).select("event_id", "event_type", "value")
    return run_stream(deduped, "dedup", "append")


@register(
    "stream_late_data_filter",
    oracle="""
    WITH mx AS (SELECT max(ts) AS max_ts FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events, mx
    WHERE ts >= max_ts - INTERVAL '7 days'
    GROUP BY event_type
    """,
    tags=("B27", "B15"),
    doc="Watermark-style late-data policy expressed in batch: keep only "
    "events within 7 days of the stream head — the deterministic twin "
    "of withWatermark drop semantics (exact streaming drop timing is "
    "micro-batch-dependent, so the policy itself is what's contracted).",
)
def stream_late_data_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("max_ts"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 7 DAYS"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "stream_static_join",
    oracle="""
    WITH user_stats AS (
      SELECT user_id, round(avg(value), 6) AS user_avg
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.value, u.user_avg,
           CAST(e.value > u.user_avg AS BOOLEAN) AS above_avg
    FROM events e JOIN user_stats u ON e.user_id = u.user_id
    """,
    tags=("B27", "B4"),
    doc="Stream-static enrichment join: the static side (per-user "
    "averages) is recomputed per micro-batch against the stream — "
    "the standard dimension-enrichment shape; availableNow replay "
    "makes it equal to the batch join (the oracle).",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    static_stats = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.avg("value"), 6).alias("user_avg"))
    )
    s = events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    joined = s.join(static_stats, "user_id").select(
        "event_id",
        "user_id",
        "value",
        "user_avg",
        (F.col("value") > F.col("user_avg")).alias("above_avg"),
    )
    return run_stream(joined, "static_join", "append")


@register(
    "stream_scd2_pit_enrich",
    oracle="""
    WITH h AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER w AS prev
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate NULLS FIRST, o_orderkey)
    ), flagged AS (
      SELECT *, CASE WHEN prev IS NULL OR prev <> o_orderstatus
                     THEN 1 ELSE 0 END AS brk
      FROM h
    ), grp AS (
      SELECT *, sum(brk) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate NULLS FIRST, o_orderkey
                ROWS UNBOUNDED PRECEDING) AS version_no
      FROM flagged
    ), hist AS (
      SELECT o_custkey, o_orderstatus AS status,
             CAST(version_no AS INT) AS version_no,
             CAST(min(o_orderdate) AS TIMESTAMP) AS valid_from
      FROM grp GROUP BY o_custkey, o_orderstatus, version_no
    ), dim AS (
      SELECT *, lead(valid_from) OVER (PARTITION BY o_custkey
                ORDER BY version_no) AS valid_to
      FROM hist
    )
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           d.status AS status_at_event,
           d.version_no AS dim_version
    FROM events e JOIN dim d
      ON e.user_id = d.o_custkey
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    """,
    tags=("B27", "B4", "B11", "temporal"),
    doc="Streaming point-in-time dimension enrichment: each arriving "
    "event joins the SCD2 status history (scd2_status_history's "
    "gaps-and-islands build + lead() validity intervals) on key AND "
    "half-open interval containment, so the event carries the status "
    "AS OF its event time — never a later value, the feature-store "
    "leakage guarantee, now at ingestion.  The batch as-of mechanism "
    "(union + unbounded window, pit_dimension_join) cannot run on a "
    "stream; the interval stream-static join is the production "
    "mechanism: the dim rebuilds per micro-batch (collapsed "
    "metadata-weight version rows — broadcastable at any corpus "
    "scale) while the stream side stays stateless, so an unbounded "
    "firehose enriches leak-free with zero streaming state.",
)
def stream_scd2_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from scache_spark.operators.temporal import scd2_status_history

    hist = scd2_status_history(spark, sf_dir)
    vw = Window.partitionBy("o_custkey").orderBy("version_no")
    dim = hist.select(
        "o_custkey",
        "status",
        "version_no",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
    ).withColumn("valid_to", F.lead("valid_from").over(vw))
    s = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_id") >= 0)  # drop the staged flush row
        .select("event_id", "user_id", "ts")
    )
    joined = s.join(
        dim,
        (s["user_id"] == dim["o_custkey"])
        & (s["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (s["ts"] < dim["valid_to"])),
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("status").alias("status_at_event"),
        F.col("version_no").alias("dim_version"),
    )
    return run_stream(joined, "scd2_pit", "append")


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL '10 minutes' AND p.ts
    """,
    tags=("B27", "B4"),
    doc="Stream-stream inner join: purchases joined to same-user clicks "
    "within the preceding 10 minutes.  Both sides carry watermarks and "
    "the join condition bounds event time, so state is provably "
    "droppable — the only way a stream-stream join survives unbounded "
    "input.  availableNow replay makes it equal to the batch interval "
    "join (the oracle).",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 minute")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts BETWEEN purchase_ts - INTERVAL 10 MINUTES AND purchase_ts
            """
        ),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_ts",
    )
    return run_stream(joined, "ss_join", "append")


_SINK_ROOT = os.path.join(os.path.dirname(_STAGE_ROOT), ".stream_sink")


@register(
    "stream_foreachbatch_sink",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("B27", "B1"),
    doc="foreachBatch sink: each micro-batch appends its PARTIAL "
    "per-type aggregate to a parquet directory (the idempotent-sink "
    "pattern for stores without native streaming writers); the final "
    "read re-aggregates partials into totals.  Because count/sum are "
    "associative, the result equals the batch aggregate (the oracle) "
    "no matter how availableNow splits files into batches.",
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    run = f"{os.getpid()}_{next(_SINK_COUNTER)}"
    out = os.path.join(_SINK_ROOT, f"data_{run}")
    ckpt = os.path.join(_SINK_ROOT, f"ckpt_{run}")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_part"),
                F.sum("value").alias("t_part"),
            )
            .write.mode("append")
            .parquet(out)
        )

    src = events_stream(spark, sf_dir).filter(
        F.col("event_id") != FLUSH_EVENT_ID
    )
    _run_to_end(
        src.writeStream.foreachBatch(_sink).option("checkpointLocation", ckpt),
        "foreachBatch stream",
    )
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.sum("n_part").cast("long").alias("n"),
            F.round(F.sum("t_part"), 4).alias("total_value"),
        )
    )


@register(
    "stream_distinct_users_window",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) AS TIMESTAMP)
               AS window_start,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
    tags=("B27", "B13", "B7"),
    doc="Streaming COUNT DISTINCT per tumbling window via two CHAINED "
    "stateful operators: dropDuplicates on (user, window) first — "
    "sketch-free exact dedup whose state is one row per distinct pair "
    "and watermark-evicted — then an ordinary windowed count in append "
    "mode.  Distinct aggregation isn't directly expressible in a "
    "streaming agg; dedup-then-count is the canonical decomposition "
    "and shuffles only (user, window) pairs, never full events.",
)
def stream_distinct_users_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DIRTY-EVENTS CONTRACT: count-distinct counts identified users —
    # the NULL user_id would be a state key (and +1) in the dedup-
    # then-count plan but is skipped by the oracle's count(DISTINCT);
    # excluded explicitly.  NULL-ts rows never enter a time window.
    s = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .withWatermark("ts", "1 minute")
    )
    pairs = s.select(
        "user_id", F.window("ts", "15 minutes").alias("w")
    ).dropDuplicates(["user_id", "w"])
    agg = pairs.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    res = agg.select(F.col("w.start").alias("window_start"), "n_users")
    return run_stream(res, "distinct_users", "append")


@register(
    "stream_window_topk",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS ws,
             value, event_id
      FROM events),
    top AS (
      SELECT ws, value AS top_value, event_id AS top_event,
             row_number() OVER (PARTITION BY ws
                 ORDER BY value DESC, event_id DESC) AS rk
      FROM b)
    SELECT CAST(t.ws AS TIMESTAMP) AS window_start,
           CAST(count(*) AS BIGINT) AS n,
           round(t.top_value, 2) AS top_value,
           CAST(t.top_event AS BIGINT) AS top_event
    FROM b JOIN top t ON b.ws = t.ws AND t.rk = 1
    GROUP BY t.ws, t.top_value, t.top_event
    """,
    tags=("B27", "B10"),
    doc="Streaming top-1-per-window: the per-window max is carried as "
    "max(struct(value, event_id)) — a lexicographic struct max that "
    "is associative/commutative, so it folds map-side into O(1) state "
    "per window (a streaming-safe aggregate, where rank/row_number is "
    "not available on a stream).  The struct encodes the tie-break "
    "(higher value, then higher event_id) that the oracle states as "
    "ORDER BY value DESC, event_id DESC.",
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    agg = s.groupBy(F.window("ts", "15 minutes").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max(F.struct("value", "event_id")).alias("top"),
    )
    res = agg.select(
        F.col("w.start").alias("window_start"),
        "n",
        F.round(F.col("top.value"), 2).alias("top_value"),
        F.col("top.event_id").cast("long").alias("top_event"),
    )
    return run_stream(res, "window_topk", "append")


@register(
    "stream_session_dynamic_gap",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'error' THEN INTERVAL '5 minutes'
                  ELSE INTERVAL '10 minutes' END AS gap
      FROM events WHERE ts IS NOT NULL
    ),
    marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN max(ts + gap) OVER prev IS NULL
                    OR ts >= max(ts + gap) OVER prev
                  THEN 1 ELSE 0 END AS new_sess
      FROM base
      WINDOW prev AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
    tags=("B27",),
    doc="DYNAMIC-gap session windows: each event carries its own "
    "timeout (errors close after 5 minutes, everything else 10) via "
    "session_window's gap expression — per-event state TTL, which a "
    "static gap can't express.  The oracle is gaps-and-islands with "
    "a running max of per-event session ends; because timestamps are "
    "monotone within the partition, the max over ALL preceding ends "
    "equals the current session's end, so one window expresses the "
    "merge.  Append mode + the flush row keep state droppable "
    "exactly as in the static-session query.",
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    gap = F.when(F.col("event_type") == "error", "5 minutes").otherwise(
        "10 minutes"
    )
    agg = s.groupBy(
        F.session_window("ts", gap).alias("w"), "user_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    res = agg.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        "n_events",
        "total_value",
    )
    return run_stream(res, "session_dyn", "append")


@register(
    "stream_chained_window_agg",
    oracle="""
    WITH m AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type,
             CAST(count(*) AS BIGINT) AS n, sum(value) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    )
    SELECT CAST(time_bucket(INTERVAL '1 hour', ws) AS TIMESTAMP) AS hour_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(n) AS BIGINT) AS n_events,
           round(sum(v), 4) AS total_value
    FROM m GROUP BY 1, 2
    """,
    tags=("B27",),
    doc="CHAINED windowed aggregation (window-of-window): per-type "
    "5-minute counts re-aggregated into hourly rollups inside ONE "
    "streaming query via window_time() — the continuous-aggregate "
    "cascade (minute->hour->day) without an intermediate sink.  The "
    "watermark propagates through both stateful stages, so each level "
    "drops state as its windows close; the flush row finalizes every "
    "real 5-minute window and its own window is never emitted, so "
    "level 2 sees exactly the real partials (the oracle's inner "
    "GROUP BY).",
)
def stream_chained_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    lvl1 = s.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value").alias("v"),
    )
    lvl2 = lvl1.groupBy(
        F.window(F.window_time("w"), "1 hour").alias("h"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum("n").cast("long").alias("n_events"),
        F.sum("v").alias("raw_total"),
    )
    res = lvl2.select(
        F.col("h.start").alias("hour_start"),
        "event_type",
        "n_windows",
        "n_events",
        F.round(F.col("raw_total"), 4).alias("total_value"),
    )
    return run_stream(res, "chained", "append")


@register(
    "stream_stream_left_outer",
    oracle="""
    SELECT p.event_id AS purchase_id,
           coalesce(c.event_id, -1) AS click_id,
           p.user_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           CAST(coalesce(c.ts, TIMESTAMP '1970-01-01 00:00:00') AS TIMESTAMP)
               AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL '10 minutes' AND p.ts
    """,
    tags=("B27",),
    doc="Watermarked stream-stream LEFT OUTER join: purchases with no "
    "click in the trailing 10 minutes are emitted with null-side "
    "sentinels once the watermark proves no matching click can still "
    "arrive — the state-bounded outer join (unmatched rows surface in "
    "the no-data batch after the flush row advances the watermark "
    "past every purchase's match window).  Nulls are coalesced to "
    "sentinels on both engines so the driver's canonicalizer sees "
    "stable integer/timestamp columns.",
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each side KEEPS the flush row (Catalyst pushes the type filter
    # below the watermark node, so a side that filters it out would
    # freeze its watermark at its own last real event and the tail's
    # unmatched purchases would never finalize).  The flush row's
    # user_id (-1) matches no real event; its own unmatched emission
    # is dropped from the output below.
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "flush"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 minute")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "flush"))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts BETWEEN purchase_ts - INTERVAL 10 MINUTES AND purchase_ts
            """
        ),
        "leftOuter",
    ).select(
        "purchase_id",
        F.coalesce(F.col("click_id"), F.lit(-1).cast("long")).alias("click_id"),
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        F.coalesce(
            F.col("click_ts"),
            F.lit("1970-01-01 00:00:00").cast("timestamp"),
        ).alias("click_ts"),
    )
    # Flush-row hygiene on the BATCH result (a streaming-side filter
    # would be pushed below the watermark node and undo the fix
    # above).  The flush row's own window never closes (watermark =
    # flush - 1min < flush), so this is belt-and-braces.
    out = run_stream(joined, "ss_left_outer", "append")
    return out.filter(F.col("purchase_id") != FLUSH_EVENT_ID)


@register(
    "stream_update_mode_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events WHERE user_id >= 0 GROUP BY user_id
    """,
    tags=("B27",),
    doc="UPDATE output mode: an unwindowed running aggregate emits "
    "only the keys changed by each micro-batch (append can't express "
    "an ever-updating total; complete re-emits the world).  The sink "
    "collapse keeps each user's largest cumulative count — "
    "batch-equivalent however availableNow splits files.  This is "
    "the dashboard/serving posture: state is one row per key, "
    "bounded by key cardinality, not stream length.",
)
def stream_update_mode_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "value")
    )
    agg = s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("value").alias("raw_total"),
    )
    emitted = run_stream(agg, "update_totals", "update")
    return emitted.groupBy("user_id").agg(
        F.max("n_events").cast("long").alias("n_events"),
        F.round(F.max_by("raw_total", "n_events"), 4).alias("total_value"),
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT event_id, event_type, value FROM events
    """,
    tags=("B27", "B13"),
    doc="Streaming dedup with GUARANTEED state eviction: "
    "dropDuplicatesWithinWatermark keeps a key only until the "
    "watermark passes its event time + delay, then drops it — unlike "
    "plain dropDuplicates (stream_dedup), whose key set grows "
    "forever on an unbounded stream.  Correct whenever duplicates "
    "arrive within the watermark delay of each other (true for the "
    "staged twice-written corpus); the posture a 100 TB/day firehose "
    "requires.",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        events_stream(spark, sf_dir, copies=2)
        .filter(F.col("event_id") != FLUSH_EVENT_ID)
        .withWatermark("ts", "1 minute")
    )
    deduped = s.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "event_type", "value"
    )
    return run_stream(deduped, "dedup_wm", "append")


@register(
    "stream_join_then_window",
    oracle="""
    WITH joined AS (
      SELECT p.ts AS purchase_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts BETWEEN p.ts - INTERVAL '10 minutes' AND p.ts
    )
    SELECT CAST(time_bucket(INTERVAL '1 hour', purchase_ts) AS TIMESTAMP)
               AS hour_start,
           CAST(count(*) AS BIGINT) AS n_attributed
    FROM joined GROUP BY 1
    """,
    tags=("B27",),
    doc="CHAINED stateful operators (Spark 3.5+): a watermarked "
    "stream-stream interval join feeding a tumbling windowed count "
    "in ONE streaming query, append mode end to end — the join's "
    "watermark propagates into the window so BOTH stages drop state. "
    " Before multi-stateful support this required an intermediate "
    "sink; now attribution joins and their rollups run as one "
    "exactly-once pipeline.",
)
def stream_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "flush"))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 minute")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "flush"))
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts BETWEEN purchase_ts - INTERVAL 10 MINUTES AND purchase_ts
            """
        ),
    )
    agg = joined.groupBy(
        F.window("purchase_ts", "1 hour").alias("w")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_attributed"))
    res = agg.select(
        F.col("w.start").alias("hour_start"), "n_attributed"
    )
    return run_stream(res, "join_then_window", "append")


@register(
    "statestore_dedup_audit",
    oracle="""
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_state_keys,
           CAST(min(user_id) AS BIGINT) AS min_user,
           CAST(max(user_id) AS BIGINT) AS max_user
    FROM events WHERE user_id % 7 = 0
    """,
    tags=("B27", "B22", "B20"),
    doc="Spark 4 state-store READER (format 'statestore', "
    "SPARK-45511): a dropDuplicates stream runs to completion, then "
    "its checkpoint state is opened as a plain batch DataFrame and "
    "audited — the state keys must be exactly the distinct sampled "
    "users the batch oracle computes.  This is the ops surface the "
    "reference's BlockManager debugging endpoints approximate "
    "(storage/BlockManagerMaster.scala getMemoryStatus): state that "
    "was previously a black box inside RocksDB/HDFS files becomes "
    "queryable for capacity planning — THE tool for diagnosing the "
    "unbounded-state growth this query deliberately exhibits (no "
    "watermark on the dedup; production uses "
    "dropDuplicatesWithinWatermark, cf. "
    "stream_dedup_within_watermark, and this reader is how the "
    "difference is MEASURED).  The audit aggregate runs on the state "
    "files directly — the stream is not replayed.",
)
def statestore_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ckpt = os.path.join(
        _STAGE_ROOT, f"ckpt_audit_{os.getpid()}_{next(_SINK_COUNTER)}"
    )
    s = (
        events_stream(spark, sf_dir)
        .filter(
            (F.col("event_id") != FLUSH_EVENT_ID)
            & (F.col("user_id") % 7 == 0)
        )
        .dropDuplicates(["user_id"])
    )
    # only the checkpoint is read back, so the rows go to a noop sink
    _run_to_end(
        s.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt),
        "state-audit stream",
    )
    state = spark.read.format("statestore").load(ckpt)
    return state.agg(
        F.count(F.lit(1)).cast("long").alias("n_state_keys"),
        F.min("key.user_id").cast("long").alias("min_user"),
        F.max("key.user_id").cast("long").alias("max_user"),
    )


# ---------------------------------------------------------------------------
# streaming Count-Min sketch — bounded state at ANY key cardinality
# ---------------------------------------------------------------------------


def _stream_cms_oracle() -> str:
    from scache_spark.operators.extra import cms_cell_case_sql

    cell_case = cms_cell_case_sql("uk")
    return f"""
    WITH ev AS (
      SELECT time_bucket(INTERVAL '6 hours', ts) AS ws,
             user_id,
             CAST(user_id AS VARCHAR) AS uk
      FROM events WHERE user_id >= 0 AND ts IS NOT NULL
    ),
    incs AS (
      SELECT ws, r.r AS r, {cell_case} AS cell
      FROM ev CROSS JOIN (VALUES (0), (1), (2)) r(r)
    ),
    sketch AS (
      SELECT ws, r, cell, CAST(count(*) AS BIGINT) AS cnt
      FROM incs GROUP BY ws, r, cell
    ),
    probes AS (
      SELECT w.ws, u.user_id, r.r AS r, {cell_case} AS cell
      FROM (SELECT DISTINCT ws FROM ev) w
      CROSS JOIN (SELECT i AS user_id, CAST(i AS VARCHAR) AS uk
                  FROM unnest(range(0, 10)) t(i)) u
      CROSS JOIN (VALUES (0), (1), (2)) r(r)
    ),
    est AS (
      SELECT p.ws, p.user_id,
             CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est_n
      FROM probes p LEFT JOIN sketch s
        ON p.ws = s.ws AND p.r = s.r AND p.cell = s.cell
      GROUP BY p.ws, p.user_id
    ),
    tru AS (
      SELECT ws, user_id, CAST(count(*) AS BIGINT) AS true_n
      FROM ev WHERE user_id < 10 GROUP BY ws, user_id
    )
    SELECT CAST(e.ws AS TIMESTAMP) AS window_start,
           CAST(e.user_id AS BIGINT) AS user_id,
           CAST(coalesce(t.true_n, 0) AS BIGINT) AS true_n,
           e.est_n,
           CAST(e.est_n - coalesce(t.true_n, 0) AS BIGINT) AS overcount
    FROM est e LEFT JOIN tru t
      ON e.ws = t.ws AND e.user_id = t.user_id
    """


@register(
    "stream_cms_heavy_users",
    oracle=_stream_cms_oracle(),
    tags=("B27", "B7", "B16"),
    doc="STREAMING Count-Min sketch: 6-hour-window user-frequency sketches "
    "maintained at arrival — the reason sketches exist on streams: "
    "an exact per-key streaming count holds one state row PER KEY "
    "(unbounded at web-scale user cardinality), while this query's "
    "state is <= open_windows x 768 cells NO MATTER how many "
    "distinct users arrive.  The 3 (row, cell) increments explode "
    "map-side per event (the batch heavy_hitters_cms expressions run "
    "at arrival), the windowed groupBy(window, r, cell) "
    "map-side-combines to <=768 partials per partition, and append "
    "mode emits each window's finished sketch exactly once when the "
    "watermark closes it — a mergeable, re-aggregatable frequency "
    "summary per hour, queryable forever after without replaying "
    "the stream.  The batch-side probe then scores user ids 0-9 "
    "against the emitted sketches (min over rows, zero-coalesced so "
    "an absent cell means 0, not a dropped row): overcount >= 0 "
    "in every row is the CMS guarantee, cross-engine-verified "
    "cell-for-cell by the oracle.  All-integer outputs.",
)
def stream_cms_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.api import cms_increments

    def rc_explode(key_col: F.Column) -> F.Column:
        return cms_increments(key_col).alias("rc")

    # the flush row is NOT filtered out: a user_id predicate would be
    # pushed below the EventTimeWatermark node and the watermark would
    # stop at the last real event, leaving the final hour unclosed.
    # The flush's own far-future window never closes, so it is never
    # emitted — append mode does the filtering for free.
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    incs = s.select(
        F.window("ts", "6 hours").alias("w"),
        rc_explode(F.col("user_id").cast("string")),
    )
    sketch = (
        incs.groupBy("w", F.col("rc.r").alias("r"), F.col("rc.cell").alias("cell"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "r", "cell", "cnt")
    )
    sk = run_stream(sketch, "cms_users", "append")

    # batch-side probe of the EMITTED sketches (the post-hoc consumer:
    # no stream replay, no per-key state ever existed)
    wins = sk.select("window_start").distinct()
    uids = spark.range(10).select(F.col("id").alias("user_id"))
    probes = (
        wins.crossJoin(F.broadcast(uids))
        .select(
            "window_start",
            "user_id",
            rc_explode(F.col("user_id").cast("string")),
        )
        .select(
            F.col("window_start").alias("p_ws"),
            "user_id",
            F.col("rc.r").alias("p_r"),
            F.col("rc.cell").alias("p_cell"),
        )
    )
    est = (
        probes.join(
            sk,
            (F.col("p_ws") == F.col("window_start"))
            & (F.col("p_r") == F.col("r"))
            & (F.col("p_cell") == F.col("cell")),
            "left",
        )
        .groupBy(F.col("p_ws").alias("window_start"), F.col("user_id"))
        .agg(F.min(F.coalesce("cnt", F.lit(0).cast("long"))).alias("est_n"))
    )
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") >= 0) & (F.col("user_id") < 10)
    )
    tru = ev.groupBy(
        F.window("ts", "6 hours")["start"].alias("window_start"),
        "user_id",
    ).agg(F.count(F.lit(1)).cast("long").alias("true_n"))
    return est.join(tru, ["window_start", "user_id"], "left").select(
        "window_start",
        F.col("user_id").cast("long").alias("user_id"),
        F.coalesce("true_n", F.lit(0).cast("long")).alias("true_n"),
        "est_n",
        (F.col("est_n") - F.coalesce("true_n", F.lit(0).cast("long")))
        .cast("long")
        .alias("overcount"),
    )


# ---------------------------------------------------------------------------
# CDC-consuming serving table: per-batch read-modify-write
# ---------------------------------------------------------------------------


@register(
    "stream_cdc_serving_table",
    oracle="""
    WITH g AS (
      SELECT user_id, event_type,
             CASE WHEN abs(value * 100) < 4.611686018427388e18
                  THEN CAST(floor(value * 100) AS BIGINT) END AS cents
      FROM events
    )
    SELECT CAST(user_id % 10 AS INT) AS cohort,
           CAST(sum(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END)
                AS BIGINT) AS n_live,
           CAST(sum(CASE WHEN event_type = 'error'
                         THEN -cents ELSE cents END)
                AS BIGINT) AS cents_live
    FROM g GROUP BY 1
    """,
    tags=("B27", "B7", "B1"),
    doc="CDC-consuming SERVING TABLE: the event stream is read as a "
    "signed change feed ('error' rows are retractions carrying -1 / "
    "-cents, everything else upserts +1 / +cents — the CDC tombstone "
    "convention) and foreachBatch maintains a materialized per-cohort "
    "view by READ-MODIFY-WRITE: each micro-batch aggregates its own "
    "deltas (map-side combinable, metadata-weight), full-outer merges "
    "them into the previous view VERSION, and publishes the merged "
    "view as a new immutable version keyed by batch id — an atomic, "
    "re-runnable publish (re-executing batch b rewrites view_b "
    "identically, the exactly-once recipe the manifest sink uses).  "
    "maxFilesPerTrigger=1 forces multiple micro-batches so the RMW "
    "path is genuinely exercised under availableNow.  Unlike "
    "stream_foreachbatch_sink's append-partials (whose serving read "
    "re-aggregates ALL history), the read here is the LAST version — "
    "|cohorts| rows at any stream length: the serving-table pattern "
    "for stores without native streaming upsert.  Because the signed "
    "sums are associative, the final view equals the batch signed "
    "aggregate no matter how the feed splits — integer cents, "
    "engine-exact.",
)
def stream_cdc_serving_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    run = f"{os.getpid()}_{next(_SINK_COUNTER)}"
    ckpt = os.path.join(_SINK_ROOT, f"ckpt_cdc_{run}")
    view_base = os.path.join(_SINK_ROOT, f"view_cdc_{run}")
    last = {"bid": -1}

    sign = F.when(F.col("event_type") == "error", -1).otherwise(1)
    # DIRTY-EVENTS CONTRACT (jsonl_corrupt_records_audit precedent):
    # cents is range-guarded before floor — an absorbing |value| would
    # saturate to Long.MaxValue here and overflow the running sum
    # (ANSI ARITHMETIC_OVERFLOW mid-batch) while DuckDB throws on the
    # CAST; unrepresentable and NULL values contribute a NULL cents
    # (the change still counts in n_live).
    cents = F.when(
        F.abs(F.col("value") * 100) < F.lit(float(2**62)),
        F.floor(F.col("value") * 100).cast("long"),
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy(
            (F.col("user_id") % 10).cast("int").alias("cohort")
        ).agg(
            F.sum(sign).cast("long").alias("dn"),
            F.sum(sign * cents).alias("dc"),
        )
        # the previous view is DERIVED from batch_id, never from
        # mutable driver state: foreachBatch may re-execute a batch
        # after a transient failure, and a re-run of batch b must
        # merge against view_v{b-1} (untouched on disk), not against
        # its own half-published output — this is what makes the
        # versioned publish genuinely re-runnable
        prev_path = f"{view_base}_v{batch_id - 1}"
        if batch_id > 0 and os.path.isdir(prev_path):
            prev = batch_df.sparkSession.read.parquet(prev_path)
            merged = prev.join(delta, "cohort", "full").select(
                "cohort",
                (
                    F.coalesce("n_live", F.lit(0).cast("long"))
                    + F.coalesce("dn", F.lit(0).cast("long"))
                ).alias("n_live"),
                (
                    F.coalesce("cents_live", F.lit(0).cast("long"))
                    + F.coalesce("dc", F.lit(0).cast("long"))
                ).alias("cents_live"),
            )
        else:
            merged = delta.select(
                "cohort",
                F.col("dn").alias("n_live"),
                F.col("dc").alias("cents_live"),
            )
        out = f"{view_base}_v{batch_id}"
        merged.coalesce(1).write.mode("overwrite").parquet(out)
        last["bid"] = max(last["bid"], batch_id)

    src = spark.readStream.schema(SCHEMAS["events"]).option(
        "maxFilesPerTrigger", "1"
    ).parquet(_staged_events_dir(spark, sf_dir)).filter(
        F.col("event_id") != FLUSH_EVENT_ID
    )
    _run_to_end(
        src.writeStream.foreachBatch(_apply).option("checkpointLocation", ckpt),
        "cdc serving stream",
    )
    return spark.read.parquet(f"{view_base}_v{last['bid']}").select(
        F.col("cohort").cast("int"),
        F.col("n_live").cast("long"),
        F.col("cents_live").cast("long"),
    )
