"""Temporal joins (as-of, interval/range) — operators Spark lacks as
primitives, composed scale-first from built-ins (SURVEY.md custom-
operator rule (a): composition before UDFs).

As-of join via union+window: tag both streams, union, one window sort
per key, last_value(ignorenulls) carries the most recent left-side row
forward.  This is O(n log n) per key with ONE shuffle — versus the
naive inequality join whose range predicate forces a broadcast
nested loop (O(n·m)).  The same trick is how streaming engines do
temporal joins; it survives 100 TB because it's just a window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scache_spark import api
from scache_spark.catalog import load_table
from scache_spark.functions import bounded_window
from scache_spark.registry import register


@register(
    "asof_join_last_click",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, 'click' AS side FROM events
      WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, event_id, 'purchase' AS side FROM events
      WHERE event_type = 'purchase'
    ),
    carried AS (
      SELECT user_id, ts, event_id, side,
             max(CASE WHEN side = 'click' THEN ts END)
                 OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_click_ts
      FROM tagged
    )
    SELECT event_id AS purchase_id, user_id,
           CAST(ts AS TIMESTAMP) AS purchase_ts,
           CAST(last_click_ts AS TIMESTAMP) AS last_click_ts
    FROM carried WHERE side = 'purchase'
    """,
    tags=("temporal", "B11"),
    doc="As-of join: for each purchase, the user's most recent click "
    "at or before the purchase time — via union+window (one shuffle on "
    "user_id), not an inequality join (broadcast-nested-loop at "
    "scale).  Total order (ts, side, event_id) makes simultaneous "
    "events deterministic: 'click' sorts before 'purchase', so a click "
    "with the purchase's own timestamp is carried (api.asof_join is "
    "the strictly-before variant).",
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit("click").alias("side")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit("purchase").alias("side")
    )
    tagged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = tagged.withColumn(
        "last_click_ts",
        F.max(F.when(F.col("side") == "click", F.col("ts"))).over(w),
    )
    return carried.filter(F.col("side") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "last_click_ts",
    )


@register(
    "range_join_ship_window",
    oracle="""
    SELECT o_orderkey,
           CAST(count(*) AS BIGINT) AS n_shipped_30d,
           round(sum(l_quantity), 2) AS qty_30d
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
      AND l_shipdate < o_orderdate + INTERVAL '30 days'
    GROUP BY o_orderkey
    """,
    tags=("temporal", "B4"),
    doc="Interval/range join done right at scale: the EQUI key "
    "(l_orderkey = o_orderkey) drives a hash join; the range predicate "
    "is a post-join filter — never a standalone inequality join.",
)
def range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        )
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shipped_30d"),
            F.round(F.sum("l_quantity"), 2).alias("qty_30d"),
        )
    )


@register(
    "time_bucket_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau
    FROM events GROUP BY 1, 2
    """,
    tags=("temporal", "B15", "B7"),
    doc="Hypertable-style daily rollup with per-bucket distinct users — "
    "the continuous-aggregate shape (at scale: incremental via "
    "Structured Streaming, stream_tumbling_window).",
)
def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
        F.countDistinct("user_id").cast("long").alias("dau"),
    )


@register(
    "funnel_session_conversion",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    per_session AS (
      SELECT user_id, sid,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(has_click) AS BIGINT) AS n_with_click,
           CAST(sum(has_click * has_purchase) AS BIGINT) AS n_converted,
           CAST(sum(has_click * has_purchase) AS DOUBLE)
             / nullif(sum(has_click), 0) AS conversion_rate
    FROM per_session
    """,
    tags=("temporal", "B11", "B27"),
    doc="Session-based funnel: sessionize (10-min gap), flag click and "
    "purchase per session, conversion = P(purchase | click).  One "
    "shuffle on user_id serves sessionization and flags; the final "
    "aggregate is a scalar.",
)
def funnel_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DIRTY-EVENTS CONTRACT: a NULL event time cannot be sessionized
    # (and the engines even disagree on NULL sort position: Spark
    # nulls-first, DuckDB nulls-last) — excluded on both sides.
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # event_id tie-break: the sessionizer runs TWO window passes (gap
    # flag, then running session id), and with duplicate (user_id, ts)
    # rows an engine may re-sort between passes with a different tie
    # order — splitting a tie group across sessions (found by the x10
    # scale-stress replica, where every ts appears 10x).
    sess = api.sessionize(
        ev, user_col="user_id", ts_col="ts", gap="10 minutes", order_cols=("event_id",)
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "has_click"
        ),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_purchase"
        ),
    )
    return per_session.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("has_click").cast("long").alias("n_with_click"),
        F.sum(F.col("has_click") * F.col("has_purchase"))
        .cast("long")
        .alias("n_converted"),
        (
            F.sum(F.col("has_click") * F.col("has_purchase")).cast("double")
            / F.nullif(F.sum("has_click"), F.lit(0))
        ).alias("conversion_rate"),
    )


@register(
    "gap_fill_daily_revenue",
    oracle="""
    WITH spine AS (
      SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-03-31',
                                    INTERVAL 1 DAY)) AS day),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT CAST(s.day AS DATE) AS day,
           coalesce(d.n_orders, 0) AS n_orders,
           round(coalesce(d.revenue, 0.0), 2) AS revenue,
           round(coalesce(last_value(d.revenue IGNORE NULLS)
                 OVER (ORDER BY s.day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 0.0), 2) AS revenue_locf
    FROM spine s LEFT JOIN daily d ON CAST(s.day AS DATE) = d.day
    """,
    tags=("temporal", "B11", "B15", "B19"),
    doc="Calendar gap-filling: a generated date spine LEFT-joins the "
    "daily aggregate; missing days zero-fill, and a last-observation-"
    "carried-forward column fills via last(ignorenulls) over an "
    "ordered frame.  The spine is sequence()+explode — one row per "
    "day, broadcast-joinable.  The LOCF window here is a single "
    "ordered pass over the 91-day spine (the aggregate, not the fact "
    "table); at 100 TB partition the spine window by month/entity so "
    "no single ordered partition grows unbounded.",
)
def gap_fill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-01-01").cast("date"),
                F.lit("1996-03-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    w = bounded_window("day", "day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.round(F.coalesce("revenue", F.lit(0.0)), 2).alias("revenue"),
            F.round(
                F.coalesce(F.last("revenue", ignorenulls=True).over(w), F.lit(0.0)),
                2,
            ).alias("revenue_locf"),
        )
    )


@register(
    "scd2_status_history",
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
    )
    SELECT o_custkey,
           o_orderstatus AS status,
           CAST(version_no AS INT) AS version_no,
           CAST(min(o_orderdate) AS TIMESTAMP) AS valid_from,
           CAST(max(o_orderdate) AS TIMESTAMP) AS last_seen,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM grp
    GROUP BY o_custkey, o_orderstatus, version_no
    """,
    tags=("temporal", "B11", "B7"),
    doc="SCD2 (slowly-changing-dimension type 2) history build: "
    "per-customer order-status runs collapsed into effective-dated "
    "version rows via gaps-and-islands (lag → break flag → running "
    "sum → group).  This is how a warehouse derives dimension "
    "validity intervals from an event log.  Both windows and the "
    "final aggregate share ONE hash partitioning on custkey — the "
    "history never shuffles twice.  Ordering is total "
    "((o_orderdate, o_orderkey)), so version numbering is "
    "deterministic across engines and partition counts.",
)
def scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # NULLS FIRST explicit on the nullable date key (dirty-orders
    # contract, SCALE.md §17): engine defaults differ
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_first(), "o_orderkey"
    )
    flagged = o.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        "o_orderkey",
        F.when(
            F.lag("o_orderstatus").over(w).isNull()
            | (F.lag("o_orderstatus").over(w) != F.col("o_orderstatus")),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    grp = flagged.withColumn(
        "version_no",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return grp.groupBy(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        F.col("version_no").cast("int").alias("version_no"),
    ).agg(
        F.min("o_orderdate").alias("valid_from"),
        F.max("o_orderdate").alias("last_seen"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )


@register(
    "rolling_7day_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             sum(o_totalprice) AS rev,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1)
    SELECT CAST(day AS DATE) AS day,
           n_orders,
           round(rev, 2) AS revenue,
           round(sum(rev) OVER (ORDER BY day
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW), 2)
               AS revenue_7d
    FROM daily
    """,
    tags=("temporal", "B11", "B15"),
    doc="Trailing 7-day rolling revenue via a TIME-based RANGE frame — "
    "unlike a ROWS frame, missing days don't stretch the horizon.  "
    "Spark's rangeBetween needs a numeric ordering key, so the frame "
    "orders by epoch-day (datediff from 1970-01-01) with range "
    "[-6, 0]: exactly DuckDB's RANGE INTERVAL 6 DAY PRECEDING.  The "
    "window runs over the pre-aggregated daily frame (one row per "
    "day), not the fact table; at scale partition it by entity so no "
    "ordered partition is unbounded.",
)
def rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum("o_totalprice").alias("rev"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    w = (
        bounded_window("day", F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "day",
        "n_orders",
        F.round("rev", 2).alias("revenue"),
        F.round(F.sum("rev").over(w), 2).alias("revenue_7d"),
    )


@register(
    "range_bucket_join",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(date_part('epoch',
               max(ts) - TIMESTAMP '2024-01-01') / 14400) AS BIGINT) AS ns
      FROM events),
    w AS (
      SELECT g AS promo_id,
             TIMESTAMP '2024-01-01' + g * INTERVAL 4 HOUR AS w_start,
             TIMESTAMP '2024-01-01' + g * INTERVAL 4 HOUR
               + INTERVAL 3 HOUR AS w_end
      FROM generate_series(0, 1000) AS t(g), b WHERE g <= ns)
    SELECT promo_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 2) AS total_value
    FROM w JOIN events ON ts >= w_start AND ts < w_end
    GROUP BY promo_id
    """,
    tags=("B4", "B7", "B15"),
    doc="Interval (range) join — custom-operator rule (a): a derived "
    "table of 3-hour promo windows on a 4-hour stride is joined to "
    "events on `ts BETWEEN w_start AND w_end` with NO equi key.  "
    "Executed naively that predicate forces a broadcast nested loop "
    "(O(n·m) comparisons); instead both sides are mapped to 4-hour "
    "epoch buckets — each window EXPLODES to the bucket range it "
    "spans via sequence(), each event to exactly one bucket — so the "
    "range join becomes an equi-join on bucket with the range "
    "predicate left as a cheap residual filter.  At 100 TB this "
    "shuffles on a uniformly distributed integer key and never "
    "materializes the cross product; the bucket width tunes the "
    "replication factor (windows replicate per bucket spanned, "
    "events never replicate).",
)
def range_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    origin = F.lit("2024-01-01").cast("timestamp")
    stride = 14400  # 4 h in seconds

    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        "user_id",
        "value",
        F.floor(
            (F.unix_timestamp("ts") - F.unix_timestamp(origin)) / stride
        ).alias("bucket"),
    )
    n_strides = ev.agg(
        F.floor(
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(origin)) / stride
        ).alias("ns")
    )
    w = (
        n_strides.select(
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("ns"))).alias(
                "promo_id"
            )
        )
        .select(
            "promo_id",
            F.timestamp_seconds(
                F.unix_timestamp(origin) + F.col("promo_id") * stride
            ).alias("w_start"),
            F.timestamp_seconds(
                F.unix_timestamp(origin) + F.col("promo_id") * stride + 10800
            ).alias("w_end"),
        )
        # generic bucket expansion: one row per 4h bucket the window
        # touches (here exactly one, but the code handles spans)
        .select(
            "promo_id",
            "w_start",
            "w_end",
            F.explode(
                F.sequence(
                    F.floor(
                        (F.unix_timestamp("w_start") - F.unix_timestamp(origin))
                        / stride
                    ),
                    F.floor(
                        (
                            F.unix_timestamp("w_end")
                            - 1
                            - F.unix_timestamp(origin)
                        )
                        / stride
                    ),
                )
            ).alias("bucket"),
        )
    )
    return (
        ev.join(w, "bucket")
        .filter((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .groupBy("promo_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "cohort_retention",
    oracle="""
    WITH first_wk AS (
      SELECT user_id, CAST(min(date_trunc('week', ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id),
    act AS (
      SELECT DISTINCT e.user_id, f.cohort,
             CAST(date_diff('day', f.cohort,
                            CAST(date_trunc('week', e.ts) AS DATE)) / 7
                  AS INT) AS wk_offset
      FROM events e JOIN first_wk f ON e.user_id = f.user_id)
    SELECT cohort, wk_offset, CAST(count(*) AS BIGINT) AS n_active
    FROM act GROUP BY cohort, wk_offset
    """,
    tags=("B4", "B7", "B15"),
    doc="Cohort retention matrix: users grouped by first-activity "
    "week, counted in each later week they return.  Two aggregations "
    "share ONE shuffle key (user_id): the first-week frame groups on "
    "it and the activity join re-uses the same partitioning, so AQE "
    "plans a single exchange of the fact table; the final "
    "(cohort, offset) grid is tiny.  Week offsets are computed as "
    "day-difference/7 between week-truncated DATES — exact integer "
    "arithmetic, identical across engines (both truncate weeks to "
    "Monday).",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    )
    first_wk = ev.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = (
        ev.join(first_wk, "user_id")
        .select(
            "user_id",
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("int")
            .alias("wk_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort", "wk_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events WHERE ts IS NOT NULL),
    pairs AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type)
    SELECT from_type, to_type, n_trans,
           round(n_trans / CAST(sum(n_trans) OVER
                 (PARTITION BY from_type) AS DOUBLE), 6) AS p_trans
    FROM pairs
    """,
    tags=("B7", "B11"),
    doc="First-order Markov transition matrix over per-user event "
    "sequences (the sequence-statistics pass of a behavioral/training "
    "pipeline).  lead() over (user, time) forms consecutive pairs "
    "with ONE shuffle on user_id; the pair counts and the row-"
    "normalizing window both operate on the tiny |types|^2 matrix.  "
    "The sort key includes event_id so same-timestamp ties order "
    "identically in both engines.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        # DIRTY-EVENTS CONTRACT: NULL event time has no position in a
        # per-user sequence (Spark nulls-first vs DuckDB nulls-last
        # would split the tie differently) — excluded on both sides.
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
    )
    norm = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_trans",
        F.round(
            F.col("n_trans") / F.sum("n_trans").over(norm).cast("double"), 6
        ).alias("p_trans"),
    )


@register(
    "session_path_mining",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, event_type, ts, event_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered),
    paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY user_id, sid)
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
    tags=("B7", "B11", "B14"),
    doc="Session path mining (behavioral sequence analysis for "
    "training-data pipelines): sessionize on a 10-minute gap, render "
    "each session as its ordered event-type path, count the top-20 "
    "paths.  ONE shuffle on user_id serves sessionization AND path "
    "assembly; the per-session collect is an array_sort over "
    "(ts, event_id, type) structs so the path string is order-"
    "deterministic in both engines (collect_list alone is not); the "
    "final top-20 is TakeOrderedAndProject over the small "
    "(path, count) frame.  Per-session state is bounded by session "
    "length, never corpus size.",
)
def session_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DIRTY-EVENTS CONTRACT: NULL-ts rows excluded (unsessionizable).
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
                >= 600 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = ordered.withColumn(
        "sid",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = sess.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


@register(
    "asof_join_next_click",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, 'click' AS side FROM events
      WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, event_id, 'purchase' AS side FROM events
      WHERE event_type = 'purchase'
    ),
    carried AS (
      SELECT user_id, ts, event_id, side,
             min(CASE WHEN side = 'click' THEN ts END)
                 OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                 AS next_click_ts
      FROM tagged
    )
    SELECT event_id AS purchase_id, user_id,
           CAST(ts AS TIMESTAMP) AS purchase_ts,
           CAST(next_click_ts AS TIMESTAMP) AS next_click_ts
    FROM carried WHERE side = 'purchase'
    """,
    tags=("temporal", "B11"),
    doc="FORWARD as-of join: for each purchase, the user's earliest "
    "strictly later click (did the buyer come back?) — the mirror of "
    "asof_join_last_click with a FOLLOWING frame carrying min "
    "backwards.  Same scale shape: one shuffle on user_id, one window "
    "sort, no inequality join.  'purchase' > 'click' in the side "
    "tie-break, so a click at the exact purchase timestamp counts as "
    "earlier, not later — consistent in both directions.",
)
def asof_join_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit("click").alias("side")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit("purchase").alias("side")
    )
    tagged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    carried = tagged.withColumn(
        "next_click_ts",
        F.min(F.when(F.col("side") == "click", F.col("ts"))).over(w),
    )
    return carried.filter(F.col("side") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "next_click_ts",
    )


@register(
    "time_decayed_engagement",
    oracle="""
    WITH ref AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS t_ref FROM events
    ),
    scored AS (
      SELECT user_id,
             exp(-CAST(ref.t_ref - CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE)
                 / 604800.0) * value AS w
      FROM events, ref
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(w), 6) AS decayed_score
    FROM scored GROUP BY user_id
    """,
    tags=("temporal", "B15", "B16"),
    doc="Recency-weighted engagement: each event's value decays "
    "exponentially with its age from the stream head (tau = 7 days), "
    "summed per user — the closed-form, order-independent alternative "
    "to a recursive EMA, so it is a plain map-side-combinable "
    "aggregate at any scale.  Ages are computed as INTEGER second "
    "deltas (identical in both engines) before the one exp() per "
    "row; the sum is rounded per the float-exactness rules.",
)
def time_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.unix_timestamp(F.max("ts")).alias("t_ref"))
    scored = ev.crossJoin(F.broadcast(ref)).select(
        "user_id",
        (
            F.exp(
                -(F.col("t_ref") - F.unix_timestamp("ts")).cast("double")
                / F.lit(604800.0)
            )
            * F.col("value")
        ).alias("w"),
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("w"), 6).alias("decayed_score"),
    )


@register(
    "sequence_pattern_match",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                 AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS INT) AS n_events,
           CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS INT)
               AS n_view_to_purchase,
           CAST(len(regexp_extract_all(seq, 'cp')) AS INT) AS n_direct_click_buy,
           CAST(len(regexp_extract_all(seq, 'ee+')) AS INT) AS n_error_bursts
    FROM seqs
    """,
    tags=("temporal", "B11", "B14"),
    doc="MATCH_RECOGNIZE-lite: each user's event history collapses to "
    "an ordered initial-letter string (one grouped ordered-agg), and "
    "behavioral patterns become regexes over it — view-sessions "
    "ending in purchase, click-then-buy, repeated-error bursts.  "
    "Counting uses leftmost non-overlapping matching, identical in "
    "both engines.  At 100 TB: one shuffle on user_id, per-user "
    "state is one short string, and the regex scan is codegen — the "
    "sequence-mining shape without a stateful engine.",
)
def sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("i")
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["i"]
                ),
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("int").alias("n_events"),
        F.regexp_count("seq", F.lit(r"v[^p]*p")).cast("int").alias(
            "n_view_to_purchase"
        ),
        F.regexp_count("seq", F.lit("cp")).cast("int").alias("n_direct_click_buy"),
        F.regexp_count("seq", F.lit("ee+")).cast("int").alias("n_error_bursts"),
    )


@register(
    "pit_dimension_join",
    oracle="""
    WITH tagged AS (
      SELECT o_custkey AS uid, o_orderdate AS ts, 0 AS side,
             CAST(-1 AS BIGINT) AS event_id,
             lpad(CAST(epoch_us(o_orderdate) AS VARCHAR), 20, '0')
               || ':' || o_orderpriority AS dim_key
      FROM orders WHERE o_orderdate IS NOT NULL
      UNION ALL
      SELECT user_id AS uid, ts, 1 AS side, event_id,
             CAST(NULL AS VARCHAR) AS dim_key
      FROM events WHERE ts IS NOT NULL
    ),
    carried AS (
      SELECT uid, ts, side, event_id,
             max(dim_key) OVER (PARTITION BY uid ORDER BY ts, side, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS last_dim
      FROM tagged
    )
    SELECT event_id, uid AS user_id, CAST(ts AS TIMESTAMP) AS ts,
           nullif(split_part(last_dim, ':', 2), '') AS prio_at_event
    FROM carried WHERE side = 1
    """,
    tags=("temporal", "B11", "B4"),
    doc="Point-in-time dimension join (the feature-store correctness "
    "op): each event is enriched with the customer's order priority "
    "AS OF the event timestamp — never a later value, so features "
    "computed from it cannot leak the future.  Same union+window "
    "shape as the as-of joins: dimension-change rows and fact rows "
    "interleave in one (ts, side, id)-ordered window per key, and "
    "the latest change is carried as a max over "
    "zero-padded-epoch||value strings (lexicographic max = latest "
    "change, value rides along — no IGNORE NULLS dependence, "
    "identical in both engines).  One shuffle on the entity key, no "
    "inequality join.",
)
def pit_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-dated dimension rows are not valid change points — same
    # no-as-of-point contract as the events leg (dirty-orders, §17)
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    # DIRTY-EVENTS CONTRACT: an event without a timestamp has no
    # "as of" point — excluded (Spark would sort it before every
    # dimension row, DuckDB after the last one).
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    dim = o.select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("side"),
        F.lit(-1).cast("long").alias("event_id"),
        F.concat(
            F.lpad(F.unix_micros("o_orderdate").cast("string"), 20, "0"),
            F.lit(":"),
            F.col("o_orderpriority"),
        ).alias("dim_key"),
    )
    fact = ev.select(
        F.col("user_id").alias("uid"),
        "ts",
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("string").alias("dim_key"),
    )
    w = (
        Window.partitionBy("uid")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = dim.unionByName(fact).withColumn(
        "last_dim", F.max("dim_key").over(w)
    )
    return carried.filter(F.col("side") == 1).select(
        "event_id",
        F.col("uid").alias("user_id"),
        "ts",
        # nullif('') matches the oracle: an empty-string priority (a
        # planted dirty value) reads as "no priority", not '' — the
        # clean fixture never exercised the difference
        F.nullif(
            F.split_part(F.col("last_dim"), F.lit(":"), F.lit(2)), F.lit("")
        ).alias("prio_at_event"),
    )


_IV_LEN_US = 300_000_000  # each event opens a 5-minute activity interval


@register(
    "interval_union_minutes",
    oracle=f"""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s_us,
             epoch_us(ts) + {_IV_LEN_US} AS e_us,
             event_id
      FROM events WHERE ts IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, s_us, e_us, event_id,
             CASE WHEN s_us > max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s_us, e_us,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island,
             min(s_us) AS island_start, max(e_us) AS island_end
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           round(sum(island_end - island_start) / 60000000.0, 4)
             AS active_minutes
    FROM merged GROUP BY user_id
    """,
    tags=("B11", "B15", "B7"),
    doc="Interval-union coverage (uptime/billing math): every event "
    "opens a 5-minute activity window; overlapping windows per user "
    "merge into islands (new island when a start clears the running "
    "max end — one ordered window pass), and the billed time is the "
    "union length, counted once however densely events overlap.  All "
    "arithmetic in integer microseconds (epoch_us == unix_micros), "
    "divided to minutes only at the boundary.  One sessionization-"
    "keyed shuffle serves the flag window, the island cumsum, AND "
    "both aggregates — the gaps-and-islands family's continuous-"
    "time member.",
)
def interval_union_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # DIRTY-EVENTS CONTRACT: NULL ts opens no activity interval.
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + _IV_LEN_US).alias("e_us"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s_us",
        "e_us",
        "event_id",
        F.when(
            F.max("e_us").over(w_prev).isNull()
            | (F.col("s_us") > F.max("e_us").over(w_prev)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    # same TOTAL order as the flag pass: ordering the cumsum by
    # (s_us, e_us) is not total under duplicate timestamps, and the
    # two passes may then disagree on tie placement (x10-replica
    # finding — the island id fragments)
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id", "s_us", "e_us", F.sum("new_island").over(w_cum).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s_us").alias("island_start"), F.max("e_us").alias("island_end")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.round(
            F.sum(F.col("island_end") - F.col("island_start")) / 60000000.0, 4
        ).alias("active_minutes"),
    )


# ---------------------------------------------------------------------------
# z-normalized subsequence similarity search (data-series search shape)
# ---------------------------------------------------------------------------

_SS_LEN = 7  # subsequence length (days)


@register(
    "tseries_subsequence_topk",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             round(sum(value), 4) AS total
      FROM events
      WHERE ts IS NOT NULL AND (value IS NULL OR abs(value) < 1e150)
      GROUP BY event_type, day
    ),
    series AS (
      SELECT event_type, list(total ORDER BY day) AS vals
      FROM daily GROUP BY event_type
    ),
    qref AS (
      SELECT vals[1:{_SS_LEN}] AS qw FROM series WHERE event_type = 'click'
    ),
    qstats AS (
      SELECT qw,
             list_aggregate(qw, 'sum') / {_SS_LEN}.0 AS qmu,
             sqrt(list_aggregate([x * x for x in qw], 'sum') / {_SS_LEN}.0
                  - (list_aggregate(qw, 'sum') / {_SS_LEN}.0)
                    * (list_aggregate(qw, 'sum') / {_SS_LEN}.0)) AS qsd
      FROM qref
    ),
    wins AS (
      SELECT s.event_type, u.st,
             s.vals[u.st:u.st + {_SS_LEN - 1}] AS win
      FROM series s,
           unnest(range(1, len(s.vals) - {_SS_LEN - 2})) AS u(st)
      WHERE len(s.vals) >= {_SS_LEN}
    ),
    wstats AS (
      SELECT event_type, st, win,
             list_aggregate(win, 'sum') / {_SS_LEN}.0 AS mu,
             sqrt(list_aggregate([x * x for x in win], 'sum') / {_SS_LEN}.0
                  - (list_aggregate(win, 'sum') / {_SS_LEN}.0)
                    * (list_aggregate(win, 'sum') / {_SS_LEN}.0)) AS sd
      FROM wins
    ),
    scored AS (
      SELECT w.event_type, CAST(w.st AS INT) AS start_idx,
             round(list_aggregate(
               [((w.win[i] - w.mu) / w.sd - (q.qw[i] - q.qmu) / q.qsd)
                * ((w.win[i] - w.mu) / w.sd - (q.qw[i] - q.qmu) / q.qsd)
                for i in range(1, {_SS_LEN} + 1)], 'sum'), 6) AS zdist
      FROM wstats w, qstats q
      WHERE w.sd > 0 AND q.qsd > 0
        AND NOT (w.event_type = 'click' AND w.st = 1)
    )
    SELECT event_type, start_idx, zdist FROM scored
    ORDER BY zdist ASC, event_type ASC, start_idx ASC
    LIMIT 5
    """,
    tags=("B25", "B17", "temporal"),
    doc="Distributed data-series similarity search (the "
    f"REPOSE/Odyssey shape): every length-{_SS_LEN} sliding window of "
    "each event-type's daily-total series is z-normalized and scored "
    "by Euclidean distance against the z-normalized query pattern "
    "(the click series' first week, broadcast 1-row); exact top-5 via "
    "TakeOrdered, self-match excluded.  Scale: the raw stream "
    "collapses map-side to per-(type, day) totals — per-series state "
    "is the day count, never event count; windows and their moments "
    "fold INSIDE the bounded array; the quadratic part is "
    "|series|x|windows|, both bounded.  Rounded daily (4dp) and on "
    "the distance (6dp) so both engines rank identical doubles.",
)
def tseries_subsequence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    L = _SS_LEN
    # DIRTY-EVENTS CONTRACT: NULL ts has no series position (and the
    # engines disagree on NULL-day sort order); absorbing magnitudes
    # excluded — the z-normalization squares window values.
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & (F.col("value").isNull() | (F.abs("value") < 1e150))
    )
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("total"))
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "total"))),
            lambda s: s["total"],
        ).alias("vals")
    )

    def _fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    def _stats(win):
        mu = _fold(win) / float(L)
        sd = F.sqrt(_fold(F.transform(win, lambda x: x * x)) / float(L) - mu * mu)
        return mu, sd

    q = series.filter(F.col("event_type") == "click").select(
        F.slice("vals", 1, L).alias("qw")
    )
    qmu, qsd = _stats(F.col("qw"))
    q = q.select("qw", qmu.alias("qmu"), qsd.alias("qsd"))

    wins = (
        series.filter(F.size("vals") >= L)
        .select(
            "event_type",
            "vals",
            F.explode(
                F.sequence(F.lit(1), F.size("vals") - (L - 1))
            ).alias("st"),
        )
        .select("event_type", "st", F.slice("vals", F.col("st"), L).alias("win"))
    )
    wmu, wsd = _stats(F.col("win"))
    wstats = wins.select("event_type", "st", "win", wmu.alias("mu"), wsd.alias("sd"))
    scored = (
        wstats.crossJoin(F.broadcast(q))
        .filter(
            (F.col("sd") > 0)
            & (F.col("qsd") > 0)
            & ~((F.col("event_type") == "click") & (F.col("st") == 1))
        )
        .select(
            "event_type",
            F.col("st").cast("int").alias("start_idx"),
            F.round(
                _fold(
                    F.zip_with(
                        "win",
                        "qw",
                        lambda x, y: (
                            (x - F.col("mu")) / F.col("sd")
                            - (y - F.col("qmu")) / F.col("qsd")
                        )
                        * (
                            (x - F.col("mu")) / F.col("sd")
                            - (y - F.col("qmu")) / F.col("qsd")
                        ),
                    )
                ),
                6,
            ).alias("zdist"),
        )
    )
    return scored.orderBy(
        F.col("zdist").asc(), F.col("event_type").asc(), F.col("start_idx").asc()
    ).limit(5)


@register(
    "seasonal_decompose_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             round(sum(value), 4) AS total
      FROM events
      WHERE ts IS NOT NULL AND (value IS NULL OR abs(value) < 1e150)
      GROUP BY 1, 2
    ),
    trended AS (
      SELECT event_type, day, total,
             round(avg(total) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 4) AS trend,
             CAST(date_part('dow', day) AS INT) AS dow
      FROM daily
    ),
    seasonal AS (
      SELECT event_type, dow,
             round(avg(total - trend), 4) AS s
      FROM trended GROUP BY event_type, dow
    ),
    resid AS (
      SELECT t.event_type, t.day,
             round(t.total - t.trend - s.s, 4) AS r
      FROM trended t JOIN seasonal s
        ON t.event_type = s.event_type AND t.dow = s.dow
    ),
    sigma AS (
      SELECT event_type, round(2 * stddev_pop(r), 4) AS thr
      FROM resid GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN abs(r.r) > g.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies,
           round(max(abs(r.r)), 4) AS max_abs_residual,
           g.thr AS anomaly_threshold
    FROM resid r JOIN sigma g ON r.event_type = g.event_type
    GROUP BY r.event_type, g.thr
    """,
    tags=("temporal", "B11", "B20"),
    doc="Classical seasonal decomposition with anomaly flags: daily "
    "totals split into a 7-day centered-moving-average trend, a "
    "day-of-week seasonal mean, and a residual; days whose |residual| "
    "exceeds 2 sigma are anomalies (reported per type as counts).  "
    "Scale: the raw stream collapses map-side to per-(type, day) "
    "totals FIRST, so every window and aggregate below runs on a "
    "calendar-bounded frame (~30 rows per type); each stage rounds "
    "(4dp) before the next so the trend/seasonal/residual chain folds "
    "identical doubles in both engines.",
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DIRTY-EVENTS CONTRACT: NULL ts has no day; absorbing magnitudes
    # (SQL_VALUE_FINITE_MOMENT) excluded before the stddev pass.
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & (F.col("value").isNull() | (F.abs("value") < 1e150))
    )
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("total"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    # trended is a calendar-bounded frame (~30 rows/type) consumed by
    # both the seasonal-mean and residual branches — materialize once
    # so the raw event scan happens exactly once
    trended = daily.select(
        "event_type",
        "day",
        "total",
        F.round(F.avg("total").over(w), 4).alias("trend"),
        (F.dayofweek("day") - 1).cast("int").alias("dow"),
    ).localCheckpoint(eager=True)
    seasonal = trended.groupBy("event_type", "dow").agg(
        F.round(F.avg(F.col("total") - F.col("trend")), 4).alias("s")
    )
    resid = trended.join(F.broadcast(seasonal), ["event_type", "dow"]).select(
        "event_type",
        "day",
        F.round(F.col("total") - F.col("trend") - F.col("s"), 4).alias("r"),
    )
    sigma = resid.groupBy("event_type").agg(
        F.round(2 * F.stddev_pop("r"), 4).alias("thr")
    )
    return (
        resid.join(F.broadcast(sigma), "event_type")
        .groupBy("event_type", "thr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.when(F.abs("r") > F.col("thr"), 1).otherwise(0))
            .cast("long")
            .alias("n_anomalies"),
            F.round(F.max(F.abs("r")), 4).alias("max_abs_residual"),
        )
        .select(
            "event_type",
            "n_days",
            "n_anomalies",
            "max_abs_residual",
            F.col("thr").alias("anomaly_threshold"),
        )
    )


@register(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             sum(CAST(floor(o_totalprice) AS BIGINT)) AS rev
      FROM orders
      WHERE o_orderdate IS NOT NULL
        AND (o_totalprice IS NOT NULL AND abs(o_totalprice) < 1e9)
      GROUP BY 1
    ),
    tot AS (
      SELECT sum(rev) AS total, count(*) AS n_days FROM daily
    ),
    walk AS (
      SELECT day,
             CAST(n_days AS BIGINT) * sum(rev) OVER (ORDER BY day)
               - row_number() OVER (ORDER BY day) * total AS d,
             n_days
      FROM daily CROSS JOIN tot
    )
    SELECT CAST(rk AS INT) AS rk, day,
           round(CAST(d AS DOUBLE) / n_days, 2) AS cusum_dollars
    FROM (
      SELECT day, d, n_days,
             row_number() OVER (ORDER BY abs(d) DESC, day ASC) AS rk
      FROM walk
    )
    WHERE rk <= 3
    ORDER BY rk
    """,
    tags=("temporal", "B11", "B20"),
    doc="CUSUM level-shift changepoint detection on daily order "
    "revenue: the cumulative sum of deviations from the global mean, "
    "S_t = sum_{i<=t}(x_i - mean), peaks exactly at a mean-shift "
    "boundary (Page 1954); the top-3 |S_t| days are the candidate "
    "changepoints.  Complements ewma_anomaly_flags (point spikes) "
    "and seasonal_decompose_daily (periodic structure) — CUSUM finds "
    "the sustained REGIME change.  Bit-exactness: revenue is floored "
    "to integer dollars per order, and the walk is kept scaled as "
    "D_t = n*C_t - t*T (all BIGINT — no float mean subtraction "
    "inside the accumulation; S_t = D_t/n emerges once, by one exact "
    "integer->double division, rounded 2dp).  Scale: orders collapse "
    "map-side to the calendar-bounded daily frame (~2.4k rows, "
    "SF-independent) before any window; the scalar (T, n) pair "
    "arrives via a broadcast one-row cross join, not a global "
    "window.  BIGINT headroom: n*T at SF=100 is ~5e18, inside int64; "
    "beyond that, scale the walk in units of 10^3 dollars.",
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import money_domain

    # time series are keyed by time: NULL-dated facts are excluded by
    # contract, and the money-domain bound keeps the BIGINT product
    # sums in range (dirty-orders contract, SCALE.md §17)
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull() & money_domain("o_totalprice")
    )
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(F.floor("o_totalprice").cast("long")).alias("rev"))
    tot = daily.agg(
        F.sum("rev").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wrow = Window.orderBy("day")
    walk = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        (
            F.col("n_days") * F.sum("rev").over(wcum)
            - F.row_number().over(wrow) * F.col("total")
        ).alias("d"),
        "n_days",
    )
    wrk = Window.orderBy(F.abs("d").desc(), F.col("day").asc())
    return (
        walk.select(
            F.row_number().over(wrk).cast("int").alias("rk"),
            "day",
            F.round(F.col("d").cast("double") / F.col("n_days"), 2).alias(
                "cusum_dollars"
            ),
        )
        .filter(F.col("rk") <= 3)
        .orderBy("rk")
    )


_ACF_LAGS = 7


@register(
    "autocorrelation_daily",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             sum(CAST(floor(o_totalprice) AS BIGINT)) AS rev
      FROM orders
      WHERE o_orderdate IS NOT NULL
        AND (o_totalprice IS NOT NULL AND abs(o_totalprice) < 1e9)
      GROUP BY 1
    ),
    m AS (
      SELECT CAST(sum(rev) // count(*) AS BIGINT) AS mu FROM daily
    ),
    resid AS (
      SELECT day, rev - mu AS r,
             {", ".join(
                 f"lead(rev - mu, {k}) OVER (ORDER BY day) AS r{k}"
                 for k in range(1, _ACF_LAGS + 1))}
      FROM daily CROSS JOIN m
    ),
    sums AS (
      SELECT sum(r * r) AS den,
             {", ".join(
                 f"sum(r * r{k}) AS num{k}"
                 for k in range(1, _ACF_LAGS + 1))}
      FROM resid
    )
    SELECT lag, round(CAST(num AS DOUBLE) / den, 6) AS acf
    FROM (
      {" UNION ALL ".join(
          f"SELECT {k} AS lag, num{k} AS num, den FROM sums"
          for k in range(1, _ACF_LAGS + 1))}
    ) ORDER BY lag
    """,
    tags=("temporal", "B11", "B20"),
    doc=f"Autocorrelation function (correlogram) of daily order "
    f"revenue at lags 1..{_ACF_LAGS}: r_k = Σ(x_t-μ)(x_t+k-μ) / "
    "Σ(x_t-μ)² — the numeric detector for the weekly cycle that "
    "seasonal_decompose_daily models structurally, and the lag "
    "picker for ewma/Holt smoothing constants (the uniform TPC-H "
    "order stream is white noise, so the fixture correlogram reads "
    "~0 at every lag — the null case, correctly).  Bit-exactness: "
    "revenue floors to integer dollars and μ to the integer-floored "
    "mean (bias < $1 on ~$10M days), so residuals, all 8 product "
    "sums and the denominator are pure BIGINT — the only float op "
    "is one division per lag, rounded 6dp.  Scale: orders collapse "
    "map-side to the calendar-bounded daily frame; the 7 lead "
    "columns ride ONE window pass over it; the result folds to a "
    "single row of sums unpivoted to 7 rows.",
)
def autocorrelation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import money_domain

    # time series are keyed by time: NULL-dated facts are excluded by
    # contract, and the money-domain bound keeps the BIGINT product
    # sums in range (dirty-orders contract, SCALE.md §17)
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull() & money_domain("o_totalprice")
    )
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(F.floor("o_totalprice").cast("long")).alias("rev"))
    m = daily.agg(
        F.floor(F.sum("rev") / F.count(F.lit(1))).cast("long").alias("mu")
    )
    w = Window.orderBy("day")
    resid = daily.crossJoin(F.broadcast(m)).select(
        (F.col("rev") - F.col("mu")).alias("r"),
        *[
            F.lead(F.col("rev") - F.col("mu"), k).over(w).alias(f"r{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    sums = resid.agg(
        F.sum(F.col("r") * F.col("r")).alias("den"),
        *[
            F.sum(F.col("r") * F.col(f"r{k}")).alias(f"num{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    stacked = sums.select(
        F.expr(
            "stack("
            + str(_ACF_LAGS)
            + ", "
            + ", ".join(f"{k}, num{k}" for k in range(1, _ACF_LAGS + 1))
            + ") AS (lag, num)"
        ),
        "den",
    )
    return stacked.select(
        "lag", F.round(F.col("num").cast("double") / F.col("den"), 6).alias("acf")
    ).orderBy("lag")
