"""Relational core: scans, projections, filters, joins, aggregates,
windows, set ops (SURVEY.md §2 B1-B13).

Every query is declarative DataFrame code — Catalyst gets the whole
plan, so predicate pushdown, column pruning, join reordering and AQE
are in effect.  Scale notes per query explain why the plan survives
100 TB (broadcast choices, shuffle keys, skew posture).

Reference grounding: a join or aggregation is exactly the shuffle
contract the reference manages (`deploy/DeployMessage.scala:22-27`,
`MapOutputTracker.scala:219` — a join = two registered shuffles of one
shuffle-set); broadcast replicates small data like the reference's
block replication push (`storage/BlockManager.scala:1164-1281`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scache_spark.catalog import load_table
from scache_spark.registry import register

# ---------------------------------------------------------------------------
# B1/B4/B5/B7 — flagship: revenue by region/nation
# ---------------------------------------------------------------------------


@register(
    "flagship_revenue_by_region",
    oracle="""
    SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY r_name, n_name
    """,
    tags=("B1", "B3", "B4", "B5", "B7"),
    doc="TPC-H Q5-style star join: fact lineitem against 4 dims.",
)
def flagship_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale plan: lineitem/orders are the big sides and join on their
    # natural keys (one shuffle each, co-partitioned by AQE); nation
    # and region are bounded dims → hard broadcast.  customer is
    # SF-proportional, so its join strategy is left to the optimizer:
    # AQE broadcasts it under the threshold at fixture scale and falls
    # back to SMJ at 100 TB (a forced hint there would OOM the
    # executors).  Date filter sits on orders before the join so it
    # prunes at the scan (PushedFilters).
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            # round(2): cross-engine float summation order differs at
            # ~1e-15 relative; the driver hashes exact values.
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# B7 — TPC-H Q1 pricing summary (partial-agg heavy)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)       AS sum_qty,
           round(sum(l_extendedprice), 2)  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)       AS avg_qty,
           round(avg(l_extendedprice), 4)  AS avg_price,
           round(avg(l_discount), 6)       AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("B3", "B7"),
    doc="TPC-H Q1: wide aggregate over the fact table; map-side combine.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale plan: groupBy on a 6-value composite key → partial
    # aggregation reduces 100 TB to KBs before the single tiny shuffle.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # All float sums/avgs rounded on BOTH sides (summation-order ulp noise).
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).cast("long").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# B2/B3 — projection / rename / cast / filter
# ---------------------------------------------------------------------------


@register(
    "filter_project_cast",
    oracle="""
    SELECT o_orderkey AS order_id,
           CAST(floor(o_totalprice) AS BIGINT) AS price_int,
           upper(o_orderstatus) AS status,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    WHERE o_orderstatus = 'F'
      AND o_totalprice > 1000.0
      AND o_orderpriority LIKE '1-%'
    """,
    tags=("B2", "B3"),
    doc="Projection+rename+cast with compound pushable predicates.",
)
def filter_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All three predicates push to the parquet scan; projection prunes
    # the ReadSchema to 5 of 6 columns (verified in tests/test_plans).
    return (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_totalprice") > 1000.0)
            & F.col("o_orderpriority").like("1-%")
        )
        .select(
            F.col("o_orderkey").alias("order_id"),
            # floor-then-cast: Spark's double→long cast truncates while
            # DuckDB's rounds; floor() agrees in both engines
            F.floor("o_totalprice").cast("long").alias("price_int"),
            F.upper("o_orderstatus").alias("status"),
            F.col("o_orderdate").cast("date").alias("order_date"),
        )
    )


# ---------------------------------------------------------------------------
# B4 — outer joins
# ---------------------------------------------------------------------------


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
    tags=("B4", "B7", "B19"),
    doc="Left join preserving customers with no orders.",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: customer is the small side but must be preserved → Spark
    # picks broadcast for the *right* side or shuffle-hash; with AQE
    # the decision is stats-driven.  Aggregation key = join key, so
    # the exchange is reused (single shuffle).
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").cast("long").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


@register(
    "join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_cust
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_supp
               FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           coalesce(n_cust, 0) AS n_cust,
           coalesce(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
    tags=("B4", "B12", "B19"),
    doc="Full outer join of per-nation customer vs supplier counts.",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_supp"))
    )
    return cust.join(supp, "nk", "full").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


# ---------------------------------------------------------------------------
# B6 — semi / anti joins
# ---------------------------------------------------------------------------


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 50000)
    """,
    tags=("B6",),
    doc="Left-semi join: customers having at least one big order.",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semi join never materializes the probe payload — at scale this
    # beats join+distinct (no duplicate blow-up, smaller shuffle).
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
    tags=("B6",),
    doc="Left-anti join: customers with no 400k+ order (threshold keeps "
    "the result non-empty at every fixture SF — a trivially empty "
    "result would be a vacuous oracle match).",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal"
    )


# ---------------------------------------------------------------------------
# B5 — explicit broadcast join
# ---------------------------------------------------------------------------


@register(
    "broadcast_join_parts",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_quantity), 2) AS total_qty,
           round(avg(p_retailprice), 4) AS avg_retail
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 25
    GROUP BY p_brand
    """,
    tags=("B5", "B7"),
    doc="Fact⋈dim broadcast-shaped join (BroadcastBlockId analog, "
    "/root/reference storage/BlockId.scala:67).  part is "
    "SF-proportional, so the hint is the optimizer's (AQE/threshold "
    "BHJ at fixture scale, SMJ at 100 TB); the hard-hint demo lives "
    "on the truly bounded dims (flagship's nation/region).",
)
def broadcast_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: part is SF-proportional, so the broadcast is left to the
    # optimizer — AQE picks BHJ under the threshold at fixture scale
    # (zero shuffle of the fact side, plan-asserted) and degrades to
    # SMJ at 100 TB instead of OOMing on a forced hint.  The p_size
    # filter still prunes before the join.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_retail"),
        )
    )


# ---------------------------------------------------------------------------
# B7 — aggregate function battery (exact only; approx in tests)
# ---------------------------------------------------------------------------


@register(
    "agg_battery",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           round(sum(o_totalprice), 2) AS sum_price,
           round(avg(o_totalprice), 4) AS avg_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("B7",),
    doc="sum/count/avg/min/max/count-distinct in one pass.",
)
def agg_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # count(DISTINCT) expands via Catalyst's two-phase expand+agg —
    # fine for one distinct column; approx_count_distinct (HLL, no
    # expansion) is the 100 TB path and is tested in pytest against
    # a 5% error bound (its estimate differs from DuckDB's HLL so it
    # cannot hash-match an oracle).
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("o_custkey").cast("long").alias("n_custs"),
        # Rounded on BOTH sides: float summation order differs between
        # engines (ulp noise ~1e-15 relative), and the driver hashes
        # exact values.  2 decimals for money sums, 4 for averages.
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# B8 — rollup / cube / grouping sets
# ---------------------------------------------------------------------------


@register(
    "rollup_region_nation",
    oracle="""
    SELECT r_name, n_name,
           CAST(count(*) AS BIGINT) AS n_cust,
           round(sum(c_acctbal), 2) AS total_bal,
           CAST(grouping(r_name) AS INT) AS g_region,
           CAST(grouping(n_name) AS INT) AS g_nation
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("B8",),
    doc="Hierarchical rollup with grouping() indicators.",
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
        )
    )


@register(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("B8",),
    doc="Full cube over two low-cardinality dimensions.",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cube = Expand (4× rows here) then one aggregate; at scale prefer
    # partial-agg-first when dimensions are low-cardinality (Catalyst
    # does this automatically via partial aggregation before Expand's
    # shuffle).
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "grouping_sets_mixed",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
    tags=("B8",),
    doc="Explicit grouping sets via SQL passthrough.",
)
def grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


# ---------------------------------------------------------------------------
# B9/B10 — sort / limit / top-k
# ---------------------------------------------------------------------------


@register(
    "sort_multikey_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 100
    """,
    tags=("B9", "B10"),
    doc="Global top-100 under a total order (ties broken by PK).",
)
def sort_multikey_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Global sort+limit compiles to TakeOrderedAndProject: each
    # partition keeps its local top-100 (BoundedPriorityQueue — the
    # same structure as reference util/BoundedPriorityQueue.scala:27),
    # driver merges. No full sort, no full shuffle — scales to any N.
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")
        .orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(100)
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
    tags=("B10", "B11"),
    doc="Top-3 orders by value within each priority class.",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Window top-k shuffles once on the partition key.  For skewed
    # groups at 100 TB, pre-aggregate a per-partition local top-k
    # first (see blocks.block_topk_per_shuffle for that pattern).
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# B11 — window analytics
# ---------------------------------------------------------------------------


@register(
    "window_analytics",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(rank() OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC)
    """,
    tags=("B11",),
    doc="Ranking + analytic + running-frame windows per customer.  "
    "NULL ordering is EXPLICIT (dirty-orders contract, SCALE.md §17): "
    "Spark ASC defaults to NULLS FIRST while DuckDB defaults to NULLS "
    "LAST, so any nullable window key left to engine defaults "
    "silently reorders the whole partition's lag/lead/rank chain.",
)
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One window spec → one shuffle+sort serves all six functions.
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_first(), F.col("o_orderkey").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        # round(2): windowed-sum accumulation grouping differs across
        # engines (running vs segment-tree) at ~1e-9; the exact value
        # is a 2-decimal rational, so the 2dp grid is never ambiguous
        F.round(F.sum("o_totalprice").over(wf), 2).alias("running_total"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# B12 — set operations
# ---------------------------------------------------------------------------


@register(
    "set_union_distinct",
    oracle="""
    SELECT nk FROM (
      SELECT c_nationkey AS nk FROM customer
      UNION
      SELECT s_nationkey AS nk FROM supplier
    )
    """,
    tags=("B12",),
    doc="Union-distinct of customer and supplier nation keys.",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.unionByName(s).distinct()


@register(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
    tags=("B12",),
    doc="Nations having both customers and suppliers.",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@register(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    EXCEPT
    SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal > 5000
    """,
    tags=("B12",),
    doc="Nations with customers but no high-balance supplier (filter "
    "keeps the result non-empty at every fixture SF).",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("nk"))
    )
    # subtract == EXCEPT DISTINCT (exceptAll is bag semantics — wrong here)
    return c.subtract(s)


# ---------------------------------------------------------------------------
# B13 — distinct / dedup-by-key
# ---------------------------------------------------------------------------


@register(
    "distinct_flags",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    tags=("B13",),
    doc="Exact distinct over a composite key.",
)
def distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@register(
    "dedup_pick_min",
    oracle="""
    SELECT o_custkey,
           min(o_orderkey) AS first_orderkey,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM orders GROUP BY o_custkey
    """,
    tags=("B13",),
    doc="Deterministic dedup-by-key: keep min-PK representative "
    "(dropDuplicates keeps an arbitrary row — not oracle-matchable; "
    "min-PK is the deterministic, scale-safe idiom).",
)
def dedup_pick_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min("o_orderkey").alias("first_orderkey"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT n_nationkey, n_name,
           CAST(count(s_suppkey) AS BIGINT) AS n_supp
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_nationkey, n_name
    """,
    tags=("B4",),
    doc="Right outer join preserving nations without suppliers.",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("s_suppkey").cast("long").alias("n_supp"))
    )


@register(
    "sort_nulls_handling",
    oracle="""
    SELECT o_orderkey, nullif(o_orderstatus, 'O') AS status_or_null,
           o_totalprice
    FROM orders
    ORDER BY status_or_null ASC NULLS LAST, o_totalprice DESC, o_orderkey ASC
    LIMIT 50
    """,
    tags=("B9",),
    doc="Multi-key sort with explicit null placement (fixtures are "
    "null-free, so the nullable key is derived) under a total order.",
)
def sort_nulls_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
            "o_totalprice",
        )
        .orderBy(
            F.col("status_or_null").asc_nulls_last(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
        .limit(50)
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(date_diff('day', TIMESTAMP '1990-01-01', o_orderdate) AS INT)
               AS day_num,
           round(sum(o_totalprice) OVER w30, 2) AS trailing_30d_total,
           CAST(count(*) OVER w30 AS BIGINT) AS trailing_30d_n
    FROM orders
    WINDOW w30 AS (PARTITION BY o_custkey
                   ORDER BY date_diff('day', TIMESTAMP '1990-01-01', o_orderdate)
                   RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
    tags=("B11", "B15"),
    doc="RANGE-frame window: per-customer trailing-30-day spend.  The "
    "frame is VALUE-based (29 day-numbers back), not row-based — "
    "sparse order histories still get a true calendar window.  Both "
    "engines order by the same numeric day key, so the frame contents "
    "are identical by construction.  One shuffle+sort on o_custkey "
    "serves both window functions.",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day_num = F.datediff(
        F.col("o_orderdate"), F.lit("1990-01-01").cast("date")
    ).cast("int")
    with_day = o.select("o_orderkey", "o_custkey", day_num.alias("day_num"),
                        "o_totalprice")
    w30 = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-29, Window.currentRow)
    )
    return with_day.select(
        "o_orderkey",
        "o_custkey",
        "day_num",
        F.round(F.sum("o_totalprice").over(w30), 2).alias("trailing_30d_total"),
        F.count(F.lit(1)).over(w30).cast("long").alias("trailing_30d_n"),
    )


@register(
    "window_distribution",
    oracle="""
    SELECT o_custkey, o_orderkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cdist,
           first_value(o_orderkey) OVER wf AS first_ok,
           last_value(o_orderkey) OVER wf AS last_ok,
           nth_value(o_orderkey, 2) OVER wf AS second_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey ASC),
           wf AS (PARTITION BY o_custkey
                  ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("B11",),
    doc="Distribution window functions: percent_rank, cume_dist, "
    "first/last/nth value under an explicit full-partition frame "
    "(the default frame for value functions is running — engine-"
    "dependent — so the frame is always declared).  percent_rank = "
    "(rank-1)/(n-1): a single exact integer division, bit-identical "
    "across engines.",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULLS FIRST explicit on the nullable key (dirty-orders contract)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc_nulls_first(), F.col("o_orderkey").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
        F.first("o_orderkey").over(wf).alias("first_ok"),
        F.last("o_orderkey").over(wf).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_ok"),
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped composites (Q3 / Q10 adaptations to the fixture schema)
# ---------------------------------------------------------------------------


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    tags=("B4", "B7", "B10"),
    doc="TPC-H Q3 shape: segment-filtered customers drive a 3-way join, "
    "revenue per order, top-10.  Plan: customer filters at the scan "
    "(join strategy AQE's — customer grows with SF), orders "
    "pre-filters on date at the scan, lineitem "
    "joins on its natural key — one shuffle join, then "
    "TakeOrderedAndProject (never a global sort).",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(c_acctbal, 2) AS c_acctbal
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    tags=("B4", "B5", "B7", "B10"),
    doc="TPC-H Q10 shape: lost-revenue ranking of customers with "
    "returned items in a 6-month window.  The returnflag filter pushes "
    "to the lineitem scan, the date filter to orders; nation "
    "(bounded) broadcasts, customer's join is AQE-chosen; top-20 via "
    "TakeOrderedAndProject.",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
           round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
    tags=("B4", "B5", "B7", "B19"),
    doc="TPC-H Q14 shape: promo-type revenue share per ship month of "
    "1996.  part joins AQE-chosen (BHJ at fixture scale, SMJ at "
    "100 TB), the date filter pushes to the "
    "lineitem scan, and the conditional sum is a single map-side-"
    "combinable aggregate — one shuffle of 12 groups regardless of "
    "fact size.  Ratio rounded to 6dp (sum-order ulp noise scales "
    "into the quotient).",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.month("l_shipdate").cast("int").alias("ship_month"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.round(F.sum(rev), 2).alias("revenue"),
        )
    )


@register(
    "tpch_q16_supplier_count",
    oracle="""
    SELECT p_brand, CAST(p_size AS INT) AS p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_type <> 'PROMO'
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
    GROUP BY p_brand, p_size
    """,
    tags=("B4", "B6", "B7"),
    doc="TPC-H Q16 shape: how many distinct suppliers serve each "
    "(brand, size) bucket, excluding promo parts and low-balance "
    "suppliers.  part and the low-balance supplier keys join with "
    "AQE-chosen strategy (both grow with SF); the exclusion is an "
    "ANTI join (never a NOT IN subquery); count-distinct "
    "shuffles only the (brand, size, suppkey) projection — the "
    "partial-dedup happens map-side.",
)
def tpch_q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO")
    poor = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 500)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            poor,
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey AS pk, round(avg(l_quantity), 4) AS avg_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#11'
      GROUP BY l_partkey)
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN pa   ON l_partkey = pk
    WHERE p_brand = 'Brand#11'
      AND l_quantity * 5 < avg_qty
    """,
    tags=("B4", "B5", "B7"),
    doc="TPC-H Q17 shape: lost revenue from small-quantity orders of "
    "one brand, against each part's own average quantity.  The "
    "correlated scalar subquery becomes a groupBy(partkey) partial "
    "aggregate re-joined by BROADCAST (the brand filter bounds it), "
    "so the fact table is scanned once and never self-shuffled.  The "
    "threshold compares l_quantity*5 (exact in double) against the "
    "4dp-rounded average so the cut is bit-identical across engines.",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    li = load_table(spark, sf_dir, "lineitem").join(
        p, F.col("l_partkey") == F.col("p_partkey")
    )
    # r9: the per-part average is a WINDOW over l_partkey instead of a
    # groupBy + join-back — li fed two branches un-materialized, so
    # lineitem was scanned and brand-joined twice; now one pass, one
    # partkey exchange (partitions bounded by lines-per-part).  Same
    # 4dp-rounded threshold, bit-identical cut.
    w = Window.partitionBy("l_partkey")
    return (
        li.select(
            "l_quantity",
            "l_extendedprice",
            F.round(F.avg("l_quantity").over(w), 4).alias("avg_qty"),
        )
        .filter(F.col("l_quantity") * 5 < F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


@register(
    "tpch_q18_large_volume_orders",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           sum(l_quantity) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    HAVING sum(l_quantity) > 150
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
    tags=("B4", "B7", "B10"),
    doc="TPC-H Q18 shape: customers with large-volume orders.  The "
    "HAVING pre-aggregates lineitem by orderkey FIRST (map-side "
    "combine shrinks the shuffle to one row per order), the surviving "
    "~1%% of orderkeys join into orders/customer (AQE broadcasts the "
    "small side at runtime), and top-20 is "
    "TakeOrderedAndProject.  sum(l_quantity) is an integer-valued "
    "double — exact, no rounding needed.",
)
def tpch_q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@register(
    "tpch_q22_dormant_accounts",
    oracle="""
    WITH avg_bal AS (
      SELECT round(avg(c_acctbal), 4) AS a FROM customer WHERE c_acctbal > 0)
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND c_custkey NOT IN (
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_mktsegment
    """,
    tags=("B6", "B7", "B19"),
    doc="TPC-H Q22 shape (adapted: every fixture customer has SOME "
    "order, so dormancy = no order since 1999): above-average-balance "
    "customers with no recent purchase, summarized per segment.  The "
    "global average is a 1-row aggregate cross-joined as a broadcast "
    "(never a driver collect); the NOT-IN is an ANTI join (strategy "
    "AQE-chosen — the recent-orders slice grows with SF) on "
    "the projected, date-filtered orderkey set.  Threshold rounded to "
    "4dp so the > cut agrees across engines.",
)
def tpch_q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 4).alias("a")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(
            recent,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("B6", "B7", "B15"),
    doc="TPC-H Q4 shape (adapted: the fixture has no commit/receipt "
    "dates, so 'late' = shipped >75 days after ordering): priority "
    "distribution of orders with at least one late line.  EXISTS is a "
    "LEFT SEMI join — each order emits once no matter how many lines "
    "match, and only (orderkey, shipdate) ever shuffles from the fact "
    "side.  The date filter pushes to the orders scan.",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 75 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE c_nationkey = s_nationkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    tags=("B4", "B5", "B7"),
    doc="TPC-H Q5 shape: revenue where the customer and the supplier "
    "share a nation — the classic star join with a cross-dimension "
    "equality.  nation (bounded) broadcasts; supplier/customer join "
    "with AQE-chosen strategy; the extra c_nationkey = s_nationkey "
    "predicate is a post-join filter, so the fact table still "
    "shuffles exactly once (for the orders join).",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("B3", "B7"),
    doc="TPC-H Q6 shape: revenue increase if small-discount small-"
    "quantity items had shipped free.  Pure scan-side query: all three "
    "predicates push to the parquet scan (min/max row-group pruning on "
    "shipdate), a single global aggregate follows — zero joins, one "
    "1-row shuffle.  The discount literals compare against stored "
    "doubles identically in both engines.",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


@register(
    "null_safe_join_status",
    oracle="""
    WITH l AS (
      SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status
      FROM orders WHERE o_orderkey % 50 = 0),
    r AS (
      SELECT nullif(s, 'P') AS status, rank_no FROM (VALUES
        ('F', 1), ('O', 2), ('P', 3)) AS t(s, rank_no))
    SELECT l.o_orderkey, coalesce(l.status, 'NULL') AS status_key,
           r.rank_no
    FROM l JOIN r ON l.status IS NOT DISTINCT FROM r.status
    """,
    tags=("B4", "B19"),
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL "
    "keys MATCH each other instead of silently dropping — the corner "
    "where ordinary equi-join loses rows.  Same hash-join machinery "
    "(null hashes to its own bucket), so the scale profile is "
    "unchanged; but a hot NULL key is the classic skew cell — at "
    "100 TB salt it like any other hot key.",
)
def null_safe_join_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status"),
        )
    )
    right = spark.createDataFrame(
        [("F", 1), ("O", 2), ("P", 3)], ["s", "rank_no"]
    ).select(F.nullif(F.col("s"), F.lit("P")).alias("r_status"), "rank_no")
    return (
        left.join(
            F.broadcast(right), F.col("status").eqNullSafe(F.col("r_status"))
        )
        .select(
            "o_orderkey",
            F.coalesce("status", F.lit("NULL")).alias("status_key"),
            F.col("rank_no").cast("int").alias("rank_no"),
        )
    )


@register(
    "union_schema_evolution",
    oracle="""
    SELECT o_orderkey,
           coalesce(o_totalprice, -1.0) AS o_totalprice,
           coalesce(o_orderpriority, 'MISSING') AS o_orderpriority
    FROM (
      SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
             NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 40 = 0
      UNION ALL BY NAME
      SELECT o_orderkey, NULL AS o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 40 = 20)
    """,
    tags=("B12", "B2", "B19"),
    doc="Schema-evolution union: two frames with DIFFERENT column sets "
    "combined by NAME with null back-fill (unionByName "
    "allowMissingColumns) — the operation every long-lived ingest "
    "pipeline needs when a field appears mid-stream.  Positional "
    "UNION would mis-align or reject; by-name is order-proof and "
    "purely narrow (no shuffle).",
)
def union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 40 == 0).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    new = o.filter(F.col("o_orderkey") % 40 == 20).select(
        "o_orderkey", "o_orderpriority"
    )
    return old.unionByName(new, allowMissingColumns=True).select(
        "o_orderkey",
        F.coalesce("o_totalprice", F.lit(-1.0)).alias("o_totalprice"),
        F.coalesce("o_orderpriority", F.lit("MISSING")).alias("o_orderpriority"),
    )


# ---------------------------------------------------------------------------
# SQL passthrough: one ANSI template, two engines.  Spark binds each
# {table} slot to a frame (spark.sql(text, orders=df) registers a
# uniquely named view for the one call and drops it), DuckDB gets the
# template rendered with its own table names.
# ---------------------------------------------------------------------------

_PASSTHROUGH_SQL = """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice), 2) AS total_price,
           CAST(min(o.o_orderkey) AS BIGINT) AS first_order
    FROM {orders} o JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey % 5 = 0 AND l.l_quantity > 10
    GROUP BY o.o_orderpriority
"""


@register(
    "sql_passthrough_identical_text",
    oracle=_PASSTHROUGH_SQL.format(orders="orders", lineitem="lineitem"),
    tags=("B1", "B4", "B7"),
    doc="The SQL front-end, demonstrated at its strongest: ONE ANSI "
    "SQL template (a shared constant) is rendered with table names "
    "for DuckDB as its own oracle and with bound frames for "
    "spark.sql — zero translation layer, per SURVEY §2's 'full SQL "
    "parser comes free', and no session-global view left behind. "
    "Catalyst still plans it like the DataFrame twin: filter pushed "
    "to both scans, partial aggregation, one exchange on the group "
    "key.",
)
def sql_passthrough_identical_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _PASSTHROUGH_SQL,
        orders=load_table(spark, sf_dir, "orders"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


# ---------------------------------------------------------------------------
# 2D skyline (Pareto front) via one window pass
# ---------------------------------------------------------------------------


@register(
    "pareto_front_orders",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice, o_orderdate,
             max(o_orderdate) OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS best_date_so_far
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM ranked
    WHERE best_date_so_far IS NULL OR o_orderdate > best_date_so_far
    """,
    tags=("B11", "B9"),
    doc="2D skyline / Pareto front per priority class: orders not "
    "dominated on (cheaper, more recent) — walk the group sorted by "
    "price and keep rows beating the running best date.  The classic "
    "quadratic NOT-EXISTS dominance query collapsed into ONE window "
    "pass: one shuffle on the group key, one sort, zero self-joins — "
    "the O(n log n) shape that survives any group size.  Total order "
    "(price, orderkey) makes ties deterministic.",
)
def pareto_front_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = o.withColumn("best_date_so_far", F.max("o_orderdate").over(w))
    return ranked.filter(
        F.col("best_date_so_far").isNull()
        | (F.col("o_orderdate") > F.col("best_date_so_far"))
    ).select("o_orderpriority", "o_orderkey", "o_totalprice", "o_orderdate")


@register(
    "sql_scripting_threshold_report",
    oracle="""
    WITH scalars AS (
      SELECT CAST(floor(avg(o_totalprice)) AS BIGINT) AS thr,
             CASE WHEN count(*) > 1000 THEN 'large' ELSE 'small' END
                 AS size_label
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_above,
           CAST(max(thr) AS BIGINT) AS threshold_dollars,
           max(size_label) AS size_label
    FROM orders CROSS JOIN scalars
    WHERE o_totalprice > thr
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("B1", "B19", "B7"),
    doc="Spark 4 SQL scripting (BEGIN..END, SPARK-48338) as a "
    "first-class surface: a DECLARE'd scalar threshold SET from one "
    "aggregate, an IF/ELSE branch labeling corpus size, and a final "
    "report consuming both — the multi-statement parameterized-"
    "report shape that previously needed driver-side Python glue.  "
    "Each statement still compiles to a normal Catalyst plan (the "
    "variables bind as literals), so pushdown/AQE apply per "
    "statement; the scalar comes back floored to integer dollars so "
    "the threshold comparison and the output are engine-exact.  "
    "Oracle: the same logic as one plain-SQL CTE (the script is "
    "sugar, not new semantics).",
)
def sql_scripting_threshold_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return spark.sql(
        """
        BEGIN
          DECLARE thr BIGINT;
          DECLARE size_label STRING;
          SET thr = (SELECT CAST(floor(avg(o_totalprice)) AS BIGINT)
                     FROM {orders});
          IF (SELECT count(*) FROM {orders}) > 1000 THEN
            SET size_label = 'large';
          ELSE
            SET size_label = 'small';
          END IF;
          SELECT o_orderpriority,
                 CAST(count(*) AS BIGINT) AS n_above,
                 thr AS threshold_dollars,
                 size_label
          FROM {orders}
          WHERE o_totalprice > thr
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority;
        END
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


# One recursive-CTE template executed by both engines: min-hop
# reachability from 'view' over the event-type transition graph, run
# to a guarded fixpoint (the hops < 6 bound caps path length; the
# node set is |event_types|, so the frontier is dimension-bounded).
_RECURSIVE_REACH_SQL = """
    WITH RECURSIVE seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM {events}
    ),
    edges AS (
      SELECT DISTINCT prev AS src, event_type AS dst
      FROM seq WHERE prev IS NOT NULL
    ),
    reach(node, hops) AS (
      SELECT 'view', 0
      UNION ALL
      SELECT e.dst, r.hops + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hops < 6
    )
    SELECT node, CAST(min(hops) AS INT) AS hops
    FROM reach GROUP BY node ORDER BY node
"""


@register(
    "recursive_cte_reachability",
    oracle=_RECURSIVE_REACH_SQL.format(events="events"),
    tags=("B1", "B4", "B7"),
    doc="Spark 4 recursive CTE (WITH RECURSIVE, SPARK-24497) executed "
    "as ONE SQL template that DuckDB also runs, rendered with its "
    "table name, as its own oracle — "
    "min-hop reachability from the 'view' node over the event-type "
    "transition graph, iterated to a guarded fixpoint by the ENGINE "
    "rather than a hand-unrolled driver loop (contrast "
    "bfs_levels_event_graph / pagerank_event_graph, whose iteration "
    "count is compiled into the plan).  The recursion guard bounds "
    "path length at 6 and the node set is |event_types|, so every "
    "frontier is dimension-bounded; at 100 TB the one corpus-scale "
    "shuffle is the sessionization window building the edge list — "
    "each recursive step joins frames that fit in memory.",
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _RECURSIVE_REACH_SQL, events=load_table(spark, sf_dir, "events")
    )


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4.0, SPARK-49555): the |> operator chain
# ---------------------------------------------------------------------------

_PIPE_SQL = """
FROM {events}
|> WHERE ts IS NOT NULL AND user_id IS NOT NULL
|> EXTEND CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END
       AS purchase_value
|> AGGREGATE COUNT(*) AS n_events,
             ROUND(SUM(value), 4) AS total_value,
             ROUND(SUM(purchase_value), 4) AS purchase_revenue
   GROUP BY event_type
|> WHERE n_events >= 100
|> EXTEND ROUND(purchase_revenue / total_value, 6) AS purchase_share
|> DROP purchase_revenue
"""


@register(
    "sql_pipe_syntax_agg",
    oracle="""
    WITH agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value), 4) AS total_value,
             round(sum(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0.0 END), 4) AS purchase_revenue
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n_events, total_value,
           round(purchase_revenue / total_value, 6) AS purchase_share
    FROM agg WHERE n_events >= 100
    """,
    tags=("B1", "B7", "B3"),
    doc="SQL PIPE SYNTAX (Spark 4.0, SPARK-49555): the same logical "
    "plan as a classic GROUP BY + HAVING query, written as a linear "
    "|> chain — FROM, WHERE, EXTEND (computed column), AGGREGATE "
    "... GROUP BY, post-aggregation WHERE (HAVING without the "
    "special case), EXTEND again over aggregate outputs, DROP.  "
    "Each pipe stage is a complete relational operator application "
    "in reading order, which is exactly how Catalyst receives it — "
    "the optimized plan is identical to the nested-SQL twin (the "
    "oracle states the classic form), so the surface costs nothing "
    "at 100 TB: one partial-aggregated shuffle on event_type, the "
    "dirty-events timed/keyed contracts applied in the first stage.",
)
def sql_pipe_syntax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_PIPE_SQL, events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# SQL UDFs (Spark 4.0 CREATE FUNCTION ... RETURN)
# ---------------------------------------------------------------------------


@register(
    "sql_udf_money_tiers",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 250000 THEN 'jumbo'
                WHEN o_totalprice >= 100000 THEN 'large'
                WHEN o_totalprice >= 0      THEN 'standard'
           END AS tier,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(least(greatest(o_totalprice, 0.0), 250000.0)), 2)
             AS clamped_total
    FROM orders GROUP BY 1
    """,
    tags=("B23", "B19", "B7"),
    doc="SQL UDFs (Spark 4.0 CREATE TEMPORARY FUNCTION ... RETURN): a "
    "scalar tiering function and a 3-arg clamp, declared once and "
    "used in an aggregate query.  The scale point is in the plan: "
    "Catalyst INLINES the function body into whole-stage codegen — "
    "the physical plan shows the raw CASE/least/greatest with no "
    "call boundary, so a SQL UDF is free abstraction where a Python "
    "UDF is a serialization wall; shared business logic (tiering, "
    "clamping, normalization) belongs in SQL UDFs, never in Python, "
    "whenever it is expressible.  NULL-total rows tier to NULL "
    "through the ordinary CASE fall-through (dirty-orders-safe by "
    "construction: no division, no log, no cast of '-').  The "
    "oracle restates the bodies inline — the contract is that "
    "declaring the abstraction changes nothing.",
)
def sql_udf_money_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION money_tier(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p >= 250000 THEN 'jumbo'
                    WHEN p >= 100000 THEN 'large'
                    WHEN p >= 0      THEN 'standard'
               END
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION
          clamp_ratio(x DOUBLE, lo DOUBLE, hi DOUBLE)
        RETURNS DOUBLE
        RETURN least(greatest(x, lo), hi)
        """
    )
    return spark.sql(
        """
        SELECT money_tier(o_totalprice) AS tier,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(clamp_ratio(o_totalprice, 0.0, 250000.0)), 2)
                 AS clamped_total
        FROM {orders} GROUP BY 1
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )
