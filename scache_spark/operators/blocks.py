"""Shuffle-block data-plane analogs (SURVEY.md §2 Part A → B21/B22).

The reference's core data model is a shuffle block keyed by
``(app, jobId, shuffleId, mapId, reduceId)`` with a size
(`storage/BlockId.scala:79-81`), per-shuffle MapStatus size statistics
(`scheduler/MapStatus.scala:45-82`), round-robin reduce pre-placement
(`MapOutputTracker.scala:199-213`) and a reduce-side fetch plan
(`MapOutputTracker.scala:373-394`).  This module materializes that
model as a *relational view* derived deterministically from lineitem
(FIXTURES.md "reference-shaped auxiliary fixtures") and implements the
reference's bookkeeping as declarative aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scache_spark.catalog import load_table
from scache_spark.registry import register

N_HOSTS = 5  # deterministic stand-in for the client list
N_BACKUPS = 1  # scache.shuffle.replication − 1
N_REDUCES = 4  # reduce-id domain of the block view (l_suppkey % N_REDUCES)

# The deterministic block view: one block per lineitem row.
_BLOCK_VIEW_SQL = f"""
    SELECT 'scache' AS app,
           0 AS job,
           CAST(l_orderkey % 4 AS INT) AS shuffle,
           CAST(l_partkey % 8 AS INT) AS map,
           CAST(l_suppkey % {N_REDUCES} AS INT) AS reduce,
           CAST(floor(l_extendedprice * 100) AS BIGINT) AS size
    FROM lineitem
"""


def block_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the ScacheBlockId-shaped view (app, job, shuffle, map,
    reduce, size) from lineitem — seedless and deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.lit("scache").alias("app"),
        F.lit(0).alias("job"),
        (F.col("l_orderkey") % 4).cast("int").alias("shuffle"),
        (F.col("l_partkey") % 8).cast("int").alias("map"),
        (F.col("l_suppkey") % N_REDUCES).cast("int").alias("reduce"),
        # floor-then-cast: Spark's double→long cast truncates, DuckDB's
        # rounds; floor() agrees in both engines
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("size"),
    )


@register(
    "block_size_stats",
    oracle=f"""
    WITH blocks AS ({_BLOCK_VIEW_SQL})
    SELECT shuffle, reduce,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(size) AS BIGINT) AS total_bytes,
           avg(size) AS avg_bytes,
           max(size) AS max_bytes,
           CAST(ceil(ln(greatest(sum(size), 1)) / ln(1.1)) AS INT)
               AS compressed_total
    FROM blocks GROUP BY shuffle, reduce
    """,
    tags=("A.2", "B7", "B21"),
    doc="MapStatus analog: per-(shuffle,reduce) block counts + sizes + "
    "the 1-byte log1.1 compressed encoding (scheduler/MapStatus.scala:62-81).",
)
def block_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # At 100 TB this is the partial-agg pattern: per-map combine first,
    # one small shuffle on (shuffle, reduce) — exactly how the
    # reference's master aggregates MapStatus updates.
    b = block_view(spark, sf_dir)
    return b.groupBy("shuffle", "reduce").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("size").alias("total_bytes"),
        F.avg("size").alias("avg_bytes"),
        F.max("size").alias("max_bytes"),
        F.ceil(F.log(F.greatest(F.sum("size"), F.lit(1))) / F.log(F.lit(1.1)))
        .cast("int")
        .alias("compressed_total"),
    )


@register(
    "mapstatus_highly_compressed",
    oracle=f"""
    WITH blocks AS ({_BLOCK_VIEW_SQL}),
    cells AS (
      SELECT shuffle, map, reduce, CAST(sum(size) AS BIGINT) AS sz
      FROM blocks
      WHERE (shuffle + map + reduce) % 5 <> 0
      GROUP BY shuffle, map, reduce
    ),
    grid AS (
      SELECT DISTINCT c.shuffle, c.map, r.reduce
      FROM cells c CROSS JOIN
           (SELECT unnest(generate_series(0, {N_REDUCES - 1})) AS reduce) r
    ),
    full_grid AS (
      SELECT g.shuffle, g.map, g.reduce, coalesce(c.sz, 0) AS sz
      FROM grid g LEFT JOIN cells c
        ON g.shuffle = c.shuffle AND g.map = c.map AND g.reduce = c.reduce
    ),
    status AS (
      SELECT shuffle, map,
             CAST(sum(CASE WHEN sz > 0 THEN 1 ELSE 0 END) AS INT)
                 AS n_nonempty,
             CAST(sum(sz) AS BIGINT) AS total_bytes,
             CAST(bit_or(CASE WHEN sz = 0
                              THEN (CAST(1 AS BIGINT) << reduce)
                              ELSE 0 END) AS BIGINT) AS empty_bitmap
      FROM full_grid GROUP BY shuffle, map
    ),
    avgd AS (
      SELECT shuffle, map, n_nonempty, empty_bitmap,
             CASE WHEN n_nonempty > 0
                  THEN total_bytes // n_nonempty ELSE 0 END AS avg_size
      FROM status
    )
    SELECT a.shuffle, a.map, a.n_nonempty, a.avg_size, a.empty_bitmap,
           CAST(sum(abs(f.sz - CASE WHEN f.sz > 0 THEN a.avg_size
                                    ELSE 0 END)) AS BIGINT)
               AS decode_abs_err
    FROM full_grid f
    JOIN avgd a ON f.shuffle = a.shuffle AND f.map = a.map
    GROUP BY a.shuffle, a.map, a.n_nonempty, a.avg_size, a.empty_bitmap
    """,
    tags=("A.2", "B7", "B16", "B18"),
    doc="HighlyCompressedMapStatus analog (scheduler/MapStatus.scala:"
    "132-199): for reducer counts past 2000 the reference stops "
    "shipping one log1.1 byte per block and keeps only the average "
    "non-empty block size plus a RoaringBitmap of EMPTY reduce ids "
    "(getSizeForBlock returns 0 for bitmap members, avgSize "
    "otherwise; avg = totalSize / numNonEmptyBlocks in integer "
    "division, MapStatus.scala:171-196).  This query computes that "
    "status per (shuffle, map) over the block view — emptiness is "
    "planted deterministically ((shuffle+map+reduce) % 5 == 0 cells "
    "are dropped) so the bitmap is provably non-trivial — packing "
    "the bitmap into a 64-bit word via bit_or(1 << reduce) (the "
    "R<=64 fixture's RoaringBitmap container) and reporting "
    "decode_abs_err, the total bytes by which avg-size decoding "
    "misstates true sizes: the precision/size trade the reference "
    "accepts at >2000 reducers, now measurable per map.  All-integer "
    "arithmetic, engine-exact; partial-aggregatable throughout.",
)
def mapstatus_highly_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        block_view(spark, sf_dir)
        .filter((F.col("shuffle") + F.col("map") + F.col("reduce")) % 5 != 0)
        .groupBy("shuffle", "map", "reduce")
        .agg(F.sum("size").cast("long").alias("sz"))
        # <=128-cell frame feeding the grid, the status aggregate, and
        # the decode-error pass — checkpoint so the fact scan runs once
        .localCheckpoint(eager=True)
    )
    grid = (
        cells.select("shuffle", "map")
        .distinct()
        .crossJoin(
            spark.range(N_REDUCES).select(F.col("id").cast("int").alias("reduce"))
        )
    )
    full_grid = grid.join(cells, ["shuffle", "map", "reduce"], "left").select(
        "shuffle", "map", "reduce", F.coalesce("sz", F.lit(0)).alias("sz")
    )
    status = full_grid.groupBy("shuffle", "map").agg(
        F.sum(F.when(F.col("sz") > 0, 1).otherwise(0))
        .cast("int")
        .alias("n_nonempty"),
        F.sum("sz").cast("long").alias("total_bytes"),
        F.bit_or(
            F.when(
                F.col("sz") == 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), reduce)"),
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("empty_bitmap"),
    )
    avgd = status.select(
        "shuffle",
        "map",
        "n_nonempty",
        "empty_bitmap",
        F.when(
            F.col("n_nonempty") > 0,
            F.expr("total_bytes div n_nonempty"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("avg_size"),
    )
    decoded = F.when(F.col("sz") > 0, F.col("avg_size")).otherwise(F.lit(0))
    return (
        full_grid.join(F.broadcast(avgd), ["shuffle", "map"])
        .groupBy("shuffle", "map", "n_nonempty", "avg_size", "empty_bitmap")
        .agg(
            F.sum(F.abs(F.col("sz") - decoded)).cast("long").alias("decode_abs_err")
        )
    )


@register(
    "block_topk_per_shuffle",
    oracle=f"""
    WITH blocks AS ({_BLOCK_VIEW_SQL}),
    sized AS (
      SELECT shuffle, map, reduce, CAST(sum(size) AS BIGINT) AS sz
      FROM blocks GROUP BY shuffle, map, reduce
    )
    SELECT * FROM (
      SELECT shuffle, map, reduce, sz,
             CAST(row_number() OVER (PARTITION BY shuffle
                  ORDER BY sz DESC, map ASC, reduce ASC) AS INT) AS rk
      FROM sized
    ) WHERE rk <= 5
    """,
    tags=("A.4", "B10"),
    doc="BoundedPriorityQueue analog (util/BoundedPriorityQueue.scala:27): "
    "top-5 heaviest blocks per shuffle.",
)
def block_topk_per_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    sized = (
        block_view(spark, sf_dir)
        .groupBy("shuffle", "map", "reduce")
        .agg(F.sum("size").alias("sz"))
    )
    w = Window.partitionBy("shuffle").orderBy(
        F.col("sz").desc(), F.col("map").asc(), F.col("reduce").asc()
    )
    return sized.select(
        "shuffle", "map", "reduce", "sz", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 5)


@register(
    "block_placement_roundrobin",
    oracle=f"""
    WITH blocks AS ({_BLOCK_VIEW_SQL})
    SELECT DISTINCT shuffle, reduce,
           CAST(reduce % {N_HOSTS} AS INT) AS host,
           CAST((reduce + 1) % {N_HOSTS} AS INT) AS backup_host
    FROM blocks
    """,
    tags=("A.2",),
    doc="Reduce pre-scheduling analog (MapOutputTracker.scala:199-213): "
    "round-robin host assignment + replication backup.  The reference "
    "shuffles the host list with an unseeded Random; we use identity "
    "order so placement is reproducible (SURVEY §4 determinism rule).",
)
def block_placement_roundrobin(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = block_view(spark, sf_dir)
    return (
        b.select("shuffle", "reduce")
        .distinct()
        .select(
            "shuffle",
            "reduce",
            (F.col("reduce") % N_HOSTS).cast("int").alias("host"),
            ((F.col("reduce") + 1) % N_HOSTS).cast("int").alias("backup_host"),
        )
    )


@register(
    "block_fetch_plan",
    oracle=f"""
    WITH blocks AS ({_BLOCK_VIEW_SQL})
    SELECT shuffle, reduce,
           CAST(count(DISTINCT map) AS BIGINT) AS n_source_maps,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(size) AS BIGINT) AS fetch_bytes,
           CAST(min(map) AS INT) AS first_map,
           CAST(max(map) AS INT) AS last_map
    FROM blocks GROUP BY shuffle, reduce
    """,
    tags=("A.2",),
    doc="convertMapStatuses analog (MapOutputTracker.scala:373-394): "
    "the per-reducer fetch plan — how many maps / blocks / bytes to pull.",
)
def block_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = block_view(spark, sf_dir)
    return b.groupBy("shuffle", "reduce").agg(
        F.countDistinct("map").cast("long").alias("n_source_maps"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("size").alias("fetch_bytes"),
        F.min("map").cast("int").alias("first_map"),
        F.max("map").cast("int").alias("last_map"),
    )


@register(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity), 2) AS total_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("B7", "B21"),
    doc="Two-phase salted aggregation: identical result to a plain "
    "groupBy (the oracle) but the first shuffle spreads each hot key "
    "over 8 salt buckets — the engine's answer to the reference's "
    "LPT balanced pre-scheduling of skewed reducers (sim/sim.py:223-263).",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.groupBy(
        "l_returnflag", (F.col("l_orderkey") % 8).alias("_salt")
    ).agg(
        F.sum("l_quantity").alias("_pq"),
        F.count(F.lit(1)).alias("_pn"),
    )
    return salted.groupBy("l_returnflag").agg(
        F.round(F.sum("_pq"), 2).alias("total_qty"),
        F.sum("_pn").cast("long").alias("n"),
    )


@register(
    "partition_stats",
    oracle="""
    SELECT CAST(l_orderkey % 8 AS INT) AS pid,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS bytes_proxy
    FROM lineitem GROUP BY 1
    """,
    tags=("B21",),
    doc="Partition-level statistics under a DETERMINISTIC partition "
    "function — pmod(l_orderkey, 8) is exactly what a "
    "HashPartitioner(8) computes for the key, but stated as data so "
    "DuckDB reproduces it (l_orderkey %% 8; keys are positive so "
    "pmod == %%).  The engine's observable MapStatus "
    "(BlockManagerMasterEndpoint memoryStatus analog).  The physical "
    "spark_partition_id() probe lives in tests/test_partition_probe.py "
    "— physical layout is not oracle-matchable by design.",
)
def partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.pmod(F.col("l_orderkey"), F.lit(8)).cast("int").alias("pid")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("bytes_proxy"),
    )


def _interleave_sql(x: str, y: str, bits: int, shr: str) -> str:
    """Morton (Z-order) interleave as portable integer arithmetic:
    x's bit i lands at position 2i, y's at 2i+1.  Terms occupy
    disjoint bits, so ``+`` equals ``|`` and stays engine-portable
    (``shr`` is 'shiftright' for Spark SQL, '>>' handled by the
    caller for DuckDB)."""
    terms = []
    for i in range(bits):
        terms.append(f"(({shr}({x}, {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"(({shr}({y}, {i}) & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


def _interleave_duck(x: str, y: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({y} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


_Z_ORACLE = f"""
    WITH dims AS (
      SELECT CAST(o_custkey % 256 AS BIGINT) AS x,
             CAST(floor(o_totalprice / 2000) AS BIGINT) % 256 AS y
      FROM orders),
    z AS (SELECT x, y, {_interleave_duck('x', 'y', 8)} AS zval FROM dims)
    SELECT CAST(floor(zval / 4096) AS INT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
           CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
    FROM z GROUP BY 1
"""


@register(
    "zorder_layout_stats",
    oracle=_Z_ORACLE,
    tags=("B16", "B21"),
    doc="Z-order (Morton-curve) layout: interleave the bits of two "
    "dimensions into one sort key, bucket by z-range, and report each "
    "bucket's min/max in BOTH dimensions — the per-file statistics a "
    "lakehouse uses for multi-dimensional data skipping.  A single-"
    "column sort bounds only that column; the z-curve bounds every "
    "interleaved dimension at once, so predicates on either column "
    "prune buckets.  The interleave is pure per-row arithmetic (no "
    "shuffle); at 100 TB, repartitionByRange(zval) + sortWithinPartitions "
    "writes the clustered layout with one range exchange.",
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dims = o.select(
        (F.col("o_custkey") % 256).cast("long").alias("x"),
        (F.floor(F.col("o_totalprice") / 2000).cast("long") % 256).alias("y"),
    )
    zval = F.expr(_interleave_sql("x", "y", 8, "shiftright"))
    return (
        dims.select("x", "y", zval.alias("zval"))
        .groupBy(F.floor(F.col("zval") / 4096).cast("int").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("x").cast("long").alias("min_x"),
            F.max("x").cast("long").alias("max_x"),
            F.min("y").cast("long").alias("min_y"),
            F.max("y").cast("long").alias("max_y"),
        )
    )


@register(
    "salted_skew_join",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 4 = 0 THEN 0
                  ELSE l_orderkey END AS jkey,
             l_quantity, l_extendedprice
      FROM lineitem),
    dim AS (
      SELECT CASE WHEN o_orderkey % 4 = 0 THEN 0
                  ELSE o_orderkey END AS jkey,
             o_orderpriority
      FROM orders
      WHERE o_orderkey % 4 <> 0 OR o_orderkey = 4)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 2) AS total_qty
    FROM fact JOIN dim USING (jkey)
    GROUP BY o_orderpriority
    """,
    tags=("B4", "B21"),
    doc="Salted join under engineered key skew: ~25%% of fact rows "
    "collapse onto hot key 0 (one dim row keeps it unique, so the "
    "join result is well-defined).  A plain shuffle join would send "
    "every hot-key row to ONE reducer; instead the fact side gets a "
    "deterministic salt pmod(hash(linenumber, partkey), 8) appended "
    "to the key, the dim side EXPLODES each row to all 8 salts, and "
    "the join runs on (key, salt) — the hot key's rows spread across "
    "8 reducers at the cost of replicating only the small side 8x.  "
    "This is the manual form of what AQE skew-split does adaptively, "
    "and the join-side companion to skew_salted_agg; identical "
    "result to the plain join the oracle runs.",
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    SALTS = 8
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 4 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("jkey"),
        "l_quantity",
        F.pmod(F.xxhash64("l_linenumber", "l_partkey"), F.lit(SALTS)).alias(
            "_salt"
        ),
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") % 4 != 0) | (F.col("o_orderkey") == 4)
    )
    dim = o.select(
        F.when(F.col("o_orderkey") % 4 == 0, F.lit(0))
        .otherwise(F.col("o_orderkey"))
        .alias("jkey"),
        "o_orderpriority",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(SALTS - 1).cast("long"))
        ).alias("_salt"),
    )
    # hint away the broadcast so the salted SHUFFLE path is what runs
    # (at 100 TB neither side broadcasts; at test SF Spark would)
    return (
        fact.join(dim.hint("shuffle_hash"), ["jkey", "_salt"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# join-key skew diagnosis (choose salting / AQE before the join runs)
# ---------------------------------------------------------------------------


@register(
    "skew_diagnosis_report",
    oracle="""
    WITH sides AS (
      SELECT 'orders.o_custkey' AS side, o_custkey AS k FROM orders
      UNION ALL
      SELECT 'events.user_id' AS side, user_id AS k FROM events
    ),
    per_key AS (
      SELECT side, k, CAST(count(*) AS BIGINT) AS c
      FROM sides GROUP BY side, k
    ),
    stats AS (
      SELECT side,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(c) AS BIGINT) AS max_cnt
      FROM per_key GROUP BY side
    )
    SELECT s.side, s.n_rows, s.n_keys, s.max_cnt,
           round(CAST(s.n_rows AS DOUBLE) / s.n_keys, 6) AS avg_cnt,
           round(CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.n_rows, 4)
               AS imbalance,
           (SELECT min(k) FROM per_key p
            WHERE p.side = s.side AND p.c = s.max_cnt) AS top_key
    FROM stats s
    """,
    tags=("B21", "B7", "A.5"),
    doc="Join-key skew diagnosis: per-key count stats for each side of "
    "a prospective join — row/key counts, the heaviest key (smallest "
    "id among ties), and the imbalance factor max/avg that decides "
    "between plain shuffle, AQE skew split (imbalance moderate, few "
    "hot partitions) and salting (imbalance extreme, one pathological "
    "key — see salted_skew_join and the AQE skew plan test).  The "
    "per-reducer size vector the reference's MapStatus ships "
    "(scheduler/MapStatus.scala:45-82) is exactly this report at "
    "block granularity.  Map-side combinable; state is one row per "
    "key per side, integer-exact.",
)
def skew_diagnosis_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.lit("orders.o_custkey").alias("side"), F.col("o_custkey").alias("k")
    )
    e = load_table(spark, sf_dir, "events").select(
        F.lit("events.user_id").alias("side"), F.col("user_id").alias("k")
    )
    # The per-key count table feeds the side stats AND the top-key
    # probe — checkpoint so both fact scans run once, not per branch.
    per_key = (
        o.unionByName(e)
        .groupBy("side", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    stats = per_key.groupBy("side").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_cnt"),
    )
    top = (
        per_key.join(
            stats.select("side", F.col("max_cnt").alias("mc")), "side"
        )
        .filter(F.col("c") == F.col("mc"))
        .groupBy("side")
        .agg(F.min("k").alias("top_key"))
    )
    return stats.join(top, "side").select(
        "side",
        "n_rows",
        "n_keys",
        "max_cnt",
        F.round(F.col("n_rows").cast("double") / F.col("n_keys"), 6).alias(
            "avg_cnt"
        ),
        F.round(
            F.col("max_cnt").cast("double") * F.col("n_keys") / F.col("n_rows"), 4
        ).alias("imbalance"),
        "top_key",
    )


# ---------------------------------------------------------------------------
# custom Python Data Source scan (Spark 4 extensibility surface)
# ---------------------------------------------------------------------------


@register(
    "blocktrace_source_agg",
    oracle="""
    WITH blocks AS (
      SELECT s.shuffle_id, m.map_id, r.reduce_id,
             (m.map_id * 2654435761 + r.reduce_id * 40503
              + s.shuffle_id * 97) % 1000003 % 32768 AS size_b
      FROM (SELECT unnest(generate_series(0, 63)) AS map_id) m
      CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS shuffle_id) s
      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS reduce_id) r)
    SELECT shuffle_id, reduce_id,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(size_b) AS BIGINT) AS total_b,
           CAST(max(size_b) AS BIGINT) AS max_b
    FROM blocks
    GROUP BY shuffle_id, reduce_id
    """,
    tags=("B1", "B7", "A.2"),
    doc="Scan of a CUSTOM Python Data Source (Spark-4 "
    "pyspark.sql.datasource API, sources/blocktrace.py): a zero-I/O "
    "deterministic generator of the reference's block keyspace "
    "(app, job, shuffle, map, reduce) -> size "
    "(storage/BlockId.scala:79-81), partitioned one InputPartition "
    "per map-chunk so the scan parallelizes like a real file source.  "
    "The aggregate is the MapStatus per-reducer size rollup "
    "(scheduler/MapStatus.scala:45-82).  Sizes are a closed-form "
    "integer hash, so the DuckDB oracle regenerates the identical "
    "trace from generate_series — the source's correctness is checked "
    "end-to-end, not just its plumbing.  At scale the generator "
    "stands in for any external keyspace (an object-store manifest, a "
    "shard catalog): partition planning happens in partitions(), rows "
    "stream per-task, nothing passes through the driver.",
)
def blocktrace_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.sources.blocktrace import register_blocktrace

    register_blocktrace(spark)
    df = (
        spark.read.format("scache_blocks")
        .option("shuffles", "2")
        .option("maps", "64")
        .option("reduces", "16")
        .option("numPartitions", "8")
        .load()
    )
    return df.groupBy(
        F.col("shuffle_id").cast("long").alias("shuffle_id"),
        F.col("reduce_id").cast("long").alias("reduce_id"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("size_b").cast("long").alias("total_b"),
        F.max("size_b").cast("long").alias("max_b"),
    )


@register(
    "blocktrace_stream_waves",
    oracle="""
    WITH blocks AS (
      SELECT m.map_id, r.reduce_id,
             (m.map_id * 2654435761 + r.reduce_id * 40503) % 1000003
               % 32768 AS size_b
      FROM (SELECT unnest(generate_series(0, 63)) AS map_id) m
      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS reduce_id) r)
    SELECT reduce_id,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(size_b) AS BIGINT) AS total_b
    FROM blocks
    GROUP BY reduce_id
    """,
    tags=("B27", "A.5", "B1"),
    doc="STREAMING scan of the custom Python data source "
    "(sources/blocktrace.py BlockTraceStreamReader): the block trace "
    "is offset-addressed in map-output WAVES (16 maps per offset "
    "step; under this query's availableNow trigger all waves land in "
    "ONE micro-batch, each wave its own input partition — "
    "per_wave_batches=true with a processing-time trigger delivers "
    "one wave per micro-batch instead, pytest-exercised), mirroring "
    "the reference's arrival model — per-map prefetch "
    "triggers (storage/BlockManagerMasterEndpoint.scala:347-366) and "
    "first-wave predictor sampling (sim/train.py:237-243).  The "
    "running aggregate is per-reducer total bytes, i.e. the live "
    "MapStatus table a pre-scheduler consumes.  Complete output mode "
    "is correct HERE (unlike time-windowed aggs): state is bounded by "
    "the reducer count R, fixed for the shuffle's lifetime, never "
    "time-unbounded.  availableNow drains all waves, so the final "
    "table equals the batch closed form the DuckDB oracle computes.",
)
def blocktrace_stream_waves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.sources.blocktrace import register_blocktrace
    from scache_spark.streaming.windows import run_stream

    register_blocktrace(spark)
    df = (
        spark.readStream.format("scache_blocks")
        .option("maps", "64")
        .option("reduces", "16")
        .option("wave_size", "16")
        .load()
    )
    agg = df.groupBy(F.col("reduce_id").cast("long").alias("reduce_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("size_b").cast("long").alias("total_b"),
    )
    return run_stream(agg, "blocktrace_waves", "complete")


# ---------------------------------------------------------------------------
# small-file compaction planning (OPTIMIZE-style FFD bin pack)
# ---------------------------------------------------------------------------

N_COMPACT_FILES = 24


def _ffd_pack(pdf):
    """First-fit-decreasing: files sorted (size desc, fid asc), each
    placed into the lowest-indexed group it fits (cap = 2x the largest
    file), else a new group opens.  The classic 11/9·OPT + 6/9 bound
    applies — good enough for layout maintenance everywhere."""
    import pandas as pd

    rows = pdf.sort_values(["sz", "fid"], ascending=[False, True])
    cap = 2 * int(rows["sz"].max())
    loads: list[int] = []
    out = []
    for fid, sz in zip(rows["fid"], rows["sz"]):
        fid, sz = int(fid), int(sz)
        g = next((i for i, l in enumerate(loads) if l + sz <= cap), len(loads))
        if g == len(loads):
            loads.append(sz)
        else:
            loads[g] += sz
        out.append((fid, sz, g))
    return pd.DataFrame(out, columns=["fid", "sz", "grp"])


@register(
    "compaction_plan_ffd",
    oracle=f"""
    WITH RECURSIVE files AS (
      SELECT CAST(l_orderkey % {N_COMPACT_FILES} AS INT) AS fid,
             CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS sz
      FROM lineitem GROUP BY 1
    ),
    cap AS (SELECT 2 * max(sz) AS cap FROM files),
    ordered AS (
      SELECT fid, sz,
             CAST(row_number() OVER (ORDER BY sz DESC, fid ASC) AS INT) AS rn
      FROM files
    ),
    pack AS (
      SELECT 0 AS rn, CAST(NULL AS INT) AS fid, CAST(NULL AS BIGINT) AS sz,
             CAST(NULL AS INT) AS grp, CAST([] AS BIGINT[]) AS loads
      UNION ALL
      SELECT o.rn, o.fid, o.sz,
             CAST(coalesce(
               ([i for i in range(1, len(p.loads) + 1)
                 if p.loads[i] + o.sz <= c.cap])[1],
               len(p.loads) + 1) - 1 AS INT) AS grp,
             CASE WHEN coalesce(
                    ([i for i in range(1, len(p.loads) + 1)
                      if p.loads[i] + o.sz <= c.cap])[1],
                    len(p.loads) + 1) <= len(p.loads)
                  THEN [CASE WHEN i = ([j for j in range(1, len(p.loads) + 1)
                                       if p.loads[j] + o.sz <= c.cap])[1]
                             THEN p.loads[i] + o.sz ELSE p.loads[i] END
                        for i in range(1, len(p.loads) + 1)]
                  ELSE list_append(p.loads, o.sz) END AS loads
      FROM pack p JOIN ordered o ON o.rn = p.rn + 1
      CROSS JOIN cap c
    )
    SELECT fid, sz, grp FROM pack WHERE rn > 0
    """,
    tags=("B21", "B23", "B1"),
    doc="OPTIMIZE-style small-file compaction planning: a deterministic "
    f"manifest of {N_COMPACT_FILES} file sizes is bin-packed "
    "first-fit-decreasing into merge groups capped at 2x the largest "
    "file — each group is one rewrite task of a lakehouse table "
    "maintenance job.  Same distributed shape as the LPT scheduler: "
    "the full-scale input collapses to one row per FILE in a single "
    "aggregation (at 100 TB this is the table's file-manifest scan, "
    "not a data scan), then the greedy runs as one tiny grouped-map "
    "task.  The oracle replays FFD with a GROWING loads list in a "
    "recursive CTE (first-fit = first index of the filtered "
    "candidate list).  FFD differs from LPT (lpt_schedule): capacity "
    "bound + open-ended group count vs fixed hosts + makespan "
    "balance — the two ends of the bin-packing family a data "
    "platform actually runs.",
)
def compaction_plan_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        (F.col("l_orderkey") % N_COMPACT_FILES).cast("int").alias("fid")
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("sz")
    )
    return (
        files.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(_ffd_pack, "fid int, sz long, grp int")
    )


# ---------------------------------------------------------------------------
# LRU cache simulation (the MemoryStore eviction policy as a query)
# ---------------------------------------------------------------------------

_LRU_CAP = 16
_LRU_TRACE = 2000


def _lru_sim(pdf):
    """Replay an access trace through an LRU cache of capacity 16 —
    the reference's MemoryStore policy (access-ordered LinkedHashMap,
    storage/memory/MemoryStore.scala:86; eviction scan
    MemoryStore.scala:466-542).  Hit -> move to MRU; miss -> insert,
    evict LRU beyond capacity."""
    import pandas as pd

    rows = pdf.sort_values("rn")
    cache: list[int] = []
    hits = 0
    for blk in rows["block"]:
        blk = int(blk)
        if blk in cache:
            hits += 1
            cache.remove(blk)
            cache.append(blk)
        else:
            cache.append(blk)
            if len(cache) > _LRU_CAP:
                cache.pop(0)
    n = len(rows)
    return pd.DataFrame(
        {
            "n_accesses": [n],
            "hits": [hits],
            "misses": [n - hits],
            "hit_rate": [round(hits / n, 4)],
            "final_cache_size": [len(cache)],
        }
    )


@register(
    "lru_cache_hit_sim",
    oracle=f"""
    WITH RECURSIVE trace AS (
      SELECT block, CAST(rn AS INT) AS rn FROM (
        SELECT CAST(user_id % 64 AS INT) AS block,
               row_number() OVER (ORDER BY ts, event_id) AS rn
        FROM events WHERE ts IS NOT NULL)
      WHERE rn <= {_LRU_TRACE}
    ),
    sim AS (
      SELECT 0 AS rn, 0 AS hits, CAST([] AS INT[]) AS cache
      UNION ALL
      SELECT t.rn,
             s.hits + CASE WHEN list_contains(s.cache, t.block)
                           THEN 1 ELSE 0 END,
             CASE WHEN list_contains(s.cache, t.block)
                  THEN list_append(
                    [c for c in s.cache if c != t.block], t.block)
                  WHEN len(s.cache) >= {_LRU_CAP}
                  THEN list_append(
                    s.cache[len(s.cache) - {_LRU_CAP} + 2:], t.block)
                  ELSE list_append(s.cache, t.block) END AS cache
      FROM sim s JOIN trace t ON t.rn = s.rn + 1
    ),
    final AS (
      SELECT hits, cache FROM sim ORDER BY rn DESC LIMIT 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_acc FROM trace)
    SELECT n_acc AS n_accesses,
           CAST(hits AS BIGINT) AS hits,
           CAST(n_acc - hits AS BIGINT) AS misses,
           round(hits * 1.0 / n_acc, 4) AS hit_rate,
           CAST(len(cache) AS BIGINT) AS final_cache_size
    FROM final, n
    """,
    tags=("A.3", "B22", "B23"),
    doc=f"The reference's LRU block cache as an oracle-checked "
    f"simulation: a {_LRU_TRACE}-access trace (block = user % 64, "
    "total-ordered by ts) replayed through a capacity-"
    f"{_LRU_CAP} access-ordered cache — hit promotes to MRU, miss "
    "evicts the LRU entry (storage/memory/MemoryStore.scala:86,"
    "466-542).  The hit-rate is the number that justifies the "
    "memory-first storage tier (A.3); Spark's own persist() gives "
    "the same policy for real (test_persist_storage_levels), this "
    "query makes the POLICY itself verifiable.  Same distributed "
    "shape as the schedulers: the trace is TakeOrdered-bounded, the "
    "sequential replay is one grouped-map task, and the oracle "
    "carries the cache list through a recursive CTE.",
)
def lru_cache_hit_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DIRTY-EVENTS CONTRACT: an access without a timestamp has no
    # position in the replay trace (and the engines disagree on where
    # NULL sorts) — excluded.
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    trace = (
        ev.select(
            (F.col("user_id") % 64).cast("int").alias("block"), "ts", "event_id"
        )
        .orderBy("ts", "event_id")
        .limit(_LRU_TRACE)
        .select(
            "block",
            F.row_number()
            .over(Window.orderBy("ts", "event_id"))
            .cast("int")
            .alias("rn"),
        )
    )
    return (
        trace.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(
            _lru_sim,
            "n_accesses long, hits long, misses long, hit_rate double, "
            "final_cache_size long",
        )
    )


# ---------------------------------------------------------------------------
# Broadcast-admission audit (the SizeEstimator / MemoryStore decision)
# ---------------------------------------------------------------------------

# JVM in-memory width model, the flat-object subset of the reference's
# reflective walker (util/SizeEstimator.scala:209-247 field sizes;
# storage/memory/MemoryStore.scala admits a block only if the estimate
# fits): fixed-width primitives by JVM slot, strings as a 40-byte
# object (header + fields + char-array header) plus their UTF-8 bytes,
# arrays as a 16-byte header plus 4 bytes per float element, 16 bytes
# of per-row object overhead.
_ROW_OVERHEAD = 16
_STR_OVERHEAD = 40
_ARR_OVERHEAD = 16
_AUTOBROADCAST_BYTES = 64 * 1024 * 1024


def _size_sql_exprs() -> dict[str, str]:
    """Per-table DuckDB row-size expressions, generated from the one
    catalog schema (pure strings — safe at import time)."""
    from scache_spark.catalog import SCHEMAS

    out = {}
    for tname, schema in SCHEMAS.items():
        terms = [str(_ROW_OVERHEAD)]
        for field in schema.fields:
            t = field.dataType.typeName()
            if t in ("integer", "float", "date"):
                terms.append("4")
            elif t in ("long", "double", "timestamp"):
                terms.append("8")
            elif t == "string":
                terms.append(
                    f"{_STR_OVERHEAD} + coalesce(strlen({field.name}), 0)"
                )
            elif t == "array":
                terms.append(
                    f"{_ARR_OVERHEAD} + 4 * coalesce(len({field.name}), 0)"
                )
            else:  # pragma: no cover - catalog only uses the above
                raise ValueError(f"unmodeled type {t} in {tname}")
        out[tname] = " + ".join(terms)
    return out


def _size_col(tname: str):
    """The Spark twin of ``_size_sql_exprs()[tname]`` — built lazily
    because column construction needs an active session."""
    from scache_spark.catalog import SCHEMAS

    col = F.lit(_ROW_OVERHEAD)
    for field in SCHEMAS[tname].fields:
        t = field.dataType.typeName()
        if t in ("integer", "float", "date"):
            col = col + F.lit(4)
        elif t in ("long", "double", "timestamp"):
            col = col + F.lit(8)
        elif t == "string":
            col = col + (
                F.lit(_STR_OVERHEAD)
                + F.coalesce(F.octet_length(field.name), F.lit(0))
            )
        elif t == "array":
            col = col + (
                F.lit(_ARR_OVERHEAD)
                + 4 * F.coalesce(F.size(field.name), F.lit(0))
            )
        else:  # pragma: no cover - catalog only uses the above
            raise ValueError(f"unmodeled type {t} in {tname}")
    return col.cast("long")


_SIZE_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, CAST({sql} AS BIGINT) AS w FROM {t}"
    for t, sql in sorted(_size_sql_exprs().items())
)


@register(
    "broadcast_decision_audit",
    oracle=f"""
    SELECT table_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(w) AS BIGINT) AS est_bytes,
           sum(w) <= {_AUTOBROADCAST_BYTES} AS broadcastable
    FROM (
{_SIZE_ORACLE}
    ) GROUP BY table_name ORDER BY table_name
    """,
    tags=("B22", "B5", "A.2"),
    doc="Broadcast-admission audit: estimated JVM in-memory footprint "
    "of every catalog table under a SizeEstimator-style width model "
    "(util/SizeEstimator.scala:209-247 — fixed slots per primitive, "
    "40B + UTF-8 bytes per string, 16B + 4B/elem per float array, "
    "16B row overhead) versus the 64 MB autoBroadcast threshold — "
    "the same estimate-then-admit decision the reference's "
    "MemoryStore makes before caching a block and the exact input "
    "to this repo's BOUNDED_TABLES policy (catalog.py): region/"
    "nation stay broadcastable at every SF while customer/part/"
    "supplier visibly grow toward the threshold, which is WHY their "
    "hints are left to AQE.  Scale: every table scan collapses to "
    "(table_name, width) in-map, the union feeds ONE map-side-"
    "combinable 10-group aggregate — a single exchange carrying one "
    "partial per (partition, table), the row data never shuffles.  "
    "Integer-exact.",
)
def broadcast_decision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    widths = None
    for tname in sorted(_size_sql_exprs()):
        df = load_table(spark, sf_dir, tname).select(
            F.lit(tname).alias("table_name"),
            _size_col(tname).alias("w"),
        )
        widths = df if widths is None else widths.unionByName(df)
    return (
        widths.groupBy("table_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("w").cast("long").alias("est_bytes"),
        )
        .select(
            "table_name",
            "n_rows",
            "est_bytes",
            (F.col("est_bytes") <= _AUTOBROADCAST_BYTES).alias(
                "broadcastable"
            ),
        )
        .orderBy("table_name")
    )


# ---------------------------------------------------------------------------
# reduce-partition skew split planning (the mitigation ACTION the
# diagnosis queries above stop short of)
# ---------------------------------------------------------------------------

# Planted hot reducer: reduce 0 carries 10x weight so the fixture has a
# provable skew signal (same device as mapstatus_highly_compressed's
# planted emptiness — the raw l_suppkey % 4 loads are near-uniform).
_HOT_WEIGHTED_LOADS_SQL = f"""
      SELECT shuffle, reduce,
             CAST(sum(CASE WHEN reduce = 0 THEN size * 10
                           ELSE size END) AS BIGINT) AS load_bytes
      FROM blocks GROUP BY shuffle, reduce
"""


@register(
    "skew_split_plan",
    oracle=f"""
    WITH blocks AS ({_BLOCK_VIEW_SQL}),
    loads AS ({_HOT_WEIGHTED_LOADS_SQL}),
    stats AS (
      SELECT shuffle, reduce, load_bytes,
             CAST(sum(load_bytes) OVER (PARTITION BY shuffle) AS BIGINT)
                 AS shuffle_total,
             CAST(count(*) OVER (PARTITION BY shuffle) AS BIGINT) AS n_red,
             CAST(max(load_bytes) OVER (PARTITION BY shuffle) AS BIGINT)
                 AS makespan_before
      FROM loads
    ),
    plan AS (
      SELECT shuffle, reduce, load_bytes, makespan_before,
             (4 * n_red * load_bytes > 5 * shuffle_total) AS is_skewed,
             greatest(shuffle_total // n_red, 1) AS target
      FROM stats
    ),
    split AS (
      SELECT shuffle, reduce, load_bytes, makespan_before, is_skewed,
             CASE WHEN is_skewed
                  THEN (load_bytes + target - 1) // target
                  ELSE CAST(1 AS BIGINT) END AS n_splits
      FROM plan
    )
    SELECT shuffle, reduce, load_bytes, is_skewed, n_splits,
           (load_bytes + n_splits - 1) // n_splits AS split_bytes,
           makespan_before,
           CAST(max((load_bytes + n_splits - 1) // n_splits)
                OVER (PARTITION BY shuffle) AS BIGINT) AS makespan_after
    FROM split
    """,
    tags=("A.2", "A.5", "B7", "B11"),
    doc="Reduce-partition skew SPLIT PLAN — the mitigation action the "
    "reference's size statistics exist to enable: MapStatus per-reduce "
    "sizes (scheduler/MapStatus.scala:45-82) feed the reduce-size "
    "prediction the paper schedules on (sim/train.py predicts per-"
    "reduce bytes from partial map output), and the natural runtime "
    "response to a predicted hot reducer is to split it — exactly "
    "what Spark AQE's OptimizeSkewedJoin does online with a median "
    "threshold and a target size.  This query is the offline twin "
    "over the block view: reduce 0 is planted 10x hot (deterministic "
    "fixture signal, like the mapstatus twin's planted emptiness), a "
    "reducer is skewed when load > 1.25x its shuffle's mean — "
    "expressed ALL-INTEGER as 4*N*load > 5*total so both engines "
    "compare exactly — the split target is the integer mean "
    "(shuffle_total div N), n_splits = ceil-div(load, target), and "
    "makespan_before/after report the max per-reducer bytes a "
    "straggler fetches without and with the split (the -13 percent "
    "Terasort headline is exactly a makespan_after win).  Scale: one "
    "map-side-combinable aggregate to R rows per shuffle, then "
    "windows over the fixed reduce domain (N_REDUCES rows per "
    "partition) — nothing SF-proportional crosses the second "
    "exchange; at 100 TB this plans splits for 10^5 reducers from "
    "kilobytes of MapStatus stats.  Integer-exact throughout.",
)
def skew_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = block_view(spark, sf_dir)
    loads = b.groupBy("shuffle", "reduce").agg(
        F.sum(
            F.when(F.col("reduce") == 0, F.col("size") * 10).otherwise(
                F.col("size")
            )
        ).alias("load_bytes")
    )
    w = Window.partitionBy("shuffle")
    stats = loads.select(
        "shuffle",
        "reduce",
        "load_bytes",
        F.sum("load_bytes").over(w).alias("shuffle_total"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_red"),
        F.max("load_bytes").over(w).alias("makespan_before"),
    )
    plan = stats.select(
        "shuffle",
        "reduce",
        "load_bytes",
        "makespan_before",
        (
            F.lit(4) * F.col("n_red") * F.col("load_bytes")
            > F.lit(5) * F.col("shuffle_total")
        ).alias("is_skewed"),
        F.greatest(
            F.expr("shuffle_total div n_red"), F.lit(1).cast("long")
        ).alias("target"),
    )
    split = plan.select(
        "shuffle",
        "reduce",
        "load_bytes",
        "makespan_before",
        "is_skewed",
        F.when(
            F.col("is_skewed"),
            F.expr("(load_bytes + target - 1) div target"),
        )
        .otherwise(F.lit(1).cast("long"))
        .alias("n_splits"),
    ).withColumn(
        "split_bytes", F.expr("(load_bytes + n_splits - 1) div n_splits")
    )
    return split.select(
        "shuffle",
        "reduce",
        "load_bytes",
        "is_skewed",
        "n_splits",
        "split_bytes",
        "makespan_before",
        F.max("split_bytes").over(w).alias("makespan_after"),
    )
