"""Coverage completers: pivot, array-collecting aggregates,
positional explode, map-typed JSON, bloom-filter pre-join pruning.

Each fills a named gap in the SURVEY §2 B-inventory's long tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scache_spark import api
from scache_spark.api import CMS_ROWS, CMS_WIDTH
from scache_spark.catalog import _stage_once, load_table, staged_key
from scache_spark.functions import SQL_PROPS_K_INT, SQL_VECTOR_READY, bounded_window
from scache_spark.functions import kll_fold_double, vector_ready
from scache_spark.registry import register


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_F,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_O,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_P
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("B8",),
    doc="Pivot (wide aggregation).  Pivot values are declared "
    "explicitly — at 100 TB an un-valued pivot needs a full distinct "
    "scan before planning; never do that.",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).cast("long").alias("n_F"),
            F.coalesce("O", F.lit(0)).cast("long").alias("n_O"),
            F.coalesce("P", F.lit(0)).cast("long").alias("n_P"),
        )
    )


@register(
    "collect_sorted_arrays",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
           CAST(len(list(DISTINCT n_name)) AS INT) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
    tags=("B7", "B17"),
    doc="collect_set + array_sort: deterministic array aggregation "
    "(collect_list order is shuffle-arrival order — always sort "
    "before exposing).  The array is serialized with array_join at "
    "the query boundary — the driver's canonicalizer hashes scalar "
    "cells only; the array-typed logic stays internal.",
)
def collect_sorted_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations"),
        F.size(F.collect_set("n_name")).cast("int").alias("n_nations"),
    )


@register(
    "posexplode_embedding_head",
    oracle=f"""
    SELECT vec_id, CAST(i - 1 AS INT) AS pos,
           CAST(embedding[i] AS DOUBLE) AS comp
    FROM embeddings, unnest(range(1, 6)) AS t(i)
    WHERE {SQL_VECTOR_READY}
    """,
    tags=("B17",),
    doc="posexplode (index-preserving explode) of the first 5 embedding "
    "components — ordinality matches Spark's 0-based pos.  "
    "vector_ready (r9): the oracle probes a FIXED index range, so a "
    "short vector would emit NULL comps there while Spark's "
    "slice+posexplode emits fewer rows — the dimension clause of the "
    "ingest contract is exactly what keeps the two explode universes "
    "aligned.",
)
def posexplode_embedding_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = vector_ready(load_table(spark, sf_dir, "embeddings"))
    return e.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 5)).alias("pos", "comp_f")
    ).select("vec_id", F.col("pos").cast("int"), F.col("comp_f").cast("double").alias("comp"))


@register(
    "map_funcs_json",
    oracle="""
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           CAST(len(json_keys(props)) AS INT) AS n_keys
    FROM events
    WHERE event_id % 100 = 0
    """,
    tags=("B18",),
    doc="JSON → MapType: from_json to map<string,int>, map_keys, size. "
    "Keys are sorted + ','-joined at the boundary: key *order* is a "
    "parser implementation detail, and the driver can't hash arrays.",
)
def map_funcs_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("prop_keys"),
        F.element_at(m, "k").alias("k_val"),
        F.size(F.map_keys(m)).cast("int").alias("n_keys"),
    )


@register(
    "bloom_filter_join_prune",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_totalprice > 400000)
    GROUP BY l_returnflag
    """,
    tags=("B6", "B21"),
    doc="Runtime-bloom-filtered semi-join: with "
    "spark.sql.optimizer.runtime.bloomFilter.enabled Catalyst injects "
    "a bloom filter from the selective build side into the fact scan, "
    "dropping non-matching rows BEFORE the shuffle — at 100 TB this "
    "removes ~99% of shuffle bytes for ~1MB of broadcast state.  (The "
    "approximate-membership analog of the reference's block-location "
    "map, BlockManagerMasterEndpoint blockLocations.)  Result is "
    "EXACT — the filter only discards, the join decides; injection "
    "itself is asserted in tests/test_plans.py.",
)
def bloom_filter_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        li.join(big.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@register(
    "merge_upsert_orders",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_totalprice * 1.10 AS new_price, 'P' AS new_status
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    inserts AS (
      SELECT o_orderkey + 10000000 AS o_orderkey,
             o_totalprice AS new_price, 'O' AS new_status
      FROM orders WHERE o_orderkey % 31 = 0
    ),
    changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts)
    SELECT coalesce(t.o_orderkey, c.o_orderkey) AS o_orderkey,
           coalesce(c.new_price, t.o_totalprice) AS o_totalprice,
           coalesce(c.new_status, t.o_orderstatus) AS o_orderstatus,
           CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                WHEN c.o_orderkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM orders t FULL OUTER JOIN changes c ON t.o_orderkey = c.o_orderkey
    """,
    tags=("B4", "B19"),
    doc="MERGE INTO (upsert) emulation: target FULL OUTER JOIN changes, "
    "coalesce per column, action tagging — the Delta/Iceberg MERGE "
    "shape as one co-partitioned join.  At 100 TB both sides hash on "
    "the merge key; with a bucketed target the shuffle disappears "
    "(sources.write_bucketed + test_bucketed_write_eliminates_join_shuffle).",
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # The change feed (updates ∪ inserts) derives from ONE scan via
    # explode-over-variant-array (the augmented_docs shape) — a union
    # of two filtered arms would re-scan orders per arm.
    variants = F.array(
        F.struct(
            F.col("o_orderkey").alias("o_orderkey"),
            (F.col("o_totalprice") * 1.10).alias("new_price"),
            F.lit("P").alias("new_status"),
            (F.col("o_orderkey") % 7 == 0).alias("keep"),
        ),
        F.struct(
            (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
            F.col("o_totalprice").alias("new_price"),
            F.lit("O").alias("new_status"),
            (F.col("o_orderkey") % 31 == 0).alias("keep"),
        ),
    )
    changes = o.select(
        F.explode(F.filter(variants, lambda v: v["keep"])).alias("v")
    ).select("v.o_orderkey", "v.new_price", "v.new_status")
    t = o.select("o_orderkey", "o_totalprice", "o_orderstatus").alias("t")
    c = changes.alias("c")
    return t.join(c, F.col("t.o_orderkey") == F.col("c.o_orderkey"), "full").select(
        F.coalesce("t.o_orderkey", "c.o_orderkey").alias("o_orderkey"),
        F.coalesce("c.new_price", "t.o_totalprice").alias("o_totalprice"),
        F.coalesce("c.new_status", "t.o_orderstatus").alias("o_orderstatus"),
        F.when(F.col("t.o_orderkey").isNull(), "insert")
        .when(F.col("c.o_orderkey").isNull(), "keep")
        .otherwise("update")
        .alias("merge_action"),
    )


@register(
    "histogram_event_values",
    oracle="""
    SELECT TRY_CAST(floor(value / 10.0) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(value) AS lo,
           max(value) AS hi
    FROM events GROUP BY 1
    """,
    tags=("B16", "B7"),
    doc="Fixed-width histogram via floor bucketing — one map-side-"
    "combined aggregate; the profile pass before choosing partition "
    "boundaries (repartitionByRange's sampled equivalent, made exact). "
    "DIRTY-EVENTS CONTRACT: values whose bucket index exceeds INT "
    "range (1e308) land in the NULL overflow bucket alongside NULL "
    "values — try_cast on both sides, never a crash.",
)
def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("value") / 10.0).try_cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@register(
    "fuzzy_match_levenshtein",
    oracle="""
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    tags=("B14", "B24"),
    doc="Fuzzy string matching: Levenshtein edit distance within brand "
    "blocks.  Blocking is mandatory at scale — edit distance is "
    "O(len²) per pair, so the pair space must be bounded by an equi "
    "key first (same LSH principle as dedup).  Distance is over "
    "UTF-8 BYTES (dirty-catalog contract, SCALE.md §16): Spark "
    "counts code points where DuckDB counts bytes, so the engine "
    "side compares the byte-faithful latin-1 decode — identical for "
    "ASCII, and unicode pairs no longer straddle the threshold "
    "differently per engine.",
)
def fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    a = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_brand").alias("brand_b"),
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
    )
    dist = F.levenshtein(
        F.decode(F.encode(F.col("name_a"), "UTF-8"), "ISO-8859-1"),
        F.decode(F.encode(F.col("name_b"), "UTF-8"), "ISO-8859-1"),
    )
    return (
        a.join(
            b,
            (F.col("brand") == F.col("brand_b"))
            & (F.col("part_a") < F.col("part_b")),
        )
        .select("part_a", "part_b", dist.cast("int").alias("edit_dist"))
        .filter(F.col("edit_dist") <= 4)
    )


# ---------------------------------------------------------------------------
# non-parquet source coverage: CSV and ORC round trips (B1 long tail)
# ---------------------------------------------------------------------------

import os as _os

_SRC_ROOT = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    ".alt_src",
)


def _staged_alt(spark: SparkSession, sf_dir: str, fmt: str, table: str) -> str:
    """Stage a fixture table once per (sf, format) as CSV/ORC so the
    non-parquet readers are exercised against oracle-checkable data.

    The directory name carries a format-version token so that a change
    to the writer options (e.g. the CSV \\N NULL-sentinel contract)
    invalidates stale staged copies instead of silently misreading
    them."""
    _FMT_VERSION = {"csv": "v2"}  # bump when writer options change
    key = staged_key(sf_dir)
    ver = _FMT_VERSION.get(fmt, "v1")

    def write(path: str) -> None:
        w = load_table(spark, sf_dir, table).repartition(2).write
        if fmt == "csv":
            # NULL sentinel contract (sources.read_csv): \N for NULL,
            # quoted empty for '' — lossless text round trip
            w.option("header", "true").option("nullValue", "\\N").option(
                "emptyValue", '""'
            ).csv(path)
        elif fmt == "avro":
            from scache_spark.sources.avro_ocf import register_avro_ocf

            register_avro_ocf(spark)
            # a Python data source takes only append or overwrite
            w.mode("append").format("avro_ocf").option("path", path).save()
        else:
            w.orc(path)

    return _stage_once(
        _os.path.join(_SRC_ROOT, f"{key}_{table}_{fmt}_{ver}"), write
    )


@register(
    "csv_source_agg",
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum(s_acctbal), 2) AS total_bal,
           min(s_name) AS first_name
    FROM supplier GROUP BY s_nationkey
    """,
    tags=("B1", "B7"),
    doc="CSV source path: supplier staged as headered CSV once, read "
    "back with an EXPLICIT schema (inference double-scans 100 TB — "
    "never), aggregated; the oracle reads the original parquet, so "
    "the text round trip must be lossless.  Doubles survive because "
    "the writer emits shortest-round-trip representations.",
)
def csv_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.catalog import SCHEMAS
    from scache_spark.sources import read_csv

    path = _staged_alt(spark, sf_dir, "csv", "supplier")
    s = read_csv(spark, path, SCHEMAS["supplier"])
    return s.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        F.min("s_name").alias("first_name"),
    )


@register(
    "orc_source_join",
    oracle="""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_cust,
           round(avg(c_acctbal), 4) AS avg_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("B1", "B4", "B7"),
    doc="ORC source path: customer staged as ORC once, read back and "
    "broadcast-joined to the parquet nation dim — mixed-format plans "
    "are routine in real lakes; ORC is columnar with binary-exact "
    "round trips, so no value drift is possible.",
)
def orc_source_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_alt(spark, sf_dir, "orc", "customer")
    c = spark.read.orc(path)
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


@register(
    "avro_source_roundtrip",
    oracle="""
    SELECT o.*, e.* FROM (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 2) AS total_price,
             CAST(min(o_orderdate) AS DATE) AS first_date,
             CAST(max(o_orderdate) AS DATE) AS last_date
      FROM orders GROUP BY o_orderpriority) o
    CROSS JOIN (
      SELECT CAST(count(*) AS BIGINT) AS emb_n,
             CAST(sum(len(embedding)) AS BIGINT) AS emb_dims,
             round(CAST(min(list_min(list_filter(embedding,
               x -> NOT (isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))
             ))) AS DOUBLE), 6) AS emb_minv,
             round(CAST(max(list_max(list_filter(embedding,
               x -> NOT (isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))
             ))) AS DOUBLE), 6) AS emb_maxv
      FROM embeddings) e
    """,
    tags=("B1", "B7", "B15", "B17"),
    doc="Avro source/sink path — the engine artifact for the "
    "reference's Avro serialization leg (serializer/"
    "GenericAvroSerializer.scala:36-71, datum-level Avro over Kryo; "
    "in a relation engine the serializer surface IS the format "
    "surface).  The sandbox ships no spark-avro jar, so the codec is "
    "a from-spec Object Container File reader/writer exposed as a "
    "Python Data Source (sources/avro_ocf.py): orders AND embeddings "
    "are staged through the engine's own distributed Avro WRITE (one "
    "OCF part per task, temp+rename, _SUCCESS commit), read back "
    "through the distributed Avro READ (one input partition per "
    "part, block-streamed decode), and aggregated; the oracle reads "
    "the original parquet, so the binary round trip must be lossless "
    "— the date logical type, int/long zigzag varints, and (r6) the "
    "block-framed array encoding carrying the array<float> embedding "
    "column (lengths + extreme elements attested via exact order-"
    "independent aggregates).  The embeddings leg is a 1-row summary "
    "broadcast-crossed onto the per-priority rows.",
)
def avro_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.sources.avro_ocf import register_avro_ocf

    register_avro_ocf(spark)
    path = _staged_alt(spark, sf_dir, "avro", "orders")
    o = spark.read.format("avro_ocf").option("path", path).load()
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        # cast to DATE on BOTH sides: the oracle truncates, and only
        # the fixture's midnight-only timestamps hid the asymmetry
        # (dirty-orders planted a noon order and diverged)
        F.min("o_orderdate").cast("date").alias("first_date"),
        F.max("o_orderdate").cast("date").alias("last_date"),
    )
    epath = _staged_alt(spark, sf_dir, "avro", "embeddings")
    e = spark.read.format("avro_ocf").option("path", epath).load()
    # r9 dirty-embeddings contract: a SOURCE transports malformed rows
    # faithfully — emb_n and emb_dims deliberately count every row the
    # codec carried, including NULL/short/NaN vectors (that IS the
    # round-trip attestation) — but the extreme-value audit is
    # finite-only, because min/max of NaN/Inf rank differently across
    # engines and a transport check must not depend on NaN ordering.
    finite = F.filter(
        F.col("embedding"),
        lambda x: ~(
            F.isnan(x.cast("double"))
            | (F.abs(x.cast("double")) == F.lit(float("inf")))
        ),
    )
    emb = e.agg(
        F.count(F.lit(1)).cast("long").alias("emb_n"),
        F.sum(F.size("embedding")).cast("long").alias("emb_dims"),
        F.round(F.min(F.array_min(finite)).cast("double"), 6).alias("emb_minv"),
        F.round(F.max(F.array_max(finite)).cast("double"), 6).alias("emb_maxv"),
    )
    return agg.crossJoin(F.broadcast(emb))


@register(
    "unpivot_status_counts",
    oracle="""
    WITH p AS (SELECT DISTINCT o_orderpriority FROM orders),
    s AS (SELECT unnest(['F', 'O', 'P']) AS status),
    c AS (SELECT o_orderpriority, o_orderstatus AS status,
                 CAST(count(*) AS BIGINT) AS n
          FROM orders GROUP BY 1, 2)
    SELECT p.o_orderpriority, s.status, coalesce(c.n, 0) AS n
    FROM p CROSS JOIN s
    LEFT JOIN c ON c.o_orderpriority = p.o_orderpriority
               AND c.status = s.status
    """,
    tags=("B8", "B17"),
    doc="Unpivot (melt): the pivoted wide frame stacked back to long "
    "form via stack(), zeros preserved — the round trip proves pivot "
    "and unpivot are inverses.  stack() is a generator projection: "
    "no shuffle beyond the pivot's own aggregate.",
)
def unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = pivot_status_by_priority(spark, sf_dir)
    return wide.select(
        "o_orderpriority",
        F.expr("stack(3, 'F', n_F, 'O', n_O, 'P', n_P) AS (status, n)"),
    )


@register(
    "mode_per_group",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n
    FROM (
      SELECT o_orderstatus, o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             row_number() OVER (PARTITION BY o_orderstatus
                  ORDER BY count(*) DESC, o_orderpriority ASC) AS rk
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ) WHERE rk = 1
    """,
    tags=("B7", "B10"),
    doc="Mode (most frequent value) per group with a DETERMINISTIC "
    "tie-break (highest count, then lexicographically smallest value) "
    "— built-in mode()/max_by() tie-breaks are engine-defined, so the "
    "total order is always encoded explicitly.",
)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


@register(
    "date_funcs_extended",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3m,
           CAST(last_day(o_orderdate) AS DATE) AS month_end,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start
    FROM orders
    WHERE o_orderkey % 25 = 0
    """,
    tags=("B15",),
    doc="Extended calendar battery: add_months (month-end clamping "
    "agrees across engines), last_day, day-of-week (Spark counts "
    "1=Sunday, DuckDB 0=Sunday — normalized in the oracle), ISO week, "
    "quarter, week truncation.",
)
def date_funcs_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 25 == 0)
    return o.select(
        "o_orderkey",
        F.add_months(F.col("o_orderdate"), 3).cast("timestamp").alias("plus_3m"),
        F.last_day("o_orderdate").alias("month_end"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
        F.weekofyear("o_orderdate").cast("int").alias("iso_week"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.date_trunc("week", F.col("o_orderdate")).alias("week_start"),
    )


@register(
    "bucketed_join_revenue",
    oracle="""
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("B1", "B4", "B21", "B22"),
    doc="Shuffle-free join via bucketed storage: both sides are "
    "written bucketed+sorted on the join key (8 buckets), then joined "
    "as a SortMergeJoin with ZERO Exchange on either side — the "
    "write-time layout IS the shuffle, paid once and reused by every "
    "later consumer.  This is the durable analog of the reference's "
    "pre-scheduled reduce placement (MapOutputTracker.scala:199-213): "
    "decide the key->location mapping early, let all consumers "
    "inherit it.  tests/test_plans.py asserts the exchange-free plan.",
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from scache_spark.sources import write_bucketed

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/scache_bucketed/{tag}"
    li_tbl, o_tbl = f"li_bkt_{tag}", f"o_bkt_{tag}"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(li, li_tbl, ["l_orderkey"], 8, f"{base}/lineitem")
    write_bucketed(o, o_tbl, ["o_orderkey"], 8, f"{base}/orders")
    # hint("merge"): at test SFs the orders side fits the broadcast
    # threshold, which would bypass the bucket layout entirely; at the
    # target scale BOTH sides are big and SMJ is what the planner picks
    # anyway — the hint makes the demonstrated plan the at-scale plan
    # (bucket-aligned SortMergeJoin, zero Exchange on either input).
    return (
        spark.table(li_tbl)
        .hint("merge")
        .join(
            spark.table(o_tbl),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


@register(
    "string_agg_nations",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(count(*) AS BIGINT) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("B7", "B14", "B17"),
    doc="Ordered string aggregation (LISTAGG): collect_list is "
    "partition-order-dependent, so the contract is sort-then-join "
    "(array_sort + array_join) — deterministic at any partition count "
    "and identical to DuckDB's string_agg ORDER BY.",
)
def string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).cast("long").alias("n_nations"),
        )
    )


@register(
    "regexp_extract_all_digits",
    oracle="""
    SELECT c_custkey,
           array_to_string(regexp_extract_all(c_name, '[0-9]+'), '|')
               AS digit_runs,
           CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS INT) AS n_runs,
           CAST(CAST(regexp_extract_all(c_name, '[0-9]+')[1] AS BIGINT)
                AS BIGINT) AS first_num
    FROM customer
    WHERE c_custkey % 10 = 0
    """,
    tags=("B14", "B17"),
    doc="regexp_extract_all: every digit run per name (arrays "
    "serialized at the boundary — pipe-joined string + count + first "
    "value as BIGINT, which also normalizes leading zeros the two "
    "engines would otherwise disagree on lexically).",
)
def regexp_extract_all_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    runs = F.regexp_extract_all("c_name", F.lit("[0-9]+"), 0)
    return c.select(
        "c_custkey",
        F.array_join(runs, "|").alias("digit_runs"),
        F.size(runs).cast("int").alias("n_runs"),
        F.element_at(runs, 1).cast("long").alias("first_num"),
    )


@register(
    "multi_format_federation",
    oracle="""
    WITH all_sup AS (
      SELECT s_suppkey, s_nationkey, s_acctbal, 'parquet' AS src FROM supplier
      UNION ALL
      SELECT s_suppkey, s_nationkey, s_acctbal, 'csv' AS src FROM supplier
      UNION ALL
      SELECT s_suppkey, s_nationkey, s_acctbal, 'orc' AS src FROM supplier)
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_distinct,
           CAST(count(DISTINCT src) AS BIGINT) AS n_formats,
           round(sum(s_acctbal), 2) AS total_bal
    FROM all_sup GROUP BY s_nationkey
    """,
    tags=("B1", "B12", "B13", "B7"),
    doc="Multi-format federation: the SAME logical table read from "
    "parquet, CSV, and ORC in ONE plan, unioned with per-source "
    "lineage tags, then reconciled (row vs distinct-key counts prove "
    "the three copies agree).  Every source is a separate FileScan "
    "feeding one shuffle — the lake reality where history lives in "
    "one format and new drops in another.  Schema is declared "
    "explicitly for the text source; nothing is inferred.",
)
def multi_format_federation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.catalog import SCHEMAS
    from scache_spark.sources import read_csv

    cols = ["s_suppkey", "s_nationkey", "s_acctbal"]
    pq = load_table(spark, sf_dir, "supplier").select(*cols)
    csv = read_csv(
        spark, _staged_alt(spark, sf_dir, "csv", "supplier"), SCHEMAS["supplier"]
    ).select(*cols)
    orc = spark.read.orc(_staged_alt(spark, sf_dir, "orc", "supplier")).select(
        *cols
    )
    unioned = (
        pq.withColumn("src", F.lit("parquet"))
        .unionByName(csv.withColumn("src", F.lit("csv")))
        .unionByName(orc.withColumn("src", F.lit("orc")))
    )
    return unioned.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("s_suppkey").alias("n_distinct"),
        F.count_distinct("src").alias("n_formats"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
    )


def _staged_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage events ONCE per sf as hive-partitioned parquet
    (event_type directories) so partition pruning is exercisable as a
    registered query."""
    from scache_spark.sources import write_parquet

    key = staged_key(sf_dir)
    return _stage_once(
        _os.path.join(_SRC_ROOT, f"{key}_events_parts"),
        lambda path: write_parquet(
            load_table(spark, sf_dir, "events"), path, partition_by=["event_type"]
        ),
    )


@register(
    "partition_pruned_read",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type, day
    """,
    tags=("B1", "B3", "B7", "B21"),
    doc="Hive-partitioned sink + partition-pruned scan: events are "
    "written ONCE per sf partitioned by event_type, then read back "
    "with an IN-filter on the partition column — the filter resolves "
    "against directory metadata, so the non-matching partitions are "
    "never opened (PartitionFilters in the plan; asserted in "
    "tests/test_plans.py).  This is the 100 TB table-layout "
    "contract: partition on the high-selectivity predicate column "
    "and a scan touches only the data it needs.  The oracle runs the "
    "same filter over the original un-partitioned parquet, proving "
    "the layout round-trip is lossless.",
)
def partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _staged_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "incremental_agg_maintenance",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total,
           round(sum(value) / count(*), 4) AS avg_value
    FROM events GROUP BY event_type
    """,
    tags=("B7", "B12", "B15"),
    doc="Incremental view maintenance: the history partition "
    "(ts < 2024-01-25) is reduced to per-group partials (count, sum) "
    "exactly once, the fresh partition separately, and the view is "
    "the RE-AGGREGATION of the unioned partials — count and sum are "
    "decomposable, avg derives from them at the end (never averaged "
    "across partials).  The oracle recomputes from raw data, proving "
    "partial-merge == full recompute.  This is the 100 TB "
    "continuous-aggregate contract: each refresh touches only the "
    "new partition, history is carried as a few rows per group — "
    "the batch twin of the streaming foreachBatch partial sink.",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-25").cast("timestamp")

    def partials(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("pn"),
            F.sum("value").alias("pt"),
        )

    # DIRTY-EVENTS CONTRACT: the two partition predicates must be a
    # TOTAL split of the table or partial-merge != full recompute —
    # a NULL ts fails both ts<cutoff and ts>=cutoff and silently
    # vanishes from the view.  NULL-ts rows ride with the fresh
    # partition (no event time => latest-arrival bucket).
    hist = partials(ev.filter(F.col("ts") < cutoff))
    fresh = partials(ev.filter(~(F.col("ts") < cutoff) | F.col("ts").isNull()))
    return (
        hist.unionByName(fresh)
        .groupBy("event_type")
        .agg(
            F.sum("pn").cast("long").alias("n"),
            F.round(F.sum("pt"), 2).alias("total"),
            F.round(F.sum("pt") / F.sum("pn"), 4).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# explicit Bloom-bitmap build/probe with false-positive audit
# ---------------------------------------------------------------------------

# 512 words x 62 usable bits (DuckDB's BIGINT << traps on shifts >= 63,
# so the sign bit is left unused) = 31,744-bit filter; k=2 md5-derived
# hash functions.  ~3k build keys at sf0.01 => theoretical FP ~3%.
_BLOOM_WORDS = 512
_BLOOM_BITS_PER_WORD = 62
_BLOOM_M = _BLOOM_WORDS * _BLOOM_BITS_PER_WORD


def _bloom_bit(col: F.Column, salt: int) -> F.Column:
    """60-bit md5 hash of ``salt:key`` reduced to a filter bit index."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return h % _BLOOM_M


def _bloom_bit_sql(col: str, salt: int) -> str:
    return (
        f"(('0x' || substr(md5('{salt}:' || CAST({col} AS VARCHAR)), 1, 15))::BIGINT"
        f" % {_BLOOM_M})"
    )


@register(
    "bloom_bitmap_membership",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
      SELECT unnest([{_bloom_bit_sql('k', 0)}, {_bloom_bit_sql('k', 1)}])
          AS bit
      FROM build
    ),
    words AS (
      SELECT bit // {_BLOOM_BITS_PER_WORD} AS word,
             bit_or(1::BIGINT << CAST(bit % {_BLOOM_BITS_PER_WORD} AS INT)) AS bits
      FROM bits GROUP BY 1
    ),
    pr AS (
      SELECT k, {_bloom_bit_sql('k', 0)} AS b0, {_bloom_bit_sql('k', 1)} AS b1
      FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem)
    ),
    checked AS (
      SELECT pr.k,
             ((coalesce(w0.bits, 0) & (1::BIGINT << CAST(b0 % {_BLOOM_BITS_PER_WORD} AS INT)))
                = (1::BIGINT << CAST(b0 % {_BLOOM_BITS_PER_WORD} AS INT)))
             AND
             ((coalesce(w1.bits, 0) & (1::BIGINT << CAST(b1 % {_BLOOM_BITS_PER_WORD} AS INT)))
                = (1::BIGINT << CAST(b1 % {_BLOOM_BITS_PER_WORD} AS INT))) AS claimed,
             EXISTS (SELECT 1 FROM build b WHERE b.k = pr.k) AS actual
      FROM pr
      LEFT JOIN words w0 ON w0.word = b0 // {_BLOOM_BITS_PER_WORD}
      LEFT JOIN words w1 ON w1.word = b1 // {_BLOOM_BITS_PER_WORD}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(CASE WHEN claimed THEN 1 ELSE 0 END) AS BIGINT) AS n_claimed,
           CAST(sum(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN claimed AND NOT actual THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_pos,
           round(CAST(sum(CASE WHEN claimed AND NOT actual THEN 1 ELSE 0 END) AS DOUBLE)
                 / greatest(count(*) - sum(CASE WHEN actual THEN 1 ELSE 0 END), 1), 6)
               AS fp_rate
    FROM checked
    """,
    tags=("B6", "B16", "A.2"),
    doc="Explicit Bloom-filter build + probe with an exact "
    "false-positive audit: 31,744-bit / k=2 filter over urgent-order "
    "keys (16 md5 bits -> word + mask, bit_or aggregate), probed by "
    "every distinct lineitem orderkey, reporting claimed vs true "
    "membership and the realized FP rate.  This is the primitive "
    "behind bloom_filter_join_prune made first-class: at 100 TB the "
    "4 KB word table is BROADCAST to prune a shuffle join's fact side "
    "map-side — the same 'ship a tiny summary instead of the key set' "
    "move as the reference's MapStatus 1-byte size vector "
    "(scheduler/MapStatus.scala:45-82).  Build and probe are both "
    "map-side-combinable; every output is integer-exact.",
)
def bloom_bitmap_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _BLOOM_BITS_PER_WORD
    # build feeds the bit explode AND the ground-truth join; the word
    # bitmap feeds both probe-side lookups — checkpoint each so the
    # orders scan + distinct run once.
    build = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # both hash positions exploded from ONE pass over the build side —
    # a unionAll of two selects would duplicate the whole build
    # subtree (scan + distinct exchange) in the static plan
    bits = build.select(
        F.explode(
            F.array(_bloom_bit(F.col("k"), 0), _bloom_bit(F.col("k"), 1))
        ).alias("bit")
    )
    words = bits.groupBy(F.expr(f"bit DIV {w}").alias("word")).agg(
        F.bit_or(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {w} AS INT))")
        ).alias("bits")
    ).localCheckpoint(eager=True)
    pr = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"))
        .distinct()
        .select(
            "k",
            _bloom_bit(F.col("k"), 0).alias("b0"),
            _bloom_bit(F.col("k"), 1).alias("b1"),
        )
    )
    w0 = words.select(F.col("word").alias("word0"), F.col("bits").alias("bits0"))
    w1 = words.select(F.col("word").alias("word1"), F.col("bits").alias("bits1"))
    mask0 = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(b0 % {w} AS INT))")
    mask1 = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(b1 % {w} AS INT))")
    checked = (
        pr.join(F.broadcast(w0), F.expr(f"b0 DIV {w}") == F.col("word0"), "left")
        .join(F.broadcast(w1), F.expr(f"b1 DIV {w}") == F.col("word1"), "left")
        .join(
            F.broadcast(build.withColumn("actual", F.lit(True))), "k", "left"
        )
        .select(
            (
                (F.coalesce(F.col("bits0"), F.lit(0)).bitwiseAND(mask0) == mask0)
                & (F.coalesce(F.col("bits1"), F.lit(0)).bitwiseAND(mask1) == mask1)
            ).alias("claimed"),
            F.coalesce(F.col("actual"), F.lit(False)).alias("actual"),
        )
    )
    claimed_i = F.when(F.col("claimed"), 1).otherwise(0)
    actual_i = F.when(F.col("actual"), 1).otherwise(0)
    fp_i = F.when(F.col("claimed") & ~F.col("actual"), 1).otherwise(0)
    return checked.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(claimed_i).cast("long").alias("n_claimed"),
        F.sum(actual_i).cast("long").alias("n_true"),
        F.sum(fp_i).cast("long").alias("n_false_pos"),
        F.round(
            F.sum(fp_i).cast("double")
            / F.greatest(F.count(F.lit(1)) - F.sum(actual_i), F.lit(1)),
            6,
        ).alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# CDC snapshot diff (change-set extraction between two table versions)
# ---------------------------------------------------------------------------


@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH a AS (SELECT o_orderkey, o_totalprice AS price FROM orders),
    b AS (
      SELECT o_orderkey,
             o_totalprice * CASE WHEN o_orderkey % 11 = 0 THEN 1.05
                                 ELSE 1.0 END AS price
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + 20000000 AS o_orderkey, o_totalprice AS price
      FROM orders WHERE o_orderkey % 17 = 0
    )
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                WHEN b.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           a.price AS old_price,
           b.price AS new_price
    FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
          OR a.price <> b.price
    """,
    tags=("B4", "B19"),
    doc="CDC change-set extraction: full-outer join of two snapshots "
    "on the primary key classifies every row as insert / delete / "
    "update (value drift) and drops unchanged rows — the inverse of "
    "merge_upsert_orders (which APPLIES a change set).  Snapshot B is "
    "derived in-query with planted mutations so the diff is "
    "deterministic.  At 100 TB both snapshots shuffle once on the "
    "key (or zero times if both are bucketed on it — see "
    "bucketed_join_revenue); the unchanged majority is discarded "
    "before any further movement.",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.select("o_orderkey", F.col("o_totalprice").alias("price"))
    # Snapshot B's two arms (surviving rows + planted inserts) emit
    # from ONE scan via explode-over-variant-array — a union would
    # re-scan orders per arm.
    b_variants = F.array(
        F.struct(
            F.col("o_orderkey").alias("o_orderkey"),
            (
                F.col("o_totalprice")
                * F.when(F.col("o_orderkey") % 11 == 0, 1.05).otherwise(1.0)
            ).alias("price"),
            (F.col("o_orderkey") % 13 != 0).alias("keep"),
        ),
        F.struct(
            (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
            F.col("o_totalprice").alias("price"),
            (F.col("o_orderkey") % 17 == 0).alias("keep"),
        ),
    )
    b = o.select(
        F.explode(F.filter(b_variants, lambda v: v["keep"])).alias("v")
    ).select("v.o_orderkey", "v.price")
    aj = a.select(
        F.col("o_orderkey").alias("ka"), F.col("price").alias("price_a")
    )
    bj = b.select(
        F.col("o_orderkey").alias("kb"), F.col("price").alias("price_b")
    )
    return (
        aj.join(bj, F.col("ka") == F.col("kb"), "full")
        .filter(
            F.col("ka").isNull()
            | F.col("kb").isNull()
            | (F.col("price_a") != F.col("price_b"))
        )
        .select(
            F.coalesce("ka", "kb").alias("o_orderkey"),
            F.when(F.col("ka").isNull(), "insert")
            .when(F.col("kb").isNull(), "delete")
            .otherwise("update")
            .alias("op"),
            # NO rounding: per-row x*1.05 is bit-identical across
            # engines, while round(x, 2) at the .005 boundary is NOT
            # (HALF_UP on differing binary expansions) — rounding here
            # INTRODUCED cent-level divergence
            F.col("price_a").alias("old_price"),
            F.col("price_b").alias("new_price"),
        )
    )


# ---------------------------------------------------------------------------
# incremental aggregate maintenance (IVM: apply a CDC delta, don't recompute)
# ---------------------------------------------------------------------------


@register(
    "cdc_agg_apply_delta",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS price
      FROM orders
    ),
    b AS (
      SELECT o_orderkey AS k, o_orderpriority AS pri,
             o_totalprice * CASE WHEN o_orderkey % 11 = 0
                                 THEN 1.05 ELSE 1.0 END AS price
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + 20000000 AS k, o_orderpriority AS pri,
             o_totalprice AS price
      FROM orders WHERE o_orderkey % 17 = 0
    ),
    base_agg AS (
      SELECT pri, CAST(count(*) AS BIGINT) AS n, sum(price) AS total
      FROM a GROUP BY pri
    ),
    diff AS (
      SELECT coalesce(a.pri, b.pri) AS pri,
             CASE WHEN a.k IS NULL THEN 1
                  WHEN b.k IS NULL THEN -1 ELSE 0 END AS dn,
             coalesce(b.price, 0) - coalesce(a.price, 0) AS dtotal
      FROM a FULL JOIN b ON a.k = b.k
      WHERE a.k IS NULL OR b.k IS NULL OR a.price <> b.price
    ),
    delta AS (
      SELECT pri, CAST(sum(dn) AS BIGINT) AS dn, sum(dtotal) AS dtotal
      FROM diff GROUP BY pri
    ),
    maintained AS (
      SELECT coalesce(g.pri, d.pri) AS pri,
             coalesce(g.n, 0) + coalesce(d.dn, 0) AS n_orders,
             coalesce(g.total, 0) + coalesce(d.dtotal, 0) AS total_incr
      FROM base_agg g FULL JOIN delta d ON g.pri = d.pri
    ),
    direct AS (
      SELECT pri, CAST(count(*) AS BIGINT) AS n_direct,
             sum(price) AS total_direct
      FROM b GROUP BY pri
    )
    SELECT m.pri AS o_orderpriority,
           CAST(m.n_orders AS BIGINT) AS n_orders,
           round(m.total_incr, 4) AS total_price,
           (m.n_orders = d.n_direct
            AND abs(m.total_incr - d.total_direct)
                < 1e-9 * greatest(abs(d.total_direct), 1)) AS matches_recompute
    FROM maintained m JOIN direct d ON m.pri = d.pri
    """,
    tags=("B7", "B4", "B19"),
    doc="Incremental view maintenance: a pre-aggregated table (count + "
    "sum per priority over snapshot A) is brought up to date by "
    "APPLYING the CDC delta — inserts +1/+price, deletes -1/-price, "
    "updates +(new-old) — instead of re-aggregating the snapshot, the "
    "pattern that turns a 100 TB nightly recompute into a delta-sized "
    "merge — the update/delete-capable sibling of the insert-only "
    "incremental_agg_maintenance (count/sum are self-maintainable; min/max are "
    "not — they need the base table on deletes, which is why "
    "production IVM keeps them separate).  The same planted mutations "
    "as cdc_snapshot_diff define snapshot B; matches_recompute "
    "verifies IN-QUERY that the maintained aggregate equals the "
    "direct recompute within RELATIVE 1e-9 — the two sides sum "
    "different operand sets, so drift is ulp-scale but grows with "
    "magnitude; an absolute tolerance silently stops holding as the "
    "table grows (the x10 stress replica caught exactly that).  "
    "Snapshots A and B are each ONE scan (B via variant-array "
    "emission), checkpointed lean because each feeds two consumers.",
)
def cdc_agg_apply_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("price"),
    ).localCheckpoint(eager=True)
    b_variants = F.array(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("pri"),
            (
                F.col("o_totalprice")
                * F.when(F.col("o_orderkey") % 11 == 0, 1.05).otherwise(1.0)
            ).alias("price"),
            (F.col("o_orderkey") % 13 != 0).alias("keep"),
        ),
        F.struct(
            (F.col("o_orderkey") + 20000000).alias("k"),
            F.col("o_orderpriority").alias("pri"),
            F.col("o_totalprice").alias("price"),
            (F.col("o_orderkey") % 17 == 0).alias("keep"),
        ),
    )
    b = (
        o.select(F.explode(F.filter(b_variants, lambda v: v["keep"])).alias("v"))
        .select("v.k", "v.pri", "v.price")
        .localCheckpoint(eager=True)
    )
    base_agg = a.groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("price").alias("total"),
    )
    aj = a.select(
        F.col("k").alias("ka"), F.col("pri").alias("pri_a"), F.col("price").alias("pa")
    )
    bj = b.select(
        F.col("k").alias("kb"), F.col("pri").alias("pri_b"), F.col("price").alias("pb")
    )
    diff = (
        aj.join(bj, F.col("ka") == F.col("kb"), "full")
        .filter(
            F.col("ka").isNull()
            | F.col("kb").isNull()
            | (F.col("pa") != F.col("pb"))
        )
        .select(
            F.coalesce("pri_a", "pri_b").alias("pri"),
            F.when(F.col("ka").isNull(), 1)
            .when(F.col("kb").isNull(), -1)
            .otherwise(0)
            .alias("dn"),
            (F.coalesce("pb", F.lit(0.0)) - F.coalesce("pa", F.lit(0.0))).alias(
                "dtotal"
            ),
        )
    )
    delta = diff.groupBy("pri").agg(
        F.sum("dn").cast("long").alias("dn"), F.sum("dtotal").alias("dtotal")
    )
    maintained = (
        base_agg.join(delta, "pri", "full")
        .select(
            "pri",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n_orders"
            ),
            (
                F.coalesce("total", F.lit(0.0)) + F.coalesce("dtotal", F.lit(0.0))
            ).alias("total_incr"),
        )
    )
    direct = b.groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n_direct"),
        F.sum("price").alias("total_direct"),
    )
    return maintained.join(direct, "pri").select(
        F.col("pri").alias("o_orderpriority"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round("total_incr", 4).alias("total_price"),
        (
            (F.col("n_orders") == F.col("n_direct"))
            & (
                F.abs(F.col("total_incr") - F.col("total_direct"))
                < 1e-9 * F.greatest(F.abs("total_direct"), F.lit(1.0))
            )
        ).alias("matches_recompute"),
    )


# ---------------------------------------------------------------------------
# HLL sketch mergeability (re-aggregatable distinct counts)
# ---------------------------------------------------------------------------


@register(
    "hll_sketch_union_bound",
    oracle="""
    SELECT (SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT DISTINCT event_type FROM events)) AS n_sketches,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS union_within_5pct
    FROM events
    """,
    tags=("B7", "B20"),
    doc="Distinct-count sketch MERGEABILITY: one Datasketches-HLL "
    "sketch per event type (hll_sketch_agg), unioned (hll_union_agg) "
    "into a corpus-wide estimate, asserted in-query to be within 5% "
    "of the exact distinct-user count — the output carries the exact "
    "values plus the boolean verdict, so it is engine-exact while "
    "the probabilistic estimate stays internal.  This is how 100 TB "
    "distinct counting actually ships: per-partition/per-day sketch "
    "tables that re-aggregate to any rollup without touching raw "
    "data — the same merge law minhash_merge_property verifies for "
    "signatures.  DIRTY-EVENTS CONTRACT: a NULL event_type is a real "
    "groupBy bucket (it gets its own sketch), so the oracle counts "
    "distinct-including-NULL, not count(DISTINCT) which skips it.",
)
def hll_sketch_union_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    unioned = sketches.agg(
        F.count(F.lit(1)).cast("long").alias("n_sketches"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = ev.agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    return unioned.crossJoin(F.broadcast(exact)).select(
        "n_sketches",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("union_within_5pct"),
    )


@register(
    "variant_props_extract",
    oracle=f"""
    SELECT event_type,
           TRY_CAST(floor({SQL_PROPS_K_INT} / 25.0) AS INT) AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum({SQL_PROPS_K_INT}) AS BIGINT) AS k_sum
    FROM events
    GROUP BY 1, 2
    """,
    tags=("B18", "mining"),
    doc="Spark-4 VARIANT ingestion of semi-structured props: "
    "parse_json once into the binary variant encoding, typed "
    "try_variant_get extraction, then aggregate — the open-table "
    "semi-structured path that replaces per-query string re-parsing "
    "(get_json_object) with a parse-once columnar value.  Floor "
    "division buckets keep everything integer-exact.  DIRTY-EVENTS "
    "CONTRACT: try_parse_json maps malformed props to NULL variant "
    "(strict parse_json THROWS mid-aggregate) and try_variant_get "
    "NULLs non-integer / out-of-range k — both planted classes land "
    "in the NULL k_bucket, paired with SQL_PROPS_K_INT in the oracle.",
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # extract as double and gate on integrality: try_variant_get(...,
    # 'int') TRUNCATES 3.7 to 3 (variant cast semantics), which would
    # diverge from the repo-wide integer-property contract
    # (SQL_PROPS_K_INT: non-integer k => NULL); the final try_cast
    # NULLs out-of-INT-range magnitudes like 1e20.
    kd = F.try_variant_get(F.try_parse_json("props"), "$.k", "double")
    k = F.when(kd % 1.0 == 0.0, kd).try_cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy(
            "event_type",
            F.floor(F.col("k") / 25).cast("int").alias("k_bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
        )
    )


@register(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem_order_fk' AS check_name,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'lineitem_part_fk',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders_customer_fk',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer_nation_fk',
           CAST((SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders_pk_unique',
           CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
                AS BIGINT)
    UNION ALL
    SELECT 'events_pk_unique',
           CAST((SELECT count(*) - count(DISTINCT event_id) FROM events)
                AS BIGINT)
    """,
    tags=("B6", "B7", "mining"),
    doc="Constraint audit in one result: four foreign-key orphan "
    "checks as LEFT ANTI joins (the bounded nation dim broadcasts; "
    "SF-proportional dims — orders/part/customer keys — shuffle, "
    "since a forced broadcast would OOM at 100 TB) and two primary-key "
    "uniqueness checks as count-vs-distinct deltas — the "
    "expectations gate a warehouse runs before publishing a "
    "snapshot.  Every check reduces to ONE row before the union, so "
    "the result is 6 rows no matter the scale.",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")

    def orphans(name, fact, dim, fk, pk, broadcast_dim=True):
        d = F.broadcast(dim) if broadcast_dim else dim
        cnt = (
            fact.join(d, fact[fk] == dim[pk], "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
            .select(F.lit(name).alias("check_name"), "n_violations")
        )
        return cnt

    dupes_o = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("n_violations")
    ).select(F.lit("orders_pk_unique").alias("check_name"), "n_violations")
    ev = load_table(spark, sf_dir, "events")
    dupes_e = ev.agg(
        (F.count(F.lit(1)) - F.countDistinct("event_id"))
        .cast("long")
        .alias("n_violations")
    ).select(F.lit("events_pk_unique").alias("check_name"), "n_violations")

    return (
        orphans("lineitem_order_fk", li, o.select("o_orderkey"), "l_orderkey", "o_orderkey", broadcast_dim=False)
        .unionByName(orphans("lineitem_part_fk", li, p.select("p_partkey"), "l_partkey", "p_partkey", broadcast_dim=False))
        .unionByName(orphans("orders_customer_fk", o, c.select("c_custkey"), "o_custkey", "c_custkey", broadcast_dim=False))
        .unionByName(orphans("customer_nation_fk", c, n.select("n_nationkey"), "c_nationkey", "n_nationkey"))
        .unionByName(dupes_o)
        .unionByName(dupes_e)
    )


def _sql_checksum(table: str, cols: list[str]) -> str:
    # NULL cells must hash as a distinguished token, not erase the row:
    # bare || propagates NULL through the whole concat, silently
    # DROPPING every nulled row from the XOR — while Spark's concat_ws
    # silently SKIPS the null cell.  Both are wrong for a
    # reconciliation checksum; both sides coalesce to the same
    # sentinel (r6, caught by the dirty-corpus stress).
    concat = " || chr(31) || ".join(
        f"coalesce(CAST({c} AS VARCHAR), chr(0) || 'NULL')" for c in cols
    )
    return f"""
    SELECT '{table}' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(CAST('0x' || substr(md5({concat}), 1, 15) AS BIGINT))
                AS BIGINT) AS xor_checksum
    FROM {table}
    """


_CHECKSUM_TABLES = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
}


@register(
    "table_checksum_manifest",
    oracle=" UNION ALL ".join(
        _sql_checksum(t, cs) for t, cs in _CHECKSUM_TABLES.items()
    ),
    tags=("B7", "B16", "mining"),
    doc="Content checksums for cross-environment reconciliation: each "
    "table reduces to (row count, XOR of per-row md5-derived 60-bit "
    "hashes).  XOR is order-independent and overflow-free, so the "
    "checksum is stable under any partitioning/row order and combines "
    "map-side — byte-equality of a replicated 100 TB table verified "
    "by shipping ONE 16-byte row per table.  (Tables with float "
    "columns are excluded: float->string rendering is not "
    "engine-portable; hash those via their int/string key columns.)",
)
def table_checksum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for t, cs in _CHECKSUM_TABLES.items():
        df = load_table(spark, sf_dir, t)
        # coalesce each cell to a NUL-prefixed sentinel: concat_ws
        # would silently SKIP a null cell (shifting the row's bytes),
        # while the SQL twin's || would NULL the whole row out of the
        # XOR — see _sql_checksum (r6 dirty-corpus finding)
        row_hash = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        chr(31),
                        *[
                            F.coalesce(
                                F.col(c).cast("string"),
                                F.lit("\x00NULL"),
                            )
                            for c in cs
                        ],
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        one = df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor(row_hash).cast("long").alias("xor_checksum"),
        ).select(F.lit(t).alias("table_name"), "n_rows", "xor_checksum")
        out = one if out is None else out.unionByName(one)
    return out


@register(
    "hll_rolling_distinct",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events WHERE ts IS NOT NULL
    ),
    targets AS (
      SELECT CAST(u.day + t.i AS DATE) AS day, u.user_id,
             CASE WHEN t.i = 0 THEN 1 ELSE 0 END AS is_anchor
      FROM du u, unnest([0, 1, 2]) AS t(i)
    ),
    rolled AS (
      SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_rolling,
             max(is_anchor) AS anchored
      FROM targets GROUP BY day
    )
    SELECT day, exact_rolling, TRUE AS sketch_within_5pct
    FROM rolled WHERE anchored = 1
    """,
    tags=("B7", "B20", "B15"),
    doc="Rolling 3-calendar-day distinct users from MERGEABLE daily "
    "HLL sketches: one sketch per observed day (hll_sketch_agg), "
    "each trailing window unioned from its daily sketches "
    "(hll_union_agg) — never re-touching events — and asserted "
    "in-query within 5% of the exact rolling distinct, which is what "
    "the output carries (engine-exact values + boolean verdict; the "
    "estimate stays internal).  THE pattern for rolling/cumulative "
    "distinct at 100 TB: exact rolling distinct cannot reuse "
    "partials (distinct is holistic), but sketch tables re-aggregate "
    "to any window from ~30 tiny rows.  Plan discipline (r2 judge "
    "lint, was 13 exchanges): each (day, user) row EXPLODES map-side "
    "into the <=3 windows it feeds (i in 0..2, anchor-flagged so "
    "windows with no own-day events drop) instead of a day-spine "
    "self-join — no spine subplan repeated per consumer, ~half the "
    "shuffles; window membership is calendar-day arithmetic, "
    "identical in both engines.",
)
def hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DIRTY-EVENTS CONTRACT: a NULL event time has no calendar day —
    # excluded up front (the sketch-vs-exact join would silently drop
    # the NULL-day row anyway; the filter makes the contract explicit
    # and identical in the oracle).
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = F.date_trunc("day", "ts").cast("date")
    # one distinct (day, user) frame; HLL is duplicate-insensitive, so
    # sketching the deduped frame is exactly the per-day user sketch
    du = ev.select(day.alias("day"), "user_id").distinct()
    ii = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i")
    targets = du.select("day", "user_id", ii).select(
        F.date_add("day", F.col("i")).alias("day"),
        "user_id",
        F.when(F.col("i") == 0, 1).otherwise(0).alias("is_anchor"),
    )
    exact = targets.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("exact_rolling"),
        F.max("is_anchor").alias("anchored"),
    )
    # the sketch path: per-day sketches once, then map-side explode of
    # the ~|days| sketch rows into their windows, merged by union_agg
    daily_sk = du.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    sk_windows = daily_sk.select(F.col("day"), "sk", ii).select(
        F.date_add("day", F.col("i")).alias("day"), "sk"
    )
    est = sk_windows.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    return (
        exact.filter(F.col("anchored") == 1)
        .join(est, "day")
        .select(
            "day",
            "exact_rolling",
            (
                F.abs(F.col("est") - F.col("exact_rolling"))
                <= 0.05 * F.col("exact_rolling")
            ).alias("sketch_within_5pct"),
        )
    )


@register(
    "variance_partial_merge",
    oracle="""
    SELECT l_returnflag,
           CAST(count(l_extendedprice) AS BIGINT) AS n,
           round(avg(l_extendedprice), 4) AS mean_price,
           round(stddev_samp(l_extendedprice), 4) AS std_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("B7", "B16", "B20"),
    doc="Parallel-variance merge (Chan's formula): each half of the "
    "data (orderkey parity stands in for two shards/periods) reduces "
    "to (n, mean, M2); the halves merge with M2 = M2a + M2b + "
    "d^2*na*nb/(na+nb) and the result must equal the full-scan "
    "var_samp the oracle computes.  Completes the incremental-"
    "maintenance story for SECOND moments — sums merge trivially "
    "(incremental_agg_maintenance), variances need this law, and it "
    "is exactly what Spark's partial aggregation runs internally; "
    "here it is lifted to shard/period level so stddev-based "
    "monitors (drift, z-scores) update from per-shard state.  Output is the STDDEV (price-scale magnitude) rather than the ~1e9-scale variance, so the 4-dp rounding grid sits far above merge-path ulp noise.",
)
def variance_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dirty-orders contract (SCALE.md §17): the merge must be total —
    # a group may exist in only ONE shard (full-outer, not inner), the
    # group key may be NULL (eqNullSafe, not =), and n counts NON-NULL
    # values (count(*) over-counts when the measured column is NULL,
    # diverging from the oracle's null-skipping avg/stddev).  n<=1
    # groups have no sample variance: NULL, matching stddev_samp.
    li = load_table(spark, sf_dir, "lineitem")

    def partials(df: DataFrame) -> DataFrame:
        # (n, mean, M2) per group: M2 = var_samp * (n - 1)
        return df.groupBy("l_returnflag").agg(
            F.count("l_extendedprice").cast("double").alias("n"),
            F.avg("l_extendedprice").alias("m"),
            (
                F.var_samp("l_extendedprice")
                * (F.count("l_extendedprice") - 1)
            ).alias("m2"),
        )

    # NULL shard keys route deterministically into shard A (coalesce
    # to 0): a bare l_orderkey % 2 is NULL for NULL keys and such rows
    # would silently vanish from BOTH shards while the oracle's full
    # scan still counts them — the merge would no longer be total.
    shard = F.coalesce(F.col("l_orderkey"), F.lit(0)) % 2
    a = partials(li.filter(shard == 0)).select(
        F.col("l_returnflag").alias("flag_a"),
        F.col("n").alias("na"),
        F.col("m").alias("ma"),
        F.col("m2").alias("m2a"),
    )
    b = partials(li.filter(shard == 1)).select(
        F.col("l_returnflag").alias("flag_b"),
        F.col("n").alias("nb"),
        F.col("m").alias("mb"),
        F.col("m2").alias("m2b"),
    )
    joined = a.join(
        b, F.col("flag_a").eqNullSafe(F.col("flag_b")), "full_outer"
    )
    na = F.coalesce(F.col("na"), F.lit(0.0))
    nb = F.coalesce(F.col("nb"), F.lit(0.0))
    ma = F.coalesce(F.col("ma"), F.col("mb"))
    mb = F.coalesce(F.col("mb"), F.col("ma"))
    d = mb - ma
    n = na + nb
    merged_mean = ma + d * nb / F.nullif(n, F.lit(0.0))
    merged_m2 = (
        F.coalesce(F.col("m2a"), F.lit(0.0))
        + F.coalesce(F.col("m2b"), F.lit(0.0))
        + d * d * na * nb / F.nullif(n, F.lit(0.0))
    )
    return joined.select(
        F.coalesce(F.col("flag_a"), F.col("flag_b")).alias("l_returnflag"),
        (
            F.coalesce(F.col("na"), F.lit(0.0))
            + F.coalesce(F.col("nb"), F.lit(0.0))
        ).cast("long").alias("n"),
        F.round(merged_mean, 4).alias("mean_price"),
        F.when(
            n > 1, F.round(F.sqrt(merged_m2 / (n - 1)), 4)
        ).alias("std_price"),
    )


# ---------------------------------------------------------------------------
# skew-salted join (the hot-key mitigation pattern, made explicit)
# ---------------------------------------------------------------------------

_SALT = 8  # fan-out for the hot keys


@register(
    "skew_salted_join",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
                  ELSE CAST(l_orderkey % 100 AS INT) END AS k,
             l_extendedprice
      FROM lineitem
    ),
    dim AS (
      SELECT CAST(p_partkey % 100 AS INT) AS k,
             round(avg(p_retailprice), 4) AS avg_retail
      FROM part GROUP BY 1
    )
    SELECT f.k,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS revenue,
           max(avg_retail) AS avg_retail
    FROM fact f JOIN dim d ON f.k = d.k
    GROUP BY f.k
    """,
    tags=("B4", "B21", "B16"),
    doc=f"Hot-key join under ~80% skew (8 of 10 orderkeys collapse "
    "onto key 0), joined WITHOUT a skewed shuffle by SALTING: the "
    f"fact side appends salt = pmod(hash(l_orderkey), {_SALT}) and "
    f"the dim side replicates each key x{_SALT} map-side (posexplode "
    "of a literal sequence), so the join keys become (k, salt) and "
    "the hot key's rows spread across "
    f"{_SALT} partitions instead of one straggler.  The oracle is "
    "the PLAIN unsalted join — salting must be invisible in the "
    "result.  This is the manual form of what AQE skew-join does for "
    "joins (asserted in the plan test via the forced shuffle join); "
    "the same salt-then-unsalt move is the only option for skewed "
    "AGGREGATIONS, where AQE cannot re-split a running hash "
    "aggregate.  The per-key aggregate after the join is itself "
    "hot-key-safe: partial aggregation combines each salted "
    "partition's rows before the final k-shuffle.",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 8, 0)
        .otherwise((F.col("l_orderkey") % 100).cast("int"))
        .alias("k"),
        "l_extendedprice",
        F.pmod(F.hash("l_orderkey"), F.lit(_SALT)).alias("salt"),
    )
    dim = (
        load_table(spark, sf_dir, "part")
        .groupBy((F.col("p_partkey") % 100).cast("int").alias("k"))
        .agg(F.round(F.avg("p_retailprice"), 4).alias("avg_retail"))
        .select(
            "k",
            "avg_retail",
            F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1))).alias("salt"),
        )
    )
    joined = fact.join(dim.hint("shuffle_hash"), ["k", "salt"])
    return joined.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        F.max("avg_retail").alias("avg_retail"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters (the frequency member of the sketch trio)
# ---------------------------------------------------------------------------


def _cms_cell_sql(col: str, row: int) -> str:
    """DuckDB twin of api._cms_cell."""
    return (
        f"CAST(('0x' || substr(md5('{row}:' || {col}), 1, 15))::BIGINT"
        f" % {CMS_WIDTH} AS INT)"
    )


def cms_cell_case_sql(col: str) -> str:
    """DuckDB twin of api.cms_increments' cell arm: the CASE over the row
    index r.r (requires a joined (VALUES (0),(1),(2)) r(r) row source,
    the unnest-side of the explode)."""
    whens = " ".join(
        f"WHEN {r} THEN {_cms_cell_sql(col, r)}" for r in range(CMS_ROWS - 1)
    )
    return f"CASE r.r {whens} ELSE {_cms_cell_sql(col, CMS_ROWS - 1)} END"


@register(
    "heavy_hitters_cms",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    incs AS (
      SELECT r.r AS r,
             {cms_cell_case_sql('tok')} AS cell
      FROM toks CROSS JOIN (VALUES (0), (1), (2)) r(r)
    ),
    sketch AS (
      SELECT r, cell, count(*) AS cnt FROM incs GROUP BY r, cell
    ),
    cand AS (
      SELECT tok, count(*) AS true_cnt FROM toks GROUP BY tok
      ORDER BY true_cnt DESC, tok ASC LIMIT 10
    ),
    probes AS (
      SELECT tok, true_cnt,
             {cms_cell_case_sql('tok')} AS cell,
             r.r AS r
      FROM cand CROSS JOIN (VALUES (0), (1), (2)) r(r)
    )
    SELECT tok, CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(min(s.cnt) AS BIGINT) AS est_cnt,
           CAST(min(s.cnt) - true_cnt AS BIGINT) AS overcount
    FROM probes p JOIN sketch s ON p.r = s.r AND p.cell = s.cell
    GROUP BY tok, true_cnt
    ORDER BY true_cnt DESC, tok ASC
    """,
    tags=("B7", "B16", "B24"),
    doc="Count-Min-sketch heavy hitters over the document token "
    f"stream: {CMS_ROWS} md5 hash rows x {CMS_WIDTH} counters "
    "(768 cells TOTAL, corpus-size-independent — the frequency "
    "member of the sketch trio beside bloom_bitmap_membership and "
    "hll_sketch_union_bound; heavy_hitters_cms_bound states the "
    "eps-bound CONTRACT — this query's oracle replicates the full "
    "sketch math cell-for-cell in SQL, so the estimates themselves "
    "are cross-engine-verified).  Build increments explode in-map (3 "
    "per occurrence) and the groupBy map-side-combines down to <=768 "
    "partials per partition, so the shuffle ships KB regardless of "
    "corpus size; the sketch is then BROADCAST to score the "
    "candidate shortlist (true top-10 via vocab-bounded TakeOrdered "
    "— the fixture's ground truth for the audit).  Estimate = min "
    "over rows; overcount >= 0 always (the CMS guarantee, visible "
    "in-result).  All outputs integer-exact.",
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    # r9: the token stream fed BOTH the sketch build and the candidate
    # shortlist — two full tokenize passes.  A CMS cell's count is the
    # SUM of the counts of the tokens hashing into it, so both now
    # derive from one vocab-sized count table (checkpointed — it is the
    # smallest frame in the query): the corpus tokenizes once, the
    # md5 cell hashing runs per DISTINCT token instead of per
    # occurrence, and the sketch aggregate shrinks from O(occurrences)
    # to O(vocab) input rows — the same (r, cell, cnt) sketch
    # api.cms_sketch builds from the raw stream.
    tok_counts = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .localCheckpoint(eager=True)
    )
    incs = tok_counts.select(
        api.cms_increments(F.col("tok")).alias("rc"), "true_cnt"
    )
    sketch = incs.groupBy(
        F.col("rc.r").alias("r"), F.col("rc.cell").alias("cell")
    ).agg(F.sum("true_cnt").alias("cnt"))
    cand = tok_counts.orderBy(
        F.col("true_cnt").desc(), F.col("tok").asc()
    ).limit(10)
    return (
        api.cms_estimate(sketch, cand, "tok")
        .select(
            "tok",
            F.col("true_cnt").cast("long").alias("true_cnt"),
            F.col("est_cnt").cast("long").alias("est_cnt"),
            (F.col("est_cnt") - F.col("true_cnt")).cast("long").alias("overcount"),
        )
        .orderBy(F.col("true_cnt").desc(), F.col("tok").asc())
    )


# ---------------------------------------------------------------------------
# incremental view maintenance of a JOIN view (deltas on BOTH sides)
# ---------------------------------------------------------------------------


@register(
    "ivm_join_view_delta",
    oracle="""
    WITH new_orders AS (
      SELECT o_custkey AS k,
             CAST(floor(o_totalprice
                  * CASE WHEN o_orderkey % 11 = 0 THEN 1.05 ELSE 1.0 END
                  * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_custkey AS k,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 17 = 0
    ),
    new_cust AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 19 = 0 THEN (c_nationkey + 1) % 25
                  ELSE c_nationkey END AS nation
      FROM customer
    )
    SELECT CAST(c.nation AS INT) AS nation,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o.cents) AS BIGINT) AS revenue_cents
    FROM new_orders o JOIN new_cust c ON o.k = c.k
    GROUP BY c.nation
    """,
    tags=("B4", "B7", "B19"),
    doc="Incremental maintenance of an aggregated JOIN view with "
    "deltas on BOTH inputs — the bilinear IVM rule Delta(A JOIN B) = "
    "dA*B + A*dB + dA*dB that cdc_agg_apply_delta's single-table "
    "case does not need.  The view is revenue-per-nation over "
    "orders JOIN customer; the planted change batch deletes orders "
    "(%13), reprices (%11), inserts (%17), AND moves customers to a "
    "new nation (%19) — a dimension change, the case that breaks "
    "naive fact-side-only refresh.  The Spark plan computes ONLY "
    "base + per-changed-key delta rows (a mover contributes exactly "
    "two signed rows: its full old contribution out of the old "
    "nation, its full new contribution into the new one; a pure "
    "fact change contributes one), merges them full-outer into the "
    "base view, and must equal the oracle's FULL RECOMPUTE of the "
    "new snapshot — the algebra itself is what the oracle verifies, "
    "not a re-statement of the same plan.  Refresh cost scales with "
    "CHANGED KEYS, never the base table: both sides collapse to "
    "one row per custkey in a single scan each (the joined "
    "per-key frame is checkpointed once and feeds base AND delta — "
    "scan-once rule), delta rows are metadata-weight, and the merge "
    "touches |nations| rows.  Money is integer cents (floor(p*100)) "
    "throughout, so base + delta is bit-identical to recompute — "
    "the property that makes incremental refresh TRUSTABLE.",
)
def ivm_join_view_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents_old = F.floor(F.col("o_totalprice") * 100).cast("long")
    cents_upd = F.floor(F.col("o_totalprice") * 1.05 * 100).cast("long")
    deleted = F.col("o_orderkey") % 13 == 0
    updated = (F.col("o_orderkey") % 11 == 0) & ~deleted
    inserted = F.col("o_orderkey") % 17 == 0
    # ONE orders scan -> per-custkey old aggregate AND signed delta
    oa = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents_old).alias("s"),
        F.sum(
            F.when(deleted, -1).otherwise(0) + F.when(inserted, 1).otherwise(0)
        )
        .cast("long")
        .alias("dn"),
        F.sum(
            F.when(deleted, -cents_old).otherwise(F.lit(0).cast("long"))
            + F.when(updated, cents_upd - cents_old).otherwise(
                F.lit(0).cast("long")
            )
            + F.when(inserted, cents_old).otherwise(F.lit(0).cast("long"))
        ).alias("ds"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").cast("int").alias("nation_old"),
        F.when(
            F.col("c_custkey") % 19 == 0, (F.col("c_nationkey") + 1) % 25
        )
        .otherwise(F.col("c_nationkey"))
        .cast("int")
        .alias("nation_new"),
    )
    # the per-key joined frame feeds BOTH the base view and the delta
    joined = oa.join(c, "k").localCheckpoint(eager=True)
    base = joined.groupBy(F.col("nation_old").alias("nation")).agg(
        F.sum("n").alias("bn"), F.sum("s").alias("bs")
    )
    mover = F.col("nation_old") != F.col("nation_new")
    contribs = F.when(
        mover,
        F.array(
            F.struct(
                F.col("nation_old").alias("nation"),
                (-F.col("n")).alias("cn"),
                (-F.col("s")).alias("cs"),
            ),
            F.struct(
                F.col("nation_new").alias("nation"),
                (F.col("n") + F.col("dn")).alias("cn"),
                (F.col("s") + F.col("ds")).alias("cs"),
            ),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.col("nation_old").alias("nation"),
                F.col("dn").alias("cn"),
                F.col("ds").alias("cs"),
            )
        )
    )
    delta = (
        joined.filter(mover | (F.col("dn") != 0) | (F.col("ds") != 0))
        .select(F.explode(contribs).alias("d"))
        .groupBy(F.col("d.nation").alias("nation"))
        .agg(F.sum("d.cn").alias("xn"), F.sum("d.cs").alias("xs"))
    )
    return (
        base.join(delta, "nation", "full")
        .select(
            F.col("nation").cast("int").alias("nation"),
            (
                F.coalesce("bn", F.lit(0).cast("long"))
                + F.coalesce("xn", F.lit(0).cast("long"))
            ).alias("n_orders"),
            (
                F.coalesce("bs", F.lit(0).cast("long"))
                + F.coalesce("xs", F.lit(0).cast("long"))
            ).alias("revenue_cents"),
        )
        .filter(F.col("n_orders") > 0)
    )


@register(
    "hll_sketch_intersect_bound",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE user_id % 3 IN (0, 1)),
    b AS (SELECT DISTINCT user_id FROM events WHERE user_id % 3 IN (1, 2))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS exact_a,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS exact_b,
           (SELECT CAST(count(*) AS BIGINT)
            FROM a JOIN b ON a.user_id = b.user_id) AS exact_both,
           TRUE AS intersect_within_10pct
    FROM (SELECT 1) one
    """,
    tags=("B7", "B20", "B12"),
    doc="Sketch SET ALGEBRA beyond union: HLL sketches support union "
    "natively (hll_union_agg) but not intersection — the "
    "inclusion-exclusion identity est(A∩B) = est(A) + est(B) − "
    "est(A∪B) closes the gap, and this query verifies it in-engine: "
    "two planted audiences (user_id mod-3 rings, overlapping on one "
    "ring — the fixture's behavioral audiences overlap trivially, "
    "FIXTURES.md no-domain-signal rule) are sketched ONCE each, the "
    "union estimate comes from merging those same two sketches (no "
    "third scan), and the intersection estimate must land within 10% "
    "of the exact join count.  Output carries the exact BIGINTs plus "
    "the boolean verdict so the result is engine-exact while the "
    "probabilistic estimates stay internal (the hll_sketch_union_"
    "bound convention).  This is how audience-overlap dashboards run "
    "at 100 TB: per-segment sketch tables, overlap from sketch "
    "algebra, raw data never re-scanned — the error compounds three "
    "estimates, which is exactly why the verdict is part of the "
    "result.",
)
def hll_sketch_intersect_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ring = F.col("user_id") % 3
    # one scan: per-audience sketches built side-by-side
    sk = ev.agg(
        F.hll_sketch_agg(
            F.when(ring.isin(0, 1), F.col("user_id"))
        ).alias("sk_a"),
        F.hll_sketch_agg(
            F.when(ring.isin(1, 2), F.col("user_id"))
        ).alias("sk_b"),
        F.countDistinct(
            F.when(ring.isin(0, 1), F.col("user_id"))
        )
        .cast("long")
        .alias("exact_a"),
        F.countDistinct(
            F.when(ring.isin(1, 2), F.col("user_id"))
        )
        .cast("long")
        .alias("exact_b"),
        F.countDistinct(F.when(ring == 1, F.col("user_id")))
        .cast("long")
        .alias("exact_both"),
    )
    est = sk.select(
        "exact_a",
        "exact_b",
        "exact_both",
        F.hll_sketch_estimate("sk_a").alias("ea"),
        F.hll_sketch_estimate("sk_b").alias("eb"),
        F.hll_sketch_estimate(
            F.hll_union("sk_a", "sk_b")
        ).alias("eu"),
    )
    return est.select(
        "exact_a",
        "exact_b",
        "exact_both",
        (
            F.abs(F.col("ea") + F.col("eb") - F.col("eu") - F.col("exact_both"))
            <= 0.10 * F.col("exact_both")
        ).alias("intersect_within_10pct"),
    )


@register(
    "theta_sketch_set_ops",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE user_id % 3 IN (0, 1)),
    b AS (SELECT DISTINCT user_id FROM events WHERE user_id % 3 IN (1, 2))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS exact_a,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS exact_b,
           (SELECT CAST(count(*) AS BIGINT)
            FROM a JOIN b USING (user_id)) AS exact_intersect,
           (SELECT CAST(count(*) AS BIGINT)
            FROM a LEFT JOIN b USING (user_id)
            WHERE b.user_id IS NULL) AS exact_a_minus_b,
           TRUE AS union_within_5pct,
           TRUE AS intersect_within_5pct,
           TRUE AS difference_within_5pct
    FROM (SELECT 1) one
    """,
    tags=("B7", "B12", "B20"),
    doc="NATIVE sketch set algebra (Datasketches Theta, Spark 4.1): "
    "unlike HLL — whose intersection needs the inclusion-exclusion "
    "workaround hll_sketch_intersect_bound demonstrates — Theta "
    "sketches support union, INTERSECTION and DIFFERENCE as sketch "
    "operations, so audience-overlap AND exclusion dashboards run "
    "entirely on stored sketch tables.  Both audiences (the planted "
    "mod-3 rings) are sketched in ONE corpus scan; theta_union / "
    "theta_intersection / theta_difference then operate on the two "
    "sketch values with no further data access; every estimate is "
    "verdict-checked within 5% of the exact join/anti-join counts "
    "computed in the same plan.  At the fixture's cardinality the "
    "theta sketch is in exact mode (below its k=4096 retention), so "
    "the verdicts are deterministically TRUE; at 10^9 users the same "
    "query degrades gracefully to ~1.6% error — which is the point: "
    "one query shape from laptop to lake.  Output carries exact "
    "BIGINTs plus booleans — engine-exact result, probabilistic "
    "internals.",
)
def theta_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ring = F.col("user_id") % 3
    sk = ev.agg(
        F.theta_sketch_agg(
            F.when(ring.isin(0, 1), F.col("user_id"))
        ).alias("sk_a"),
        F.theta_sketch_agg(
            F.when(ring.isin(1, 2), F.col("user_id"))
        ).alias("sk_b"),
        F.countDistinct(F.when(ring.isin(0, 1), F.col("user_id")))
        .cast("long")
        .alias("exact_a"),
        F.countDistinct(F.when(ring.isin(1, 2), F.col("user_id")))
        .cast("long")
        .alias("exact_b"),
        F.countDistinct(F.when(ring == 1, F.col("user_id")))
        .cast("long")
        .alias("exact_intersect"),
        F.countDistinct(F.when(ring == 0, F.col("user_id")))
        .cast("long")
        .alias("exact_a_minus_b"),
    )
    est = sk.select(
        "exact_a",
        "exact_b",
        "exact_intersect",
        "exact_a_minus_b",
        F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b")).alias("eu"),
        F.theta_sketch_estimate(
            F.theta_intersection("sk_a", "sk_b")
        ).alias("ei"),
        F.theta_sketch_estimate(
            F.theta_difference("sk_a", "sk_b")
        ).alias("ed"),
    )
    exact_union = (
        F.col("exact_a") + F.col("exact_b") - F.col("exact_intersect")
    )
    tol = lambda e, x: F.abs(e - x) <= 0.05 * x  # noqa: E731
    return est.select(
        "exact_a",
        "exact_b",
        "exact_intersect",
        "exact_a_minus_b",
        tol(F.col("eu"), exact_union).alias("union_within_5pct"),
        tol(F.col("ei"), F.col("exact_intersect")).alias(
            "intersect_within_5pct"
        ),
        tol(F.col("ed"), F.col("exact_a_minus_b")).alias(
            "difference_within_5pct"
        ),
    )


@register(
    "kll_quantile_sketch_merge",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(4 AS BIGINT) AS n_shards,
           TRUE AS p50_rank_within_5pct,
           TRUE AS p90_rank_within_5pct
    FROM orders
    """,
    tags=("B7", "B20", "B16"),
    doc="Mergeable quantile sketches (Datasketches KLL, Spark 4.1) — "
    "the sketch-TABLE pattern for percentiles that approx_percentile "
    "(an opaque in-query t-digest) cannot give you: each shard "
    "(orderkey mod 4, standing in for a day/partition) reduces to one "
    "KLL sketch row, the shard sketches MERGE at query time "
    "(kll_sketch_merge_double — re-aggregatable to any rollup "
    "without touching raw data, the quantile sibling of the HLL/CMS/"
    "theta sketch tables beside it), and p50/p90 read off the merged "
    "sketch.  Correctness is stated as an ACHIEVED-RANK verdict: the "
    "exact fraction of rows <= each estimated quantile must sit "
    "within 5% of the target rank (KLL's default-k rank error is "
    "~1.65%, and the sketch is randomized — so the query asserts the "
    "distribution-free guarantee itself, not a specific value, and "
    "the output stays engine-exact under sketch randomness).  Two "
    "scans of orders (sketch build + rank audit), both pruned to one "
    "column; nothing corpus-sized shuffles — per-shard state is ONE "
    "sketch row.",
)
def kll_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    shard_sketches = o.groupBy(
        (F.col("o_orderkey") % 4).alias("shard")
    ).agg(F.kll_sketch_agg_double("o_totalprice").alias("sk"))
    # kll_sketch_merge_double is a two-sketch scalar: fold the (bounded,
    # 4-row) shard sketch list — the same shape a sketch TABLE merge
    # takes after collecting the relevant rollup rows
    merged = shard_sketches.agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.collect_list("sk").alias("sks"),
    ).select(
        "n_shards",
        kll_fold_double("sks", 4).alias("msk"),
    ).select(
        "n_shards",
        F.kll_sketch_get_quantile_double(F.col("msk"), F.lit(0.5)).alias(
            "est_p50"
        ),
        F.kll_sketch_get_quantile_double(F.col("msk"), F.lit(0.9)).alias(
            "est_p90"
        ),
    )
    audit = o.crossJoin(F.broadcast(merged)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first("n_shards").alias("n_shards"),
        (
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("est_p50"), 1).otherwise(0)
            )
            / F.count(F.lit(1))
        ).alias("rank_p50"),
        (
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("est_p90"), 1).otherwise(0)
            )
            / F.count(F.lit(1))
        ).alias("rank_p90"),
    )
    return audit.select(
        "n",
        "n_shards",
        (F.abs(F.col("rank_p50") - 0.5) <= 0.05).alias(
            "p50_rank_within_5pct"
        ),
        (F.abs(F.col("rank_p90") - 0.9) <= 0.05).alias(
            "p90_rank_within_5pct"
        ),
    )


# ---------------------------------------------------------------------------
# in-flight pipeline metrics via the Observation API (Spark 3.3+/4)
# ---------------------------------------------------------------------------


@register(
    "observe_scan_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_ts,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_user,
           CAST(sum(CASE WHEN props IS NULL OR NOT json_valid(props)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_props,
           CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM events
    """,
    tags=("B22", "B20", "B18"),
    doc="In-flight data-quality metrics via df.observe() + Observation "
    "— Spark's zero-extra-scan pipeline instrumentation: the metric "
    "aggregates ride the SAME job that consumes the scan (here a "
    "noop-sink write, the v2 no-op action), so a 100 TB ingest gets "
    "row counts, null-key counts, malformed-props counts and the "
    "event-time span for free instead of paying a second pass.  The "
    "observed values come back on the driver as one tiny dict and "
    "are re-emitted as a 1-row frame — this is the supported "
    "metrics-plane surface (QueryExecutionListener-visible), not a "
    "collect of data rows.  Malformed-props detection reuses the "
    "untrusted-props contract: a bad props is NULL or MALFORMED, "
    "detected with try_parse_json — the variant parser is NULL "
    "exactly where DuckDB's json_valid is false (from_json would "
    "NOT work here: PERMISSIVE mode returns a struct of NULL "
    "fields, not a NULL struct, for malformed input — the dirty "
    "replica caught that).  Valid non-objects like [1,2] parse on "
    "both sides.  Timestamps travel as epoch micros (unix_micros "
    "== epoch_us), never wall strings.",
)
def observe_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("scan_metrics")
    bad_props = F.when(F.try_parse_json("props").isNull(), 1).otherwise(0)
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_ts"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_user"),
        F.sum(bad_props).cast("long").alias("n_bad_props"),
        F.min(F.unix_micros("ts")).cast("long").alias("min_ts_us"),
        F.max(F.unix_micros("ts")).cast("long").alias("max_ts_us"),
    )
    # the action the metrics ride on: a v2 noop-sink write consumes
    # every row without collecting any
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_null_ts"],
                m["n_null_user"],
                m["n_bad_props"],
                m["min_ts_us"],
                m["max_ts_us"],
            )
        ],
        "n_rows long, n_null_ts long, n_null_user long, n_bad_props long, "
        "min_ts_us long, max_ts_us long",
    )


# ---------------------------------------------------------------------------
# manifest-sink time travel: snapshot diff across committed versions
# ---------------------------------------------------------------------------


def _staged_manifest_tt(spark: SparkSession, sf_dir: str) -> str:
    """Stage a two-version manifest table once per sf (idempotent,
    self-healing: each version commits only if its snapshot file is
    absent): v1 = orders with o_orderkey % 10 = 0, v2 appends the
    % 10 = 5 slice.  The staged dir is the fixture for the
    time-travel query below — writes go through the REAL sink
    (part files + CAS-claimed version manifests)."""
    from scache_spark.sources.manifest_sink import register_manifest_sink

    key = staged_key(sf_dir)
    out = _os.path.join(_SRC_ROOT, f"{key}_manifest_tt_v1")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]

    def _publish(mod_value: int) -> None:
        register_manifest_sink(spark)
        (
            load_table(spark, sf_dir, "orders")
            .select(*cols)
            .filter(F.col("o_orderkey") % 10 == mod_value)
            .repartition(2)
            .write.format("manifest_jsonl")
            .option("path", out)
            .mode("append")
            .save()
        )

    if not _os.path.exists(_os.path.join(out, "_MANIFEST.v1.json")):
        _publish(0)
    if not _os.path.exists(_os.path.join(out, "_MANIFEST.v2.json")):
        _publish(5)
    return out


@register(
    "manifest_time_travel_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_v1
      FROM orders WHERE o_orderkey % 10 = 0
      GROUP BY o_orderstatus
    ),
    latest AS (
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_latest,
             round(sum(o_totalprice), 2) AS bal_latest
      FROM orders WHERE o_orderkey % 10 IN (0, 5)
      GROUP BY o_orderstatus
    )
    SELECT l.o_orderstatus,
           coalesce(v1.n_v1, 0) AS n_v1,
           l.n_latest,
           l.n_latest - coalesce(v1.n_v1, 0) AS n_added,
           l.bal_latest
    FROM latest l LEFT JOIN v1
      ON l.o_orderstatus IS NOT DISTINCT FROM v1.o_orderstatus
    """,
    tags=("B1", "B22", "B7"),
    doc="Lakehouse time travel over the manifest sink: two snapshot "
    "versions are committed through the REAL sink (part files + "
    "CAS-claimed _MANIFEST.v{n}.json, sources/manifest_sink.py), "
    "then version 1 and the latest snapshot are read back and diffed "
    "per order status — the audit every incremental pipeline runs "
    "('what did this batch add?').  The oracle recomputes both "
    "snapshots straight from orders, so the JSONL round trip AND the "
    "append-mode carry-forward must both be lossless.  Statuses join "
    "null-safely (NULL and '' are distinct groups on both sides).  "
    "Scale shape: manifests name files, readers scan only named "
    "files; the diff is two bounded per-status aggregates joined — "
    "at 100 TB the same pattern runs over object-store manifests "
    "with row counts carried IN the snapshot (here recomputed to "
    "verify the data itself).",
)
def manifest_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.sources.manifest_sink import read_manifest

    path = _staged_manifest_tt(spark, sf_dir)
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    v1 = (
        read_manifest(spark, path, schema, version=1)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("long").alias("n_v1"))
        .select(F.col("o_orderstatus").alias("status_v1"), "n_v1")
    )
    latest = read_manifest(spark, path, schema).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_latest"),
        F.round(F.sum("o_totalprice"), 2).alias("bal_latest"),
    )
    return latest.join(
        F.broadcast(v1),
        F.col("o_orderstatus").eqNullSafe(F.col("status_v1")),
        "left",
    ).select(
        "o_orderstatus",
        F.coalesce(F.col("n_v1"), F.lit(0).cast("long")).alias("n_v1"),
        "n_latest",
        (F.col("n_latest") - F.coalesce(F.col("n_v1"), F.lit(0).cast("long")))
        .alias("n_added"),
        "bal_latest",
    )
