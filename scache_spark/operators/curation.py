"""Training-data curation operators: shard assignment, curriculum
interleaving, budgeted selection, attribution.

The last mile of a 100 TB corpus pipeline: AFTER dedup/quality
filtering (dedup.py, pipeline.py) the surviving documents must be
shuffled into shards, ordered into a curriculum, and cut to a token
budget — all deterministically, so a re-run (or an incremental shard
rebuild) reproduces byte-identical training order.  All randomness is
md5-derived (seedable-randomness rule, SURVEY §4); every ordering has
a unique tie-break key.

``token_budget_selection`` demonstrates the scale pattern for global
ordered selection: a distributed prefix sum (per-bucket cumsum +
tiny bucket-offset table) replaces the single-partition global window
a naive cumsum would need — same exact integers, parallel plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scache_spark import api
from scache_spark.catalog import load_table
from scache_spark.functions import bounded_window, sql_hash64
from scache_spark.registry import register

N_SHARDS = 16
# Below the smallest fixture's total (~28k tokens at sf0.001) so the
# cut is exercised at every SF.
TOKEN_BUDGET = 15_000


@register(
    "training_shard_assignment",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             {sql_hash64("'shard:' || CAST(doc_id AS VARCHAR)")} AS k
      FROM documents
    )
    SELECT doc_id,
           CAST(k % {N_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY k % {N_SHARDS}
                                   ORDER BY k, doc_id) AS BIGINT) AS pos
    FROM keyed
    """,
    tags=("B21", "B13", "mining"),
    doc="Deterministic training shuffle: each document hashes to a "
    f"shard (md5-derived key, {N_SHARDS} shards) and gets a dense "
    "position from the hash order WITHIN its shard — a global random "
    "permutation without any global sort: the shuffle is uniform by "
    "construction and each shard's window runs in parallel.  Re-runs "
    "(and single-shard rebuilds) reproduce byte-identical order.",
)
def training_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return api.shard_assign(docs, "doc_id", n_shards=N_SHARDS).select(
        "doc_id", "shard", F.col("shard_pos").alias("pos")
    )


@register(
    "curriculum_interleave",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank_in_source
      FROM documents
    ),
    sidx AS (
      SELECT source,
             CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS si
      FROM (SELECT DISTINCT source FROM documents)
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS s_total FROM sidx)
    SELECT r.doc_id, r.source, r.rank_in_source,
           (r.rank_in_source - 1) * n.s_total + x.si AS global_pos
    FROM ranked r JOIN sidx x ON r.source = x.source CROSS JOIN n
    """,
    tags=("B11", "mining"),
    doc="Curriculum interleaving: documents rank within their source "
    "(longest first — the quality proxy), and the global training "
    "order round-robins sources via closed-form position arithmetic "
    "(rank-1)*n_sources + source_index — NO global sort, no shuffle "
    "beyond the per-source window; every position is unique by "
    "construction.  This is how mixture ratios stay stable through "
    "the whole epoch instead of front-loading one source.",
)
def curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wr = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = docs.select(
        "doc_id",
        "source",
        F.row_number().over(wr).cast("long").alias("rank_in_source"),
    )
    ws = bounded_window("source", "source")
    # The tiny source-index map feeds the count AND the final join;
    # checkpoint it so the distinct-sources scan runs once.
    sidx = (
        docs.select("source")
        .distinct()
        .select(
            "source", (F.row_number().over(ws) - 1).cast("long").alias("si")
        )
        .localCheckpoint(eager=True)
    )
    n = sidx.agg(F.count(F.lit(1)).cast("long").alias("s_total"))
    return (
        ranked.join(F.broadcast(sidx), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "source",
            "rank_in_source",
            (
                (F.col("rank_in_source") - 1) * F.col("s_total") + F.col("si")
            ).alias("global_pos"),
        )
    )


@register(
    "token_budget_selection",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, tokens,
             sum(tokens) OVER (ORDER BY tokens DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_end
      FROM t
    )
    SELECT doc_id, tokens, CAST(cum_end AS BIGINT) AS cum_end
    FROM c WHERE cum_end <= {TOKEN_BUDGET}
    """,
    tags=("B11", "B10", "mining"),
    doc="Budgeted selection with a DISTRIBUTED prefix sum: keep the "
    f"highest-priority documents until {TOKEN_BUDGET} tokens.  The "
    "oracle is the naive global cumsum (one ordered window = one "
    "partition at scale); the engine instead buckets the priority "
    "key into fixed ranges, cumsums WITHIN each bucket in parallel, "
    "and adds a per-bucket offset from a tiny bucket-total prefix "
    "table — identical integers along the same total order "
    "(bucket is monotone in the sort key), but every big window "
    "runs partitioned.  This is the scale shape for any global "
    "ordered selection (top-N% sampling, score-cut curation).",
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("tokens"),
    )
    # Bucket boundaries are fixed constants of the sort key, so
    # (bucket DESC, tokens DESC, doc_id) is the same total order the
    # oracle sorts by.
    b = t.withColumn("bucket", F.floor(F.col("tokens") / F.lit(32)))
    win = (
        Window.partitionBy("bucket")
        .orderBy(F.col("tokens").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = b.withColumn("within", F.sum("tokens").over(win))
    btot = b.groupBy("bucket").agg(F.sum("tokens").alias("btot"))
    woff = (
        bounded_window("bucket", F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = btot.select(
        "bucket",
        F.coalesce(F.sum("btot").over(woff), F.lit(0)).alias("offset"),
    )
    return (
        within.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "tokens",
            (F.col("offset") + F.col("within")).cast("long").alias("cum_end"),
        )
        .filter(F.col("cum_end") <= TOKEN_BUDGET)
    )


@register(
    "attribution_linear_split",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts, value
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, ts
          FROM events WHERE event_type = 'click'),
    pairs AS (
      SELECT p.purchase_id, c.click_id, p.value,
             CAST(count(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
                 AS n_clicks
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND c.ts BETWEEN p.ts - INTERVAL '30 minutes' AND p.ts
    )
    SELECT click_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value / n_clicks), 4) AS total_credit
    FROM pairs GROUP BY click_id
    """,
    tags=("B4", "B11", "temporal"),
    doc="Linear multi-touch attribution: each purchase's value splits "
    "equally across the user's clicks in the trailing 30 minutes, "
    "then credit aggregates per click.  The join key is "
    "(user_id, time_bucket) with bucket width = the attribution "
    "window: a qualifying click's bucket is either the purchase's or "
    "the one before, so each purchase explodes to exactly two bucket "
    "probes and the time window becomes a residual filter over an "
    "EQUI-join.  user_id alone is NOT a sufficient key — a whale "
    "user makes purchases x clicks quadratic within the key (the "
    "skew-replica stress measured 78s -> bucketed seconds at one "
    "hot user holding ~57%% of events); bucketing bounds the pair "
    "space to co-temporal events at ANY per-user volume.",
)
def attribution_linear_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.api import windowed_pair_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        "value",
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )
    pairs = windowed_pair_join(
        p, c, on="user_id", left_ts="p_ts", right_ts="c_ts", window="30 minutes"
    )
    wn = Window.partitionBy("purchase_id")
    credited = pairs.withColumn(
        "n_clicks", F.count(F.lit(1)).over(wn).cast("long")
    )
    return credited.groupBy("click_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.round(F.sum(F.col("value") / F.col("n_clicks")), 4).alias(
            "total_credit"
        ),
    )


# ---------------------------------------------------------------------------
# WOE / IV feature binning (supervised feature screening)
# ---------------------------------------------------------------------------

_WOE_BINS = 8


@register(
    "woe_iv_binning",
    oracle=f"""
    WITH dom AS (
      SELECT o_totalprice, o_orderstatus FROM orders
      WHERE (o_totalprice IS NOT NULL AND abs(o_totalprice) < 1e9)
    ),
    rng AS (
      SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM dom
    ),
    binned AS (
      SELECT CAST(CASE WHEN rng.mx = rng.mn THEN 0
                   ELSE least(floor((o_totalprice - rng.mn)
                              / ((rng.mx - rng.mn) / {_WOE_BINS}.0)),
                        {_WOE_BINS - 1}) END AS INT) AS bin,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM dom, rng
    ),
    cells AS (
      SELECT bin,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(sum(n_pos) AS BIGINT) AS tp, CAST(sum(n_neg) AS BIGINT) AS tn
      FROM cells
    )
    SELECT bin, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN round(ln((n_pos * 1.0 / tp) / (n_neg * 1.0 / tn)), 6)
           END AS woe,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN round((n_pos * 1.0 / tp - n_neg * 1.0 / tn)
                           * ln((n_pos * 1.0 / tp) / (n_neg * 1.0 / tn)), 6)
           END AS iv_term
    FROM cells, tot
    """,
    tags=("B16", "B7", "B19"),
    doc="Weight-of-evidence / information-value feature binning — the "
    "standard supervised screen for 'does this feature separate the "
    "classes' before model training.  o_totalprice is cut into "
    f"{_WOE_BINS} equal-width bins from a broadcast (min, max) 1-row "
    "aggregate (NOT a global ntile — no single-partition window "
    "anywhere; bin assignment is pure map-side arithmetic), label = "
    "order status 'F'.  Per bin: class counts, WOE = "
    "ln(%pos / %neg), and the IV contribution (sum iv_term for the "
    "feature's IV).  Equal-width from broadcast extrema is the "
    "100 TB-safe binning; quantile bins would use the approx- "
    "percentile edges the same broadcast way.  ln rounded to 6 dp "
    "(transcendental ulp rule).",
)
def woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import money_domain

    o = load_table(spark, sf_dir, "orders").where(
        money_domain("o_totalprice")
    )
    rng = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    # Degenerate single-value domain (mx == mn) → bin width 0 →
    # 0/0 = NaN bins; guard to bin 0 like the binning siblings
    # (psi_drift_bins, ks_drift_binned, equi_depth_hist_binning).
    binned = o.crossJoin(F.broadcast(rng)).select(
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / float(_WOE_BINS))
                ),
                F.lit(_WOE_BINS - 1),
            )
        )
        .cast("int")
        .alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    # <=bins-row table feeding the totals AND the WoE terms —
    # checkpoint so the orders scan (and min/max pass) runs once.
    cells = binned.groupBy("bin").agg(
        F.sum("y").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
    ).localCheckpoint(eager=True)
    tot = cells.agg(
        F.sum("n_pos").cast("long").alias("tp"),
        F.sum("n_neg").cast("long").alias("tn"),
    )
    pp = F.col("n_pos") * 1.0 / F.col("tp")
    pn = F.col("n_neg") * 1.0 / F.col("tn")
    return cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_pos",
        "n_neg",
        # zero cells have no finite WoE: NULL on both sides (DuckDB
        # raises on ln(0); Spark silently NULLs)
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(F.log(pp / pn), 6),
        ).alias("woe"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round((pp - pn) * F.log(pp / pn), 6),
        ).alias("iv_term"),
    )
