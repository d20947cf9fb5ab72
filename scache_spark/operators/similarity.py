"""Similarity search over embeddings (SURVEY.md §2 B25, north-star).

Brute-force cosine top-k is the correctness baseline; the
hyperplane-LSH bucketed variant is the 100 TB scale path (bucket the
corpus once, probe only the query's bucket — turns a full scan into a
~1/2^p partition read).  All plane weights are closed-form
(sin-derived), so both engines compute identical buckets with no
stored model and no RNG (seedable-randomness rule, SURVEY §4 — the
reference's unseeded ``Random.shuffle`` placement,
/root/reference src/main/scala/org/scache/MapOutputTracker.scala:202,
is the anti-pattern).  Top-k retention mirrors the reference's
BoundedPriorityQueue (util/BoundedPriorityQueue.scala:27-60), which
Spark implements as TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scache_spark import api
from scache_spark.catalog import load_table
from scache_spark.functions import (
    MOMENT_MAG_BOUND,
    SQL_COSINE_READY,
    SQL_VECTOR_READY,
    bounded_window,
    cosine_ready,
    sql_vec_cosine,
    vec_cosine,
    vector_ready,
)
from scache_spark.registry import register

N_PLANES = 8
DIM = 64


# ---------------------------------------------------------------------------
# brute-force top-k
# ---------------------------------------------------------------------------


@register(
    "knn_brute_cosine",
    oracle=f"""
    WITH vecs AS (SELECT * FROM embeddings WHERE {SQL_COSINE_READY}),
    q AS (SELECT embedding AS qv FROM vecs WHERE vec_id = 0)
    SELECT vec_id, {sql_vec_cosine("embedding", "qv")} AS cosine
    FROM vecs, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("B25", "B10"),
    doc="Brute-force cosine top-10 for one query vector.  Compiles to "
    "TakeOrderedAndProject: per-partition top-k, driver merge — no "
    "global sort even at 10⁹ vectors.",
)
def knn_brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cosine contract (r6): NULL / zero-norm vectors cannot rank
    e = cosine_ready(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", vec_cosine(F.col("embedding"), F.col("qv")).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "knn_batch_topk",
    oracle=f"""
    WITH vecs AS (SELECT * FROM embeddings WHERE {SQL_COSINE_READY}),
    qs AS (SELECT vec_id AS q_id, embedding AS qv, label AS q_label
           FROM vecs WHERE vec_id % 50 = 0)
    SELECT * FROM (
      SELECT q_id, vec_id AS neighbor_id,
             {sql_vec_cosine("embedding", "qv")} AS cosine,
             CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY {sql_vec_cosine("embedding", "qv")} DESC, vec_id ASC)
                  AS INT) AS rk
      FROM vecs JOIN qs
        ON label = q_label AND vec_id <> q_id
    ) WHERE rk <= 3
    """,
    tags=("B25", "B10", "B11"),
    doc="Batched k-NN: top-3 per query within label blocks — the "
    "broadcast-queries × partitioned-corpus pattern; corpus is "
    "scanned once for all queries.",
)
def knn_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cosine contract (r6): NULL / zero-norm vectors cannot rank
    e = cosine_ready(load_table(spark, sf_dir, "embeddings"))
    qs = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("q_label"),
    )
    cos = vec_cosine(F.col("embedding"), F.col("qv"))
    joined = e.join(
        F.broadcast(qs),
        (F.col("label") == F.col("q_label")) & (F.col("vec_id") != F.col("q_id")),
    ).select("q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return joined.select(
        "q_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 3)


# ---------------------------------------------------------------------------
# hyperplane LSH
# ---------------------------------------------------------------------------


def _sql_plane_dot(emb: str, p: int) -> str:
    return (
        f"list_aggregate([CAST({emb}[j] AS DOUBLE) * sin({p * 131}.0 + j * 7.0) "
        f"for j in range(1, {DIM} + 1)], 'sum')"
    )


def sql_lsh_bucket(emb: str) -> str:
    """DuckDB expression computing the same bucket id as
    ``api.lsh_cosine_bucket`` at dim=DIM, n_planes=N_PLANES."""
    return " + ".join(
        f"CASE WHEN {_sql_plane_dot(emb, p)} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(N_PLANES)
    )


_SQL_BUCKET = sql_lsh_bucket("embedding")


@register(
    "ann_lsh_buckets",
    oracle=f"""
    SELECT CAST({_SQL_BUCKET} AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_vectors,
           min(vec_id) AS min_vec_id
    FROM embeddings
    WHERE {SQL_COSINE_READY}
    GROUP BY 1
    """,
    tags=("B25",),
    doc="Hyperplane-LSH bucketing of the corpus (8 planes → 256 "
    "buckets).  At scale this is the partitioning key: write the "
    "corpus bucketed-by(bucket) once, then each query reads ~1/256 "
    "of the data.  Recall vs brute force is asserted in pytest.",
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cosine_ready: the buckets exist to serve cosine probes, so the
    # bucketed universe is the cosine-eligible one (r9 vector ingest
    # contract — malformed/zero-norm vectors are counted by
    # embedding_ingest_audit, never silently bucketed)
    e = cosine_ready(load_table(spark, sf_dir, "embeddings"))
    return (
        e.select(
            "vec_id",
            api.lsh_cosine_bucket(F.col("embedding"), dim=DIM, n_planes=N_PLANES).alias(
                "bucket"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


@register(
    "ann_lsh_probe",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, CAST({_SQL_BUCKET} AS INT) AS bucket
      FROM embeddings
      WHERE {SQL_COSINE_READY}
    ),
    q AS (SELECT embedding AS qv, bucket AS q_bucket FROM bucketed WHERE vec_id = 0)
    SELECT vec_id, {sql_vec_cosine("embedding", "qv")} AS cosine
    FROM bucketed, q
    WHERE bucket = q_bucket AND vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("B25",),
    doc="ANN query via single-bucket probe: score only the query's LSH "
    "bucket, top-10 within it.  The scale path behind knn_brute_cosine.",
)
def ann_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = cosine_ready(load_table(spark, sf_dir, "embeddings"))
    bucketed = e.select(
        "vec_id",
        "embedding",
        api.lsh_cosine_bucket(F.col("embedding"), dim=DIM, n_planes=N_PLANES).alias("bucket"),
    )
    q = bucketed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("q_bucket")
    )
    return (
        bucketed.crossJoin(F.broadcast(q))
        .filter((F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != 0))
        .select("vec_id", vec_cosine(F.col("embedding"), F.col("qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (vector compression for the 100 TB corpus)
# ---------------------------------------------------------------------------


@register(
    "embedding_int8_quantize",
    oracle=f"""
    WITH vals AS (
      SELECT CAST(unnest(embedding) AS DOUBLE) AS val,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
      WHERE {SQL_VECTOR_READY}
    ),
    rng AS (SELECT dim, min(val) AS mn, max(val) AS mx FROM vals GROUP BY dim),
    q AS (
      SELECT v.dim, v.val, r.mn, r.mx,
             CAST(round((v.val - r.mn) * 255.0 / (r.mx - r.mn), 0) AS BIGINT)
               AS code
      FROM vals v JOIN rng r ON v.dim = r.dim
    ),
    deq AS (
      SELECT dim, val, mn, mx, code,
             mn + code * (mx - mn) / 255.0 AS approx
      FROM q
    )
    SELECT dim,
           round(min(mn), 7) AS lo,
           round(max(mx), 7) AS hi,
           CAST(count(DISTINCT code) AS BIGINT) AS codes_used,
           round(avg(code), 6) AS avg_code,
           round(max(abs(val - approx)), 9) AS max_abs_err,
           round(avg((val - approx) * (val - approx)), 9) AS mse
    FROM deq GROUP BY dim
    """,
    tags=("B17", "B25"),
    doc="Per-dimension int8 scalar quantization of the embedding "
    "corpus with reconstruction-error audit: min/max range per "
    "dimension, 0..255 code assignment, dequantized max-abs and mean "
    "squared error.  This is the 4x fp32->int8 compression pass a "
    "100 TB vector corpus gets before ANN serving: pass 1 (range) and "
    "pass 2 (encode+audit) are both map-side-combinable aggregates, "
    "and the 64-row range table is broadcast so the corpus never "
    "shuffles.  All error stats are order-independent (max) or "
    "integer-exact (codes) up to a final rounded division.",
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vector_ready, not cosine_ready: quantization never divides by
    # the norm, so zero vectors stay (they quantize losslessly); a
    # single NaN/Inf element would poison its dimension's min/max
    # range and silently wreck every code in that dimension
    emb = vector_ready(load_table(spark, sf_dir, "embeddings"))
    vals = emb.select(F.posexplode("embedding").alias("dim0", "valf")).select(
        # long: DuckDB generate_subscripts is BIGINT — keep dtypes equal
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.col("valf").cast("double").alias("val"),
    )
    rng = vals.groupBy("dim").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    q = (
        vals.join(F.broadcast(rng), "dim")
        .withColumn(
            "code",
            F.round(
                (F.col("val") - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn")), 0
            ).cast("long"),
        )
        .withColumn(
            "approx",
            F.col("mn") + F.col("code") * (F.col("mx") - F.col("mn")) / F.lit(255.0),
        )
    )
    err = F.col("val") - F.col("approx")
    return q.groupBy("dim").agg(
        F.round(F.min("mn"), 7).alias("lo"),
        F.round(F.max("mx"), 7).alias("hi"),
        F.countDistinct("code").cast("long").alias("codes_used"),
        F.round(F.avg("code"), 6).alias("avg_code"),
        F.round(F.max(F.abs(err)), 9).alias("max_abs_err"),
        F.round(F.avg(err * err), 9).alias("mse"),
    )


_H1_SET = ", ".join(str(v) for v in [0] + [1 << p for p in range(N_PLANES)])


@register(
    "ann_lsh_multiprobe",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, CAST({_SQL_BUCKET} AS INT) AS bucket
      FROM embeddings
      WHERE {SQL_COSINE_READY}
    ),
    q AS (SELECT embedding AS qv, bucket AS q_bucket FROM bucketed WHERE vec_id = 0)
    SELECT vec_id,
           CAST(CASE WHEN bucket = q_bucket THEN 0 ELSE 1 END AS INT) AS probe_ring,
           {sql_vec_cosine("embedding", "qv")} AS cosine
    FROM bucketed, q
    WHERE xor(bucket, q_bucket) IN ({_H1_SET}) AND vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("B25",),
    doc="Multi-probe LSH: scan the query's bucket AND its 8 Hamming-1 "
    "neighbor buckets (the sign bits most likely to flip for a true "
    "neighbor near a hyperplane), i.e. 9/256 of the corpus instead of "
    "1/256, for recall close to brute force.  Membership is a single "
    "xor-in-set predicate on the bucket key — with the corpus "
    "bucket-partitioned this is 9 partition reads, no explode, no "
    "extra shuffle.  probe_ring reports which ring produced each hit; "
    "recall vs single-probe is asserted in pytest.",
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = cosine_ready(load_table(spark, sf_dir, "embeddings"))
    bucketed = e.select(
        "vec_id",
        "embedding",
        api.lsh_cosine_bucket(F.col("embedding"), dim=DIM, n_planes=N_PLANES).alias("bucket"),
    )
    q = bucketed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("q_bucket")
    )
    xor = F.col("bucket").bitwiseXOR(F.col("q_bucket"))
    h1 = [0] + [1 << p for p in range(N_PLANES)]
    return (
        bucketed.crossJoin(F.broadcast(q))
        .filter(xor.isin(h1) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            F.when(F.col("bucket") == F.col("q_bucket"), 0)
            .otherwise(1)
            .cast("int")
            .alias("probe_ring"),
            vec_cosine(F.col("embedding"), F.col("qv")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# per-dimension corpus moments (whitening / dim-pruning prep)
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_stats",
    oracle=f"""
    WITH comps AS (
      SELECT CAST(i - 1 AS INT) AS dim,
             CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, {DIM + 1})) AS t(i)
      WHERE {SQL_VECTOR_READY}
    ),
    moments AS (
      SELECT dim,
             CAST(count(*) AS BIGINT) AS n,
             round(avg(val), 6) AS mean_c,
             round(var_samp(val), 6) AS var_c
      FROM comps GROUP BY dim
    )
    SELECT dim, n, mean_c, var_c,
           CAST(row_number() OVER (ORDER BY var_c DESC, dim) AS INT)
               AS var_rank,
           (row_number() OVER (ORDER BY var_c DESC, dim) <= 16) AS keep
    FROM moments
    """,
    tags=("B7", "B17", "B20", "B25"),
    doc="Per-dimension embedding moments over the whole corpus — the "
    "statistics pass every whitening / PCA-prune / OPQ rotation "
    "starts from (and the sanity screen that catches dead or "
    "collapsed dimensions before they poison an ANN index).  "
    "posexplode preserves ordinality, the 64-group aggregate is "
    "map-side combinable, and the variance ranking runs on the "
    "64-row moments frame via bounded_window (dictionary-sized, "
    "never SF-proportional); keep marks the top-16 variance dims — "
    "the crude-but-standard energy heuristic for a 4x cheaper "
    "coarse quantizer.  Scale: one narrow exchange of 64 partial "
    "moments per map partition regardless of corpus size; moments "
    "are rounded to 1e-6 BEFORE ranking so both engines rank "
    "identical values (float-fold parity rule, FIXTURES.md).",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9: full vector_ready (was isNotNull-only, r6).  A wrong-length
    # vector would desynchronize the two engines' dimension universes
    # (posexplode emits its actual indices; the oracle's fixed
    # range(1,65) probe reads NULLs past its end), and one NaN element
    # turns that dimension's mean/variance into NaN — the screen must
    # measure the well-formed corpus, the audit counts the rest
    e = vector_ready(load_table(spark, sf_dir, "embeddings"))
    moments = (
        e.select(F.posexplode("embedding").alias("dim", "val_f"))
        .select(F.col("dim").cast("int"), F.col("val_f").cast("double").alias("val"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("val"), 6).alias("mean_c"),
            F.round(F.var_samp("val"), 6).alias("var_c"),
        )
    )
    w = bounded_window("dim", F.col("var_c").desc(), F.col("dim"))
    return moments.select(
        "dim",
        "n",
        "mean_c",
        "var_c",
        F.row_number().over(w).cast("int").alias("var_rank"),
        (F.row_number().over(w) <= 16).alias("keep"),
    )


# ---------------------------------------------------------------------------
# matryoshka truncation recall (r9)
# ---------------------------------------------------------------------------

_MRL_DIM = 16  # truncated prefix width (matryoshka head)
_MRL_K = 10    # top-k whose overlap defines recall


@register(
    "matryoshka_truncation_recall",
    oracle=f"""
    WITH vecs AS (SELECT * FROM embeddings WHERE {SQL_COSINE_READY}),
    qs AS (SELECT vec_id AS q_id, embedding AS qv FROM vecs
           WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q_id, vec_id,
             {sql_vec_cosine("embedding", "qv")} AS cos_full,
             CASE WHEN list_aggregate(
                    [CAST(x AS DOUBLE) * x for x in embedding[1:{_MRL_DIM}]],
                    'sum') > 0
                  AND list_aggregate(
                    [CAST(x AS DOUBLE) * x for x in qv[1:{_MRL_DIM}]],
                    'sum') > 0
                  THEN {sql_vec_cosine(f"embedding[1:{_MRL_DIM}]", f"qv[1:{_MRL_DIM}]")}
             END AS cos_trunc
      FROM vecs JOIN qs ON vec_id <> q_id
    ),
    topf AS (
      SELECT q_id, list_sort(list(vec_id)) AS ids_full FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_full DESC, vec_id ASC) AS rk
        FROM scored) WHERE rk <= {_MRL_K} GROUP BY q_id
    ),
    topt AS (
      SELECT q_id, list_sort(list(vec_id)) AS ids_trunc FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_trunc DESC, vec_id ASC) AS rk
        FROM scored WHERE cos_trunc IS NOT NULL) WHERE rk <= {_MRL_K}
      GROUP BY q_id
    )
    SELECT f.q_id,
           CAST(len(list_intersect(f.ids_full, t.ids_trunc)) AS INT)
               AS n_overlap,
           round(CAST(len(list_intersect(f.ids_full, t.ids_trunc)) AS DOUBLE)
               / {_MRL_K}, 6) AS recall_at_{_MRL_K}
    FROM topf f JOIN topt t ON f.q_id = t.q_id
    """,
    tags=("B25", "B17", "B10"),
    doc="Matryoshka truncation evaluation: for each query, the exact "
    f"cosine top-{_MRL_K} under FULL {DIM}-dim embeddings vs under "
    f"the first-{_MRL_DIM}-dims prefix (the matryoshka head a "
    "serving tier would index to cut memory 4x), reported as "
    f"recall@{_MRL_K} per query — the eval a pipeline runs BEFORE "
    "committing to a truncated index.  Ranks are deterministic "
    "(cosine DESC, vec_id ASC), the truncated leg excludes "
    "zero-norm prefixes in both engines (cosine undefined), and "
    "recall is an exact k-quantized decimal so no float hazard "
    "crosses the hash.  Scale: queries broadcast once, the corpus "
    "is scanned ONCE and both cosines fold per-row in codegen "
    "(slice + zip_with + aggregate); per-query top-k is a "
    "rank-window over the query partition — the brute-force eval "
    "baseline, run on a sample of queries, while the serving path "
    "stays with the ANN family.",
)
def matryoshka_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import vec_dot

    head = lambda c: F.slice(c, 1, _MRL_DIM)  # noqa: E731
    # Norms are precomputed PER SIDE before the pair join: the naive
    # vec_cosine(a, b) folds three O(dim) aggregates per PAIR
    # (dot(a,b), dot(a,a), dot(b,b)) — 3x the arithmetic, and the two
    # self-dots are redundant across the |queries| fan-out.  The
    # arithmetic is unchanged (sqrt(dot(x,x)) each side, same fold
    # order), so scores stay bit-identical to the oracle's inline
    # form.  The corpus also repartitions to the session parallelism:
    # the embeddings fixture is byte-small (2 parquet splits at x10),
    # which would run the |q| x |corpus| score fan-out on 2 tasks.
    e = (
        cosine_ready(load_table(spark, sf_dir, "embeddings"))
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            "embedding",
            F.sqrt(vec_dot(F.col("embedding"), F.col("embedding"))).alias("nf"),
            head(F.col("embedding")).alias("hd"),
            vec_dot(head(F.col("embedding")), head(F.col("embedding"))).alias(
                "hd_sq"
            ),
        )
    )
    qs = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("nf").alias("q_nf"),
        F.col("hd").alias("q_hd"),
        F.col("hd_sq").alias("q_hd_sq"),
    )
    cos_full = vec_dot(F.col("embedding"), F.col("qv")) / (
        F.col("nf") * F.col("q_nf")
    )
    cos_trunc = F.when(
        (F.col("hd_sq") > 0) & (F.col("q_hd_sq") > 0),
        vec_dot(F.col("hd"), F.col("q_hd"))
        / (F.sqrt(F.col("hd_sq")) * F.sqrt(F.col("q_hd_sq"))),
    )
    scored = (
        e.join(F.broadcast(qs), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cos_full.alias("cos_full"),
            cos_trunc.alias("cos_trunc"),
        )
        # one corpus scan feeds both rank legs
        .localCheckpoint(eager=True)
    )
    # r9: both rank legs partition by q_id, so they STACK on one
    # exchange (two Window operators, two local sorts) and the
    # topf⋈topt join collapses into one conditional aggregate — was
    # two window exchanges + two aggregates + a join.  Ranking the
    # truncated leg with DESC NULLS LAST instead of pre-filtering is
    # exact: non-null rows keep identical relative ranks, and the
    # explicit isNotNull guard keeps a null row out of the top-k when
    # a query has fewer than k rankable truncations (the empty-trunc
    # query is then dropped, matching the old inner join).
    wf = Window.partitionBy("q_id").orderBy(
        F.col("cos_full").desc(), F.col("vec_id").asc()
    )
    wt = Window.partitionBy("q_id").orderBy(
        F.desc_nulls_last("cos_trunc"), F.col("vec_id").asc()
    )
    t_ok = (F.col("rkt") <= _MRL_K) & F.col("cos_trunc").isNotNull()
    both = (
        scored.select(
            "q_id",
            "vec_id",
            "cos_trunc",
            F.row_number().over(wf).alias("rkf"),
            F.row_number().over(wt).alias("rkt"),
        )
        .filter((F.col("rkf") <= _MRL_K) | t_ok)
        .groupBy("q_id")
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("rkf") <= _MRL_K, F.col("vec_id")))
            ).alias("ids_full"),
            F.array_sort(
                F.collect_list(F.when(t_ok, F.col("vec_id")))
            ).alias("ids_trunc"),
        )
        .filter(F.size("ids_trunc") > 0)
    )
    overlap = F.size(F.array_intersect("ids_full", "ids_trunc"))
    return both.select(
        "q_id",
        overlap.cast("int").alias("n_overlap"),
        F.round(overlap.cast("double") / _MRL_K, 6).alias(f"recall_at_{_MRL_K}"),
    )


# ---------------------------------------------------------------------------
# vector ingest audit (r9 — the observability half of vector_ready)
# ---------------------------------------------------------------------------


@register(
    "embedding_ingest_audit",
    oracle=f"""
    SELECT CASE
             WHEN embedding IS NULL THEN 'null_vec'
             WHEN len(embedding) <> {DIM} THEN 'wrong_dim'
             WHEN coalesce(list_bool_or([x IS NULL for x in embedding]),
                           false) THEN 'null_elem'
             WHEN coalesce(list_bool_or([isnan(CAST(x AS DOUBLE))
                                         for x in embedding]),
                           false) THEN 'nan_elem'
             WHEN coalesce(list_bool_or([isinf(CAST(x AS DOUBLE))
                                         for x in embedding]),
                           false) THEN 'inf_elem'
             WHEN coalesce(list_bool_or([abs(CAST(x AS DOUBLE))
                                         > {MOMENT_MAG_BOUND!r}
                                         for x in embedding]),
                           false) THEN 'mag_outlier'
             WHEN list_aggregate([CAST(x AS DOUBLE) * x for x in embedding],
                                 'sum') = 0 THEN 'zero_norm'
             ELSE 'ok'
           END AS status,
           CAST(count(*) AS BIGINT) AS n_vecs,
           min(vec_id) AS min_vec_id,
           max(vec_id) AS max_vec_id
    FROM embeddings
    GROUP BY 1
    """,
    tags=("B25", "B20", "B17", "mining"),
    doc="Per-defect-class census of the embedding column — the "
    "observability half of the r9 vector ingest contract "
    "(functions.vector_ready): every vector the cosine/PQ/IVF/array "
    "family EXCLUDES is COUNTED here, by cause, with an id range for "
    "triage, so the exclusion is never a silent drop (no-silent-caps "
    "rule).  Classes, in precedence order: NULL vector (encoder job "
    "died mid-shard), wrong dimension (truncated or concatenated "
    "write), NULL element (columnar writer partial flush), NaN (0/0 "
    "normalization upstream), ±Inf (fp16 overflow at encode), "
    "magnitude outlier (well-formed but past MOMENT_MAG_BOUND — "
    "excluded only from cross-dimension signed means, see "
    "moment_ready), zero norm (dead encoder — well-formed but "
    "cosine-ineligible), ok.  "
    "Scale shape: the classification is a per-row codegen expression "
    "(exists/aggregate higher-order funcs, no UDF, no explode) and "
    "the census is one map-side-combinable aggregate over at most 7 "
    "groups — one narrow exchange regardless of corpus size.  The "
    "precedence matters for engine agreement: each class is decided "
    "only after every NaN-ordering-sensitive class above it has been "
    "ruled out (Spark and DuckDB disagree on NaN > 0, see "
    "vector_ready's docstring).",
)
def embedding_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import EMB_DIM, MOMENT_MAG_BOUND

    e = load_table(spark, sf_dir, "embeddings")
    c = F.col("embedding")
    dbl = lambda x: x.cast("double")  # noqa: E731
    sumsq = F.aggregate(c, F.lit(0.0), lambda a, x: a + dbl(x) * dbl(x))
    status = (
        F.when(c.isNull(), "null_vec")
        .when(F.size(c) != EMB_DIM, "wrong_dim")
        .when(F.exists(c, lambda x: x.isNull()), "null_elem")
        .when(F.exists(c, lambda x: F.isnan(dbl(x))), "nan_elem")
        .when(
            F.exists(c, lambda x: F.abs(dbl(x)) == F.lit(float("inf"))),
            "inf_elem",
        )
        .when(
            F.exists(c, lambda x: F.abs(dbl(x)) > F.lit(MOMENT_MAG_BOUND)),
            "mag_outlier",
        )
        .when(sumsq == 0, "zero_norm")
        .otherwise("ok")
    )
    return (
        e.select(status.alias("status"), "vec_id")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
    )
