"""Retrieval-stack operators: product quantization, two-stage ANN
re-ranking, embedding-quality auditing.

These complete the similarity-search surface (similarity.py B25) with
the pieces a production 100 TB vector pipeline adds around the index:
PQ compression (64 float dims -> 8 uint4 codes, a 32x shrink that is
what actually lets a corpus-scale index fit in cluster RAM), ADC
scoring over the compressed codes, shortlist-then-rerank retrieval
(cheap probe for recall, exact cosine for precision), and per-label
centroid-distance outlier screening (the embedding-space analog of
text_quality_score).

All "training" is deterministic closed-form sampling (the K lowest
qualifying vec_ids seed the codebook) — the seeded-randomness rule
(SURVEY §4) that keeps every byte reproducible in DuckDB.  Distances
fold per-subvector in fixed element order in both engines;
order-dependent re-sums (the 8-term ADC sum, per-label stats) are
rounded onto grids far coarser than ulp noise, and every ranking
sorts on the ROUNDED value with a unique-key tie-break so both
engines rank identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scache_spark import api
from scache_spark.catalog import load_table
from scache_spark.functions import (
    SQL_COSINE_READY,
    SQL_VECTOR_READY,
    bounded_window,
    cosine_ready,
    sql_vec_cosine,
    vec_cosine,
    vector_ready,
)
from scache_spark.operators.clustering import _SQL_ASSIGN0
from scache_spark.operators.similarity import N_PLANES, sql_lsh_bucket
from scache_spark.registry import register

DIM = 64
PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16  # centroids per subspace
PQ_TRAIN_MOD = 40  # training sample: vec_id % 40 == 1, K lowest ids


def _sub_d2(a: str, b: str) -> str:
    """SQL: squared L2 between two DOUBLE lists of PQ_SUBDIM elems,
    folded in element order (bit-identical to the Spark zip_with)."""
    return (
        f"list_aggregate([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
        f"for i in range(1, {PQ_SUBDIM} + 1)], 'sum')"
    )


def _sub_d2_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# Shared SQL CTEs: deterministic codebook + per-subspace splits.
_PQ_CTES = f"""
    train AS (
      SELECT embedding,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c
      FROM (SELECT * FROM embeddings
            WHERE vec_id % {PQ_TRAIN_MOD} = 1 AND {SQL_VECTOR_READY}
            ORDER BY vec_id LIMIT {PQ_K})
    ),
    ms AS (SELECT CAST(unnest(range(0, {PQ_M})) AS INT) AS m),
    cents AS (
      SELECT m, c,
             [CAST(embedding[m * {PQ_SUBDIM} + i] AS DOUBLE)
              for i in range(1, {PQ_SUBDIM} + 1)] AS cvec
      FROM train, ms
    ),
    sub AS (
      SELECT vec_id, m,
             [CAST(embedding[m * {PQ_SUBDIM} + i] AS DOUBLE)
              for i in range(1, {PQ_SUBDIM} + 1)] AS svec
      FROM (SELECT * FROM embeddings WHERE {SQL_VECTOR_READY}), ms
    ),
    codes AS (
      SELECT vec_id, m,
             min({{'d2': {_sub_d2("svec", "cvec")}, 'c': c}}) AS best
      FROM sub JOIN cents USING (m)
      GROUP BY vec_id, m
    )
"""


def _pq_frames(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(corpus, centroids, codes) — the shared PQ build.

    corpus: (vec_id, m, svec: array<double>) — each vector split into
    PQ_M contiguous subvectors (a select, not a shuffle).
    centroids: (m, c, cvec) — PQ_K deterministic seed vectors per
    subspace; M*K*SUBDIM doubles, always broadcast.
    codes: (vec_id, m, code, recon_d2) — argmin centroid per
    subvector via a map-side-combinable min(struct) aggregation
    (never a row_number window: the shuffle carries one row per
    (vec, m), not K).

    Pass ``e`` (e.g. a checkpointed embeddings frame) to derive the
    build from an already-materialized corpus instead of re-scanning.
    """
    if e is None:
        # vector_ready, not cosine_ready: PQ scores squared L2, never
        # divides by a norm — zero vectors are legitimate codes; a
        # NaN/Inf element would capture the argmin of every subvector
        # it touches, and a wrong-length vector slices to short
        # subvectors whose zip_with pads NULL (r9 vector contract)
        e = vector_ready(load_table(spark, sf_dir, "embeddings"))
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sub = e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(dbl, m * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for m in range(PQ_M)
                ]
            )
        ).alias("m", "svec"),
    )
    # The 16-row training frame: a LIMIT over a sorted filter, then a
    # 16-row window for the code index — driver-scale by construction.
    train = (
        e.filter(F.col("vec_id") % PQ_TRAIN_MOD == 1)
        .orderBy("vec_id")
        .limit(PQ_K)
        .select(
            "vec_id",
            F.posexplode(
                F.array(
                    *[
                        F.slice(dbl, m * PQ_SUBDIM + 1, PQ_SUBDIM)
                        for m in range(PQ_M)
                    ]
                )
            ).alias("m", "cvec"),
        )
    )
    wc = Window.partitionBy("m").orderBy("vec_id")
    cents = train.select(
        "m",
        (F.row_number().over(wc) - 1).cast("int").alias("c"),
        "cvec",
    )
    codes = (
        sub.join(F.broadcast(cents), "m")
        .select(
            "vec_id",
            "m",
            F.struct(
                _sub_d2_col(F.col("svec"), F.col("cvec")).alias("d2"),
                F.col("c").alias("c"),
            ).alias("cand"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min("cand").alias("best"))
    )
    return sub, cents, codes


@register(
    "pq_encode_codes",
    oracle=f"""
    WITH {_PQ_CTES}
    SELECT vec_id, m, best.c AS code, round(best.d2, 6) AS recon_d2
    FROM codes
    """,
    tags=("B25", "B23", "mining"),
    doc="Product quantization encode: 64 float dims -> 8 codes from "
    f"{PQ_K}-centroid codebooks per 8-dim subspace (32x compression). "
    "Codebook seeds are the K lowest vec_ids of a deterministic "
    "modulus sample — closed-form 'training' both engines replay "
    "exactly.  The argmin is a min(struct(d2, c)) hash aggregate "
    "(partial-aggregated, shuffle carries one row per subvector); "
    "the codebook joins as a broadcast.  At 100 TB the codebook "
    "becomes literal constants folded into one projection — no join, "
    "no shuffle at all.",
)
def pq_encode_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, codes = _pq_frames(spark, sf_dir)
    return codes.select(
        "vec_id",
        "m",
        F.col("best.c").alias("code"),
        F.round(F.col("best.d2"), 6).alias("recon_d2"),
    )


@register(
    "pq_adc_topk",
    oracle=f"""
    WITH {_PQ_CTES},
    q AS (
      SELECT m,
             [CAST(embedding[m * {PQ_SUBDIM} + i] AS DOUBLE)
              for i in range(1, {PQ_SUBDIM} + 1)] AS qvec
      FROM embeddings, ms WHERE vec_id = 0 AND {SQL_VECTOR_READY}
    ),
    lut AS (
      SELECT cents.m, cents.c, {_sub_d2("qvec", "cvec")} AS qd2
      FROM cents JOIN q ON cents.m = q.m
    ),
    adc AS (
      SELECT vec_id, round(sum(qd2), 6) AS adc_d2
      FROM codes JOIN lut ON codes.m = lut.m AND codes.best.c = lut.c
      WHERE vec_id <> 0
      GROUP BY vec_id
    )
    SELECT vec_id, adc_d2,
           CAST(row_number() OVER (ORDER BY adc_d2 ASC, vec_id ASC) AS INT)
               AS rk
    FROM adc QUALIFY rk <= 10
    """,
    tags=("B25", "B10", "mining"),
    doc="Asymmetric-distance (ADC) top-10 over PQ codes: the query is "
    f"expanded into an {PQ_M}x{PQ_K} lookup table (always broadcast), "
    "each corpus vector is scored by summing 8 table entries — no "
    "float vectors are read at query time, which is the entire point "
    "of PQ at 100 TB.  The rank sorts the ROUNDED distance with "
    "vec_id tie-break so both engines order identical doubles.  The "
    "top-10 is orderBy+limit => TakeOrderedAndProject (per-partition "
    "heaps merged on the driver, no single-partition corpus-wide "
    "window); the row_number then ranks only the 10 survivors.",
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The PQ build reads the corpus for subvectors, training rows, and
    # the query slice — materialize the vectors once and derive all
    # three (the index-build posture, as ann_ivf_pq_topk).  The ingest
    # guard runs BEFORE the checkpoint: malformed vectors never enter
    # the materialized index build.
    e = vector_ready(load_table(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=True
    )
    sub, cents, codes = _pq_frames(spark, sf_dir, e=e)
    q = sub.filter(F.col("vec_id") == 0).select(
        "m", F.col("svec").alias("qvec")
    )
    lut = cents.join(F.broadcast(q), "m").select(
        F.col("m").alias("lm"),
        F.col("c").alias("lc"),
        _sub_d2_col(F.col("qvec"), F.col("cvec")).alias("qd2"),
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(
            F.broadcast(lut),
            (F.col("m") == F.col("lm")) & (F.col("best.c") == F.col("lc")),
        )
        .groupBy("vec_id")
        .agg(F.round(F.sum("qd2"), 6).alias("adc_d2"))
    )
    top = adc.orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc()).limit(10)
    w = bounded_window("vec_id", F.col("adc_d2").asc(), F.col("vec_id").asc())
    return top.select("vec_id", "adc_d2", F.row_number().over(w).alias("rk"))


_SQL_BUCKET = sql_lsh_bucket("embedding")
_H1 = [0] + [1 << p for p in range(N_PLANES)]
_H1_SQL = ", ".join(str(x) for x in _H1)


@register(
    "retrieval_rerank_two_stage",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, CAST({_SQL_BUCKET} AS INT) AS bucket
      FROM embeddings
      WHERE {SQL_COSINE_READY}
    ),
    qs AS (
      SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket
      FROM bucketed WHERE vec_id % 50 = 0
    )
    SELECT * FROM (
      SELECT q_id, vec_id AS neighbor_id,
             {sql_vec_cosine("embedding", "qv")} AS cosine,
             CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY {sql_vec_cosine("embedding", "qv")} DESC, vec_id ASC)
                  AS INT) AS rk
      FROM bucketed JOIN qs
        ON xor(bucket, q_bucket) IN ({_H1_SQL}) AND vec_id <> q_id
    ) WHERE rk <= 3
    """,
    tags=("B25", "B10", "B11"),
    doc="Two-stage retrieval, the production serving shape: stage 1 "
    "shortlists each query's LSH bucket plus its 8 Hamming-1 rings "
    "(9/256 of the corpus, a bucket-partition read — no explode, no "
    "extra shuffle), stage 2 re-ranks ONLY the shortlist with exact "
    "cosine and keeps top-3 per query.  Same query set as "
    "knn_batch_topk, so the exact-vs-ANN answer lists are directly "
    "comparable in tests.",
)
def retrieval_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = cosine_ready(load_table(spark, sf_dir, "embeddings"))
    bucketed = e.select(
        "vec_id",
        "embedding",
        api.lsh_cosine_bucket(F.col("embedding"), dim=DIM, n_planes=N_PLANES).alias("bucket"),
    )
    qs = bucketed.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("q_bucket"),
    )
    xor = F.col("bucket").bitwiseXOR(F.col("q_bucket"))
    shortlist = bucketed.join(
        F.broadcast(qs), xor.isin(_H1) & (F.col("vec_id") != F.col("q_id"))
    ).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        vec_cosine(F.col("embedding"), F.col("qv")).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return shortlist.select(
        "q_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 3)


@register(
    "embedding_centroid_outliers",
    oracle=f"""
    WITH vals AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
      WHERE {SQL_VECTOR_READY}
    ),
    cents AS (
      SELECT label, list(avg ORDER BY dim) AS cvec
      FROM (SELECT label, dim, avg(val) AS avg FROM vals GROUP BY label, dim)
      GROUP BY label
    ),
    dist AS (
      SELECT e.vec_id, e.label,
             round(list_aggregate(
               [(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                for i in range(1, {DIM} + 1)], 'sum'), 6) AS d2
      FROM (SELECT * FROM embeddings WHERE {SQL_VECTOR_READY}) e
      JOIN cents c ON e.label = c.label
    ),
    stats AS (
      SELECT label, avg(d2) AS mu_d, stddev_samp(d2) AS sd_d
      FROM dist GROUP BY label
    )
    SELECT d.vec_id, d.label, d.d2,
           round((d.d2 - s.mu_d) / s.sd_d, 4) AS z,
           (round((d.d2 - s.mu_d) / s.sd_d, 4) >= 2.0) AS is_outlier
    FROM dist d JOIN stats s ON d.label = s.label
    """,
    tags=("B25", "B20", "mining"),
    doc="Embedding-space quality audit: squared distance of every "
    "vector to its label centroid, z-scored within the label — the "
    "screen that catches mislabeled / corrupted vectors before they "
    "poison contrastive training.  Centroids come from one "
    "partial-aggregated per-(label, dim) mean; the distance pass "
    "folds dims in fixed order against the broadcast centroid array "
    "(no 64x row explosion on the big side).  Distances are rounded "
    "before the stats pass so both engines z-score identical inputs.",
)
def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vector_ready: centroid distance is L2 (no norm division), but a
    # NaN/Inf element would drag its label's centroid AND the z-score
    # moments — the audit the screen exists to run would be poisoned
    # by the very vectors it should flag (r9: those are ingest
    # rejects, counted by embedding_ingest_audit)
    e = vector_ready(load_table(spark, sf_dir, "embeddings"))
    vals = e.select(
        "label",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("dim0", "val"),
    )
    cents = (
        vals.groupBy("label", "dim0")
        .agg(F.avg("val").alias("mu"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim0", "mu"))),
                lambda s: s.getField("mu"),
            ).alias("cvec")
        )
    )
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d2 = F.round(
        F.aggregate(
            F.zip_with(dbl, F.col("cvec"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    # dist feeds the per-label stats AND the final z-score join;
    # checkpoint the lean (vec_id, label, d2) frame so the corpus isn't
    # re-scanned and re-scored per branch.
    dist = (
        e.join(F.broadcast(cents), "label")
        .select("vec_id", "label", d2.alias("d2"))
        .localCheckpoint(eager=True)
    )
    stats = dist.groupBy("label").agg(
        F.avg("d2").alias("mu_d"), F.stddev_samp("d2").alias("sd_d")
    )
    z = F.round((F.col("d2") - F.col("mu_d")) / F.col("sd_d"), 4)
    return dist.join(F.broadcast(stats), "label").select(
        "vec_id",
        "label",
        "d2",
        z.alias("z"),
        (z >= 2.0).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cell shortlist + compressed-code scoring
# ---------------------------------------------------------------------------

IVF_PROBE = 2


@register(
    "ann_ivf_pq_topk",
    oracle=f"""
    WITH {_SQL_ASSIGN0}, {_PQ_CTES},
    qcells AS (
      SELECT cell FROM scored0 WHERE vec_id = 0
      ORDER BY d2 ASC, cell ASC LIMIT {IVF_PROBE}
    ),
    shortlist AS (
      SELECT a.vec_id FROM assign0 a JOIN qcells qc ON a.cell = qc.cell
      WHERE a.vec_id <> 0
    ),
    q AS (
      SELECT m,
             [CAST(embedding[m * {PQ_SUBDIM} + i] AS DOUBLE)
              for i in range(1, {PQ_SUBDIM} + 1)] AS qvec
      FROM embeddings, ms WHERE vec_id = 0 AND {SQL_VECTOR_READY}
    ),
    lut AS (
      SELECT cents.m, cents.c, {_sub_d2("qvec", "cvec")} AS qd2
      FROM cents JOIN q ON cents.m = q.m
    ),
    adc AS (
      SELECT codes.vec_id, round(sum(qd2), 6) AS adc_d2
      FROM codes
      JOIN shortlist s ON codes.vec_id = s.vec_id
      JOIN lut ON codes.m = lut.m AND codes.best.c = lut.c
      GROUP BY codes.vec_id
    )
    SELECT vec_id, adc_d2,
           CAST(row_number() OVER (ORDER BY adc_d2 ASC, vec_id ASC) AS INT)
               AS rk
    FROM adc QUALIFY rk <= 10
    """,
    tags=("B25", "B10", "mining"),
    doc="IVF-PQ — the production vector-index architecture (coarse "
    f"inverted-file cells bound the candidate set to {IVF_PROBE}/16 "
    "of the corpus; PQ codes make scoring 8 table lookups instead of "
    "64 float mults) composed from the engine's IVF assignment "
    "(broadcast centroids, min-struct argmin) and PQ codebooks "
    "(broadcast, deterministic seeds).  At 100 TB the corpus is "
    "bucket-partitioned by cell and only probed cells are READ — "
    "scan, shuffle, and score all shrink together.",
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.operators.clustering import _centroids

    # The corpus feeds FOUR build branches (IVF assignment, IVF seeds,
    # PQ subvectors, PQ training rows) — an index build is a multi-pass
    # algorithm, so materialize the vectors once (the MLlib posture)
    # and derive every pass from the checkpoint, ingest-guarded first
    # (r9 vector contract).
    e = vector_ready(load_table(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=True
    )
    cents_ivf = _centroids(spark, sf_dir, e=e)
    assigned = api._nearest_centroid(e, "embedding", "vec_id", cents_ivf)
    # query's IVF_PROBE nearest cells: rescore the query against all
    # K centroids (K rows) and keep the best IVF_PROBE
    from scache_spark.functions import vec_l2sq

    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qemb")
    )
    qcells = (
        cents_ivf.crossJoin(F.broadcast(qv))
        .select(
            "cell", vec_l2sq(F.col("centroid"), F.col("qemb")).alias("qd2")
        )
        .orderBy(F.col("qd2").asc(), F.col("cell").asc())
        .limit(IVF_PROBE)
        .select("cell")
    )
    shortlist = (
        assigned.join(F.broadcast(qcells), "cell")
        .filter(F.col("vec_id") != 0)
        .select("vec_id")
    )
    sub, cents_pq, codes = _pq_frames(spark, sf_dir, e=e)
    q = sub.filter(F.col("vec_id") == 0).select(
        "m", F.col("svec").alias("qvec")
    )
    lut = cents_pq.join(F.broadcast(q), "m").select(
        F.col("m").alias("lm"),
        F.col("c").alias("lc"),
        _sub_d2_col(F.col("qvec"), F.col("cvec")).alias("qd2"),
    )
    adc = (
        codes.join(shortlist, "vec_id")
        .join(
            F.broadcast(lut),
            (F.col("m") == F.col("lm")) & (F.col("best.c") == F.col("lc")),
        )
        .groupBy("vec_id")
        .agg(F.round(F.sum("qd2"), 6).alias("adc_d2"))
    )
    # TakeOrdered the (already cell-shortlisted) candidates down to 10,
    # then rank only the survivors — no single-partition window over
    # the shortlist (which is corpus/cells × nprobe, SF-proportional).
    top = adc.orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc()).limit(10)
    w = bounded_window("vec_id", F.col("adc_d2").asc(), F.col("vec_id").asc())
    return top.select("vec_id", "adc_d2", F.row_number().over(w).alias("rk"))


# ---------------------------------------------------------------------------
# cosine-threshold operating curve against planted ground truth
# ---------------------------------------------------------------------------

_SWEEP_GRID = [0.80, 0.85, 0.90, 0.95, 0.99]
_SWEEP_SQL_GRID = ", ".join(f"CAST('{t!r}' AS DOUBLE)" for t in _SWEEP_GRID)


@register(
    "cosine_threshold_sweep",
    oracle=f"""
    WITH aug AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE {SQL_COSINE_READY}
      UNION ALL
      SELECT vec_id + 100000, embedding, label FROM embeddings
      WHERE vec_id % 20 = 0 AND {SQL_COSINE_READY}
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {sql_vec_cosine("a.embedding", "b.embedding")} AS cosine,
             (b.vec_id = a.vec_id + 100000 AND a.vec_id % 20 = 0)
                 AS is_planted
      FROM aug a JOIN aug b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {sql_vec_cosine("a.embedding", "b.embedding")} >= 0.80
    ),
    grid AS (SELECT unnest([{_SWEEP_SQL_GRID}]) AS threshold),
    planted AS (
      SELECT CAST(count(*) AS BIGINT) AS n_planted_total
      FROM embeddings WHERE vec_id % 20 = 0 AND {SQL_COSINE_READY}
    )
    SELECT g.threshold,
           CAST(count(*) AS BIGINT) AS n_detected,
           CAST(sum(CASE WHEN p.is_planted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_planted_detected,
           round(CAST(sum(CASE WHEN p.is_planted THEN 1 ELSE 0 END)
                      AS DOUBLE) / pl.n_planted_total, 6) AS recall,
           round(CAST(sum(CASE WHEN p.is_planted THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS precision
    FROM grid g
    JOIN pairs p ON p.cosine >= g.threshold
    CROSS JOIN planted pl
    GROUP BY g.threshold, pl.n_planted_total
    """,
    tags=("B25", "B20", "mining"),
    doc="Threshold operating curve for embedding near-dup: the "
    "planted exact copies (vec_id%20, +100000) are ground truth, so "
    "precision/recall at five cosine cutoffs come straight from the "
    "ONE label-blocked pair table (computed once, fanned out 5x "
    "against a broadcast grid) — how the 0.95 production threshold "
    "is chosen before a corpus-scale run, the cosine sibling of "
    "lsh_design_curve.  Cosines are bit-identical across engines, "
    "so >= comparisons against exact literal thresholds agree.",
)
def cosine_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.operators.dedup import augmented_vectors

    from scache_spark.functions import cosine_ready

    # Single-scan augmentation, checkpointed: aug feeds both self-join
    # sides AND the planted-total count below.  cosine contract (r6):
    # NULL / zero-norm vectors cannot pair.
    aug = cosine_ready(
        augmented_vectors(spark, sf_dir, with_label=True)
    ).localCheckpoint(eager=True)
    a = aug.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        "label",
    )
    b = aug.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("label").alias("label_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("label") == F.col("label_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select(
            "vec_a",
            "vec_b",
            vec_cosine(F.col("emb_a"), F.col("emb_b")).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.80)
        .withColumn(
            "is_planted",
            (F.col("vec_b") == F.col("vec_a") + 100000)
            & (F.col("vec_a") % 20 == 0),
        )
    )
    grid = spark.createDataFrame(
        [(t,) for t in _SWEEP_GRID], ["threshold"]
    )
    # The ground-truth total comes from the checkpointed aug frame's
    # is_planted marker — no extra corpus scan, and no id-range
    # heuristic that would break past 100000 base vectors.
    planted = aug.filter(F.col("is_planted")).agg(
        F.count(F.lit(1)).cast("long").alias("n_planted_total")
    )
    hits = F.sum(F.when(F.col("is_planted"), 1).otherwise(0)).cast("long")
    return (
        F.broadcast(grid)
        .join(pairs, F.col("cosine") >= F.col("threshold"))
        .crossJoin(F.broadcast(planted))
        .groupBy("threshold", "n_planted_total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_detected"),
            hits.alias("n_planted_detected"),
            F.round(
                hits.cast("double") / F.col("n_planted_total"), 6
            ).alias("recall"),
            F.round(hits.cast("double") / F.count(F.lit(1)), 6).alias(
                "precision"
            ),
        )
        .select(
            "threshold",
            "n_detected",
            "n_planted_detected",
            "recall",
            "precision",
        )
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of BM25 and vector ranks
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_DEPTH = 20
_RRF_QUERY_VEC = 42  # the query doc/vector id (ann_ivf_probe convention)


@register(
    "hybrid_rrf_retrieval",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
      FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ), dlen AS (
      SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dlen
    ), dfreq AS (
      SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok
    ), top7 AS (
      SELECT tok, df FROM dfreq ORDER BY df DESC, tok ASC LIMIT 7
    ), qterms AS (
      SELECT tok, df FROM (
        SELECT tok, df,
               row_number() OVER (ORDER BY df DESC, tok ASC) AS rk
        FROM top7)
      WHERE rk BETWEEN 3 AND 7
    ), bm AS (
      SELECT doc_id,
             round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
               AS bm25
      FROM tf
      JOIN qterms USING (tok)
      JOIN dlen USING (doc_id)
      CROSS JOIN stats
      GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id ASC
      LIMIT {_RRF_DEPTH}
    ), t_rank AS (
      SELECT doc_id AS id,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT)
               AS tr
      FROM bm
    ), qv AS (
      SELECT embedding AS q FROM embeddings
      WHERE vec_id = {_RRF_QUERY_VEC} AND {SQL_COSINE_READY}
    ), vec AS (
      SELECT vec_id,
             round((list_aggregate([CAST(e.embedding[i] AS DOUBLE) * CAST(qv.q[i] AS DOUBLE) for i in range(1, len(e.embedding) + 1)], 'sum') / (sqrt(list_aggregate([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) for i in range(1, len(e.embedding) + 1)], 'sum')) * sqrt(list_aggregate([CAST(qv.q[i] AS DOUBLE) * CAST(qv.q[i] AS DOUBLE) for i in range(1, len(qv.q) + 1)], 'sum')))), 6) AS cos
      FROM (SELECT * FROM embeddings WHERE {SQL_COSINE_READY}) e, qv
      WHERE vec_id <> {_RRF_QUERY_VEC}
      ORDER BY cos DESC, vec_id ASC
      LIMIT {_RRF_DEPTH}
    ), v_rank AS (
      SELECT vec_id AS id,
             CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS INT)
               AS vr
      FROM vec
    )
    SELECT id,
           round(coalesce(1.0 / ({_RRF_K} + tr), 0)
               + coalesce(1.0 / ({_RRF_K} + vr), 0), 6) AS rrf,
           tr AS text_rank, vr AS vec_rank
    FROM t_rank FULL JOIN v_rank USING (id)
    ORDER BY rrf DESC, id ASC
    LIMIT 10
    """,
    tags=("B25", "B24", "B10"),
    doc="HYBRID retrieval by reciprocal-rank fusion: the BM25 top-20 "
    "(derived query terms, text_bm25_topk's plan) and the vector "
    "cosine top-20 (query = embedding 42) fuse as "
    "sum 1/(60 + rank) over a FULL outer join of the two rank lists "
    "— the standard production pattern for text+vector search, "
    "robust to either side's score scale.  Both candidate lists are "
    "TakeOrdered bounded (20 rows each), so the fusion join is "
    "trivially broadcastable; ranks are computed over ROUNDED scores "
    "with id tie-breaks, making the fused ordering cross-engine "
    "deterministic end-to-end.",
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from scache_spark.functions import vec_cosine
    from scache_spark.operators.text import text_bm25_topk

    bm = text_bm25_topk(spark, sf_dir)
    t_rank = bm.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(bounded_window("doc_id", F.desc("bm25"), F.asc("doc_id")))
        .cast("int")
        .alias("tr"),
    )
    from scache_spark.functions import cosine_ready

    # cosine contract (r6): NULL / zero-norm vectors cannot rank
    e = cosine_ready(load_table(spark, sf_dir, "embeddings"))
    qv = e.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("embedding").alias("q")
    )
    vec = (
        e.filter(F.col("vec_id") != _RRF_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(vec_cosine(F.col("embedding"), F.col("q")), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(_RRF_DEPTH)
    )
    v_rank = vec.select(
        F.col("vec_id").alias("id"),
        F.row_number()
        .over(bounded_window("vec_id", F.desc("cos"), F.asc("vec_id")))
        .cast("int")
        .alias("vr"),
    )
    fused = t_rank.join(v_rank, "id", "full").select(
        "id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("tr")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("vr")), F.lit(0.0)),
            6,
        ).alias("rrf"),
        F.col("tr").alias("text_rank"),
        F.col("vr").alias("vec_rank"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("id")).limit(10)


# ---------------------------------------------------------------------------
# retrieval quality: NDCG@10 of the ANN ranking vs the exact ideal
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_QUERY = 42


@register(
    "retrieval_ndcg_at_k",
    oracle=f"""
    WITH qv AS (
      SELECT embedding AS q, {sql_lsh_bucket("embedding")} AS qb
      FROM embeddings WHERE vec_id = {_NDCG_QUERY} AND {SQL_COSINE_READY}
    ),
    ideal AS (
      SELECT vec_id,
             CAST(row_number() OVER (
               ORDER BY round({sql_vec_cosine("e.embedding", "qv.q")}, 6) DESC,
                        vec_id ASC) AS INT) AS irk
      FROM (SELECT * FROM embeddings WHERE {SQL_COSINE_READY}) e, qv
      WHERE vec_id <> {_NDCG_QUERY}
      QUALIFY irk <= {_NDCG_K}
    ),
    system AS (
      SELECT vec_id,
             CAST(row_number() OVER (
               ORDER BY round({sql_vec_cosine("e.embedding", "qv.q")}, 6) DESC,
                        vec_id ASC) AS INT) AS srk
      FROM (SELECT * FROM embeddings WHERE {SQL_COSINE_READY}) e, qv
      WHERE vec_id <> {_NDCG_QUERY}
        AND {sql_lsh_bucket("e.embedding")} = qv.qb
      QUALIFY srk <= {_NDCG_K}
    ),
    scored AS (
      SELECT s.srk,
             coalesce({_NDCG_K} + 1 - i.irk, 0) AS rel
      FROM system s LEFT JOIN ideal i ON i.vec_id = s.vec_id
    ),
    dcg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_system,
             sum(rel / ln(srk + 1.0)) AS dcg_raw
      FROM scored
    ),
    idcg AS (
      SELECT sum(({_NDCG_K} + 1 - p) / ln(p + 1.0)) AS idcg_raw
      FROM (SELECT unnest(generate_series(1, {_NDCG_K})) AS p)
    )
    SELECT n_system,
           round(dcg_raw, 6) AS dcg,
           round(dcg_raw / idcg_raw, 6) AS ndcg
    FROM dcg, idcg
    """,
    tags=("B25", "B20", "B10"),
    doc=f"Retrieval-quality measurement: NDCG@{_NDCG_K} of the "
    "single-probe LSH ranking against the exact-cosine ideal for "
    "query 42 — graded relevance = ideal-rank position (11-rank), "
    "log-discounted, normalized by the closed-form IDCG.  This is "
    "the recall/precision sweep's ranking-aware sibling: it scores "
    "not just WHAT the ANN index returns but in what ORDER, the "
    "number an index tuning loop optimizes.  Both rankings order by "
    "ROUNDED cosine with id tie-breaks (cross-engine total order); "
    "natural log in the discount keeps both engines on the same "
    "transcendental, rounded at 6 dp.",
)
def retrieval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import cosine_ready

    # cosine contract (r6): NULL / zero-norm vectors cannot rank
    e = cosine_ready(load_table(spark, sf_dir, "embeddings"))
    bucket = api.lsh_cosine_bucket(F.col("embedding"), dim=DIM, n_planes=N_PLANES)
    qv = e.filter(F.col("vec_id") == _NDCG_QUERY).select(
        F.col("embedding").alias("q"), bucket.alias("qb")
    )
    base = (
        e.filter(F.col("vec_id") != _NDCG_QUERY)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(vec_cosine(F.col("embedding"), F.col("q")), 6).alias("cos"),
            (bucket == F.col("qb")).alias("in_bucket"),
        )
    )
    ideal = (
        base.orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(_NDCG_K)
        .withColumn(
            "irk",
            F.row_number()
            .over(bounded_window("vec_id", F.desc("cos"), F.asc("vec_id")))
            .cast("int"),
        )
        .select("vec_id", "irk")
    )
    system = (
        base.filter("in_bucket")
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(_NDCG_K)
        .withColumn(
            "srk",
            F.row_number()
            .over(bounded_window("vec_id", F.desc("cos"), F.asc("vec_id")))
            .cast("int"),
        )
        .select("vec_id", "srk")
    )
    scored = system.join(ideal, "vec_id", "left").select(
        "srk",
        F.coalesce(_NDCG_K + 1 - F.col("irk"), F.lit(0)).alias("rel"),
    )
    idcg_raw = sum(
        (_NDCG_K + 1 - p) / __import__("math").log(p + 1.0)
        for p in range(1, _NDCG_K + 1)
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_system"),
        F.round(F.sum(F.col("rel") / F.log(F.col("srk") + 1.0)), 6).alias("dcg"),
        F.round(
            F.sum(F.col("rel") / F.log(F.col("srk") + 1.0)) / F.lit(idcg_raw), 6
        ).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# MMR diversity re-ranking (maximal marginal relevance over the shortlist)
# ---------------------------------------------------------------------------

_MMR_CANDS = 12
_MMR_K = 5
_MMR_QUERY = 42  # same query vector as the RRF/IVF probes


def _mmr_greedy(pdf):
    """Greedy MMR over the bounded candidate frame: at each step pick
    argmax of lambda*qcos - (1-lambda)*max_sim_to_selected (ties ->
    lowest vec_id); identical float arithmetic to the recursive-CTE
    oracle (0.7/0.3 double literals over 6dp-rounded cosines)."""
    import pandas as pd

    qcos = {}
    sim = {}
    for a, qa, b, s in zip(pdf["a"], pdf["qa"], pdf["b"], pdf["sim"]):
        qcos[int(a)] = float(qa)
        sim[(int(a), int(b))] = float(s)
    chosen: list[int] = []
    out = []
    for rank in range(1, _MMR_K + 1):
        best = None
        for v in sorted(qcos):
            if v in chosen:
                continue
            ms = max((sim[(v, c)] for c in chosen if (v, c) in sim), default=0.0)
            score = 0.7 * qcos[v] - 0.3 * ms
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, score)
        _, v, score = best
        chosen.append(v)
        out.append((rank, v, qcos[v], score))
    return pd.DataFrame(out, columns=["rank", "vec_id", "qcos", "score"])


@register(
    "mmr_diverse_rerank",
    oracle=f"""
    WITH RECURSIVE vecs AS (
      SELECT * FROM embeddings WHERE {SQL_COSINE_READY}
    ),
    q AS (
      SELECT embedding AS qv FROM vecs WHERE vec_id = {_MMR_QUERY}
    ),
    scored AS (
      SELECT vec_id, embedding,
             round({sql_vec_cosine("embedding", "qv")}, 6) AS qcos
      FROM vecs, q WHERE vec_id <> {_MMR_QUERY}
    ),
    base AS (
      SELECT vec_id, embedding, qcos FROM scored
      ORDER BY qcos DESC, vec_id ASC LIMIT {_MMR_CANDS}
    ),
    pairs AS (
      SELECT x.vec_id AS a, y.vec_id AS b,
             round({sql_vec_cosine("x.embedding", "y.embedding")}, 6) AS s
      FROM base x JOIN base y ON x.vec_id <> y.vec_id
    ),
    bl AS (SELECT list({{'v': vec_id, 'q': qcos}} ORDER BY vec_id) AS bl
           FROM base),
    pl AS (SELECT list({{'a': a, 'b': b, 's': s}} ORDER BY a, b) AS pl
           FROM pairs),
    sel AS (
      SELECT 0 AS rank, CAST(NULL AS BIGINT) AS vec_id,
             CAST(NULL AS DOUBLE) AS qcos, CAST(NULL AS DOUBLE) AS score,
             CAST([] AS BIGINT[]) AS chosen
      UNION ALL
      SELECT s.rank + 1,
             pick.v, pick.q, -pick.negs,
             list_append(s.chosen, pick.v)
      FROM (
        SELECT s.rank,
               list_min([
                 {{'negs': -(CAST('0.7' AS DOUBLE) * b.q
                            - CAST('0.3' AS DOUBLE)
                              * coalesce(list_max(
                                  [p.s for p in pl.pl
                                   if p.a = b.v
                                   AND list_contains(s.chosen, p.b)]),
                                CAST(0 AS DOUBLE))),
                  'v': b.v, 'q': b.q}}
                 for b in bl.bl if NOT list_contains(s.chosen, b.v)
               ]) AS pick,
               s.chosen
        FROM sel s, bl, pl
        WHERE s.rank < {_MMR_K}
      ) s
    )
    SELECT CAST(rank AS INT) AS rank, vec_id, qcos, round(score, 6) AS score
    FROM sel WHERE rank >= 1
    """,
    tags=("B25", "B10", "mining"),
    doc=f"Maximal-marginal-relevance re-ranking: the exact-cosine "
    f"top-{_MMR_CANDS} shortlist is greedily re-ordered into "
    f"{_MMR_K} picks maximizing 0.7*relevance - 0.3*max-similarity-"
    "to-already-picked — the standard diversity pass a RAG retriever "
    "runs after ANN, deduplicating near-identical hits at serving "
    "time.  Scale shape: shortlisting is TakeOrderedAndProject over "
    "the corpus scan; everything after (pairwise sims + the greedy "
    "loop) runs on the bounded candidate frame in one grouped-map "
    "task, the same small-frame-recursion contract as the LPT "
    "scheduler; the oracle replays the greedy argmax through a "
    "recursive CTE over carried candidate/pair lists.  All cosines "
    "are 6dp-rounded BEFORE the greedy arithmetic, so both engines "
    "pick identical argmaxes.",
)
def mmr_diverse_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import cosine_ready

    # cosine contract (r6): NULL / zero-norm vectors cannot rank
    e = cosine_ready(load_table(spark, sf_dir, "embeddings"))
    qv = e.filter(F.col("vec_id") == _MMR_QUERY).select(
        F.col("embedding").alias("qv")
    )
    scored = (
        e.filter(F.col("vec_id") != _MMR_QUERY)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "embedding",
            F.round(vec_cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "qcos"
            ),
        )
    )
    base = scored.orderBy(F.desc("qcos"), F.asc("vec_id")).limit(_MMR_CANDS)
    x = base.select(
        F.col("vec_id").alias("a"),
        F.col("qcos").alias("qa"),
        F.col("embedding").alias("ea"),
    )
    y = base.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("eb")
    )
    pairs = (
        x.join(F.broadcast(y), F.col("a") != F.col("b"))
        .select(
            "a",
            "qa",
            "b",
            F.round(vec_cosine(F.col("ea"), F.col("eb")), 6).alias("sim"),
        )
    )
    return (
        pairs.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(
            _mmr_greedy, "rank int, vec_id long, qcos double, score double"
        )
        .select("rank", "vec_id", "qcos", F.round("score", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# late-interaction (ColBERT-style) MaxSim retrieval
# ---------------------------------------------------------------------------

_CB_TOKENS = 4  # token vectors per document (64 dims -> 4 x 16)
_CB_SUBDIM = DIM // _CB_TOKENS
_CB_QUERY = 0  # the query document's vec_id
_CB_K = 10


@register(
    "colbert_maxsim_topk",
    oracle=f"""
    WITH q AS (
      SELECT [CAST(x AS DOUBLE) for x in embedding] AS qe
      FROM embeddings WHERE vec_id = {_CB_QUERY} AND {SQL_VECTOR_READY}
    ),
    scored AS (
      SELECT vec_id,
             round({" + ".join(
                 "greatest(" + ", ".join(
                     f"list_aggregate([CAST(embedding[{dm * _CB_SUBDIM} + i] "
                     f"AS DOUBLE) * qe[{qm * _CB_SUBDIM} + i] "
                     f"for i in range(1, {_CB_SUBDIM} + 1)], 'sum')"
                     for dm in range(_CB_TOKENS)
                 ) + ")"
                 for qm in range(_CB_TOKENS)
             )}, 6) AS maxsim
      FROM (SELECT * FROM embeddings WHERE {SQL_VECTOR_READY}), q
      WHERE vec_id <> {_CB_QUERY}
    )
    SELECT vec_id, maxsim FROM scored
    ORDER BY maxsim DESC, vec_id ASC LIMIT {_CB_K}
    """,
    tags=("B25", "B17", "B10"),
    doc="Late-interaction retrieval (ColBERT's MaxSim operator, "
    "Khattab & Zaharia 2020): each stored vector is treated as "
    f"{_CB_TOKENS} contiguous token sub-vectors of {_CB_SUBDIM} dims "
    "(the multi-vector document representation), and score(doc) = "
    "sum over query tokens of the MAX dot product against any doc "
    "token — the interaction pattern single-vector cosine cannot "
    "express (it rewards the best-matching passage token per query "
    "term).  Scale shape: ZERO extra shuffle — the query's token "
    "vectors broadcast as one row, all TOKENSxTOKENS dot products "
    "fold map-side inside whole-stage codegen (slice + zip_with + "
    "aggregate, no explode, no per-token row blow-up), and the "
    "ranking is TakeOrderedAndProject.  At 100 TB this is one "
    "narrow corpus scan; a multi-vector column (array<array<float>>) "
    "generalizes the slices unchanged.  Dots fold in element order "
    "in both engines; the MaxSim sum is 6dp-rounded BEFORE ranking "
    "with a vec_id tie-break so both engines rank identical doubles. "
    "Malformed vectors cannot score (r9 vector_ready ingest "
    "contract; MaxSim never divides by a norm, so zero vectors "
    "legitimately score 0 and stay).",
)
def colbert_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = vector_ready(load_table(spark, sf_dir, "embeddings"))
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = e.filter(F.col("vec_id") == _CB_QUERY).select(dbl.alias("qe"))
    docs = e.filter(F.col("vec_id") != _CB_QUERY).crossJoin(F.broadcast(q))

    def dot(qm: int, dm: int) -> Column:
        return F.aggregate(
            F.zip_with(
                F.slice(dbl, dm * _CB_SUBDIM + 1, _CB_SUBDIM),
                F.slice(F.col("qe"), qm * _CB_SUBDIM + 1, _CB_SUBDIM),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    maxsim: Column | None = None
    for qm in range(_CB_TOKENS):
        best = F.greatest(*[dot(qm, dm) for dm in range(_CB_TOKENS)])
        maxsim = best if maxsim is None else maxsim + best
    scored = docs.select("vec_id", F.round(maxsim, 6).alias("maxsim"))
    return scored.orderBy(F.desc("maxsim"), F.asc("vec_id")).limit(_CB_K)
