"""IVF vector indexing and k-means (north-star B25/B26 depth).

IVF (inverted-file) indexing is the scale path for ANN beyond LSH:
partition the corpus by nearest centroid once, then probe only the
query's cell(s).  Centroid *initialization* is deterministic (the
vectors with vec_id < K), and the k-means refinement runs a FIXED
number of rounds — so the DuckDB oracle can replay the exact same
computation with chained CTEs (the seedable-randomness rule applied
to clustering; contrast the reference's unseeded placement shuffle,
/root/reference src/main/scala/org/scache/MapOutputTracker.scala:202).
The expected-size-per-bucket accounting parallels the reference's
``predict_with_sample`` (sim/train.py:34-60): a per-key expectation
maintained as a tiny aggregate, never the raw data.

Scale notes: assignment is a broadcast join (K centroids ship to every
task; the corpus never shuffles for assignment); the centroid update
is one explode + groupBy(cell, pos) — a map-side-combined aggregate
whose output is K×DIM rows regardless of corpus size.  That is the
whole per-iteration cost at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scache_spark import api
from scache_spark.catalog import load_table, widen_scan
from scache_spark.functions import (
    SQL_COSINE_READY,
    SQL_VECTOR_READY,
    vec_l2sq,
    vector_ready,
)
from scache_spark.registry import register

K = 16  # IVF cells / k-means k
DIM = 64


def _sql_l2sq(a: str, b: str) -> str:
    return (
        f"list_aggregate([(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"for i in range(1, {DIM} + 1)], 'sum')"
    )


def _centroids(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> DataFrame:
    """Deterministic seed centroids: the first K vectors by id.  Pass
    ``e`` (e.g. an already-checkpointed embeddings frame) to derive
    the seeds from it instead of a fresh scan — keeps the seeding
    rule defined HERE only."""
    if e is None:
        # r9 vector contract: seeds and corpus must draw from the same
        # well-formed universe, or a malformed low-id vector becomes a
        # centroid that poisons every assignment
        e = vector_ready(load_table(spark, sf_dir, "embeddings"))
    # seed rule is an ID RANGE, not an upper bound (r9 dirty-embeddings
    # contract): "first K by id" with a bare `< K` lets one corrupt
    # NEGATIVE id hijack a seed slot — the id-join twin of the signed
    # host-ordinal trace contract
    return e.filter((F.col("vec_id") >= 0) & (F.col("vec_id") < K)).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )


_SQL_ASSIGN0 = f"""
    seeds AS (SELECT vec_id AS cell, embedding AS centroid
              FROM embeddings
              WHERE vec_id >= 0 AND vec_id < {K} AND {SQL_VECTOR_READY}),
    scored0 AS (
      SELECT e.vec_id, e.embedding, s.cell,
             {_sql_l2sq("e.embedding", "s.centroid")} AS d2
      FROM (SELECT * FROM embeddings WHERE {SQL_VECTOR_READY}) e, seeds s
    ),
    assign0 AS (
      SELECT vec_id, embedding, cell, d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY d2 ASC, cell ASC) AS rk
        FROM scored0
      ) WHERE rk = 1
    )
"""


@register(
    "ann_ivf_cells",
    oracle=f"""
    WITH {_SQL_ASSIGN0}
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(sqrt(d2)), 6) AS mean_dist,
           min(vec_id) AS min_vec_id
    FROM assign0 GROUP BY cell
    """,
    tags=("B25",),
    doc=f"IVF index build: every vector assigned to its nearest of {K} "
    "deterministic seed centroids (broadcast join + windowed argmin). "
    "The cell id is the partition key an IVF index writes the corpus "
    "under — each query then scans ~1/K of the data.",
)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = vector_ready(load_table(spark, sf_dir, "embeddings"))
    assigned = api._nearest_centroid(
        e, "embedding", "vec_id", _centroids(spark, sf_dir)
    )
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.avg(F.sqrt("d2")), 6).alias("mean_dist"),
        F.min("vec_id").alias("min_vec_id"),
    )


@register(
    "ann_ivf_probe",
    oracle=f"""
    WITH {_SQL_ASSIGN0},
    q AS (SELECT embedding AS qv, cell AS q_cell FROM assign0 WHERE vec_id = 42),
    cand AS (
      SELECT a.vec_id, a.embedding, q.qv
      FROM assign0 a, q WHERE a.cell = q.q_cell AND a.vec_id <> 42
    )
    SELECT vec_id, sqrt({_sql_l2sq("embedding", "qv")}) AS dist
    FROM cand
    ORDER BY dist ASC, vec_id ASC
    LIMIT 5
    """,
    tags=("B25", "B10"),
    doc="IVF query: probe only the query vector's cell, exact top-5 by "
    "L2 within it — the single-probe IVF search path.",
)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = vector_ready(load_table(spark, sf_dir, "embeddings"))
    # assignment feeds the query lookup AND the candidate filter —
    # checkpoint so the corpus scores against the centroids once
    assigned = api._nearest_centroid(
        e, "embedding", "vec_id", _centroids(spark, sf_dir)
    ).localCheckpoint(eager=True)
    q = assigned.filter(F.col("vec_id") == 42).select(
        F.col("embedding").alias("qv"), F.col("cell").alias("q_cell")
    )
    cand = assigned.crossJoin(F.broadcast(q)).filter(
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != 42)
    )
    return (
        cand.select("vec_id", F.sqrt(vec_l2sq(F.col("embedding"), F.col("qv"))).alias("dist"))
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(5)
    )


@register(
    "kmeans_two_rounds",
    oracle=f"""
    WITH {_SQL_ASSIGN0},
    exploded AS (
      SELECT cell, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM assign0, unnest(range(1, {DIM} + 1)) AS t(i)
    ),
    centroid1_parts AS (
      SELECT cell, pos, avg(val) AS mu FROM exploded GROUP BY cell, pos
    ),
    centroids1 AS (
      SELECT cell, list(mu ORDER BY pos) AS centroid
      FROM centroid1_parts GROUP BY cell
    ),
    scored1 AS (
      SELECT e.vec_id, c.cell,
             {_sql_l2sq("e.embedding", "c.centroid")} AS d2
      FROM (SELECT * FROM embeddings WHERE {SQL_VECTOR_READY}) e, centroids1 c
    ),
    assign1 AS (
      SELECT vec_id, cell, d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY d2 ASC, cell ASC) AS rk
        FROM scored1
      ) WHERE rk = 1
    )
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(sqrt(d2)), 6) AS mean_dist
    FROM assign1 GROUP BY cell
    """,
    tags=("B25", "B26"),
    doc="Two k-means rounds, fully deterministic: seed centroids = "
    f"first {K} vectors; round 1 assigns (broadcast argmin), centroid "
    "update = explode to (cell, pos) + avg + ordered rebuild (K×DIM "
    "rows of state regardless of corpus size); round 2 reassigns.  "
    "The oracle replays both rounds as chained CTEs — the bounded-"
    "iteration pattern that makes iterative ML oracle-checkable.",
)
def kmeans_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The corpus feeds BOTH assignment rounds (plus the seed filter);
    # without materialization each round re-scans the table.  Iterative
    # ML caches its input once — MLlib's own KMeans does exactly this —
    # so eager-checkpoint the vectors and derive every pass from it.
    e = widen_scan(
        vector_ready(load_table(spark, sf_dir, "embeddings")), "vec_id"
    ).localCheckpoint(eager=True)
    assign0 = api._nearest_centroid(
        e, "embedding", "vec_id", _centroids(spark, sf_dir, e=e)
    )
    exploded = assign0.select(
        "cell", F.posexplode("embedding").alias("pos0", "val_f")
    ).select(
        "cell",
        (F.col("pos0") + 1).alias("pos"),
        F.col("val_f").cast("double").alias("val"),
    )
    parts = exploded.groupBy("cell", "pos").agg(F.avg("val").alias("mu"))
    centroids1 = parts.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mu"))), lambda s: s["mu"]
        ).alias("centroid")
    )
    assign1 = api._nearest_centroid(e, "embedding", "vec_id", centroids1)
    return assign1.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.avg(F.sqrt("d2")), 6).alias("mean_dist"),
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup: k-means cells as the blocking key
# ---------------------------------------------------------------------------


@register(
    "dedup_semantic_cells",
    oracle=f"""
    WITH aug AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {SQL_COSINE_READY}
      UNION ALL
      SELECT vec_id + 100000, embedding FROM embeddings
      WHERE vec_id % 20 = 0 AND {SQL_COSINE_READY}
    ),
    seeds AS (SELECT vec_id AS cell, embedding AS centroid
              FROM embeddings
              WHERE vec_id >= 0 AND vec_id < {K} AND {SQL_VECTOR_READY}),
    scored AS (
      SELECT a.vec_id, a.embedding, s.cell,
             {_sql_l2sq("a.embedding", "s.centroid")} AS d2
      FROM aug a, seeds s
    ),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY d2 ASC, cell ASC) AS rk
        FROM scored
      ) WHERE rk = 1
    ),
    pairs AS (
      SELECT b.vec_id AS dup_id, a.cell, a.vec_id AS keep_id,
             (list_aggregate([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in range(1, len(a.embedding) + 1)], 'sum') / (sqrt(list_aggregate([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) for i in range(1, len(a.embedding) + 1)], 'sum')) * sqrt(list_aggregate([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) for i in range(1, len(b.embedding) + 1)], 'sum')))) AS cos
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
    SELECT dup_id, cell,
           CAST(min(keep_id) AS BIGINT) AS canonical_id,
           round(max(cos), 6) AS max_cosine
    FROM pairs WHERE cos >= 0.95
    GROUP BY dup_id, cell
    """,
    tags=("B24", "B25"),
    doc="SemDeDup-style SEMANTIC dedup: vectors are blocked by their "
    "k-means cell (the IVF assignment reused as the blocking key), "
    "then only within-cell pairs are cosine-verified; each duplicate "
    "is canonicalized to the MINIMUM surviving vec_id among its >=0.95 "
    "partners.  Complements the two existing blockings — label "
    "(validation baseline) and hyperplane-LSH (recall-tuned) — with "
    "the centroid-based one production semantic dedup actually uses: "
    "cells adapt to the data distribution, so near-dups land in the "
    "same block even when no hyperplane bucket catches them.  At "
    "100 TB: assignment is a broadcast-K min-struct aggregate (the "
    "corpus never shuffles for it), the pair space is bounded per "
    "cell, and the canonical-min aggregate is map-side combinable.",
)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import cosine_ready

    # cosine contract (r6): NULL / zero-norm / wrong-dimension vectors
    # cannot pair
    e = cosine_ready(load_table(spark, sf_dir, "embeddings"))
    # Planted copies via explode-over-variant-array (the augmented_docs
    # shape): ONE corpus scan emits each vector plus its optional
    # planted duplicate map-side, where the union form re-scans the
    # table per arm.
    variants = F.array(
        F.struct(
            F.col("vec_id").alias("vec_id"),
            F.col("embedding").alias("embedding"),
            F.lit(True).alias("keep"),
        ),
        F.struct(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.col("embedding").alias("embedding"),
            (F.col("vec_id") % 20 == 0).alias("keep"),
        ),
    )
    aug = (
        e.select(F.explode(F.filter(variants, lambda v: v["keep"])).alias("v"))
        .select("v.vec_id", "v.embedding")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    dups = api.semantic_dedup(
        aug, "embedding", "vec_id", _centroids(spark, sf_dir), threshold=0.95
    )
    return dups.select(
        "dup_id",
        "cell",
        F.col("canonical_id").cast("long").alias("canonical_id"),
        "max_cosine",
    )


# ---------------------------------------------------------------------------
# IVF nprobe recall curve: the index-quality evaluation surface
# ---------------------------------------------------------------------------

_QUERY_IDS = (7, 42, 99)
_NPROBES = (1, 2, 4)


@register(
    "ann_ivf_nprobe_recall",
    oracle=f"""
    WITH {_SQL_ASSIGN0},
    q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM assign0
          WHERE vec_id IN {_QUERY_IDS}),
    scored AS (
      SELECT q.q_id, a.vec_id, a.cell,
             {_sql_l2sq("a.embedding", "q.q_emb")} AS d2q
      FROM assign0 a, q WHERE a.vec_id <> q.q_id
    ),
    truth AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id, row_number() OVER (
          PARTITION BY q_id ORDER BY d2q ASC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 10
    ),
    cellrank AS (
      SELECT q_id, cell, row_number() OVER (
        PARTITION BY q_id ORDER BY d2c ASC, cell ASC) AS rn
      FROM (
        SELECT q.q_id, s.cell,
               {_sql_l2sq("s.centroid", "q.q_emb")} AS d2c
        FROM seeds s, q
      )
    ),
    np AS (SELECT unnest(ARRAY{list(_NPROBES)}) AS nprobe),
    probes AS (
      SELECT np.nprobe, c.q_id, c.cell
      FROM np JOIN cellrank c ON c.rn <= np.nprobe
    ),
    cand AS (
      SELECT p.nprobe, s.q_id, s.vec_id, s.d2q
      FROM scored s JOIN probes p
        ON s.q_id = p.q_id AND s.cell = p.cell
    ),
    approx AS (
      SELECT nprobe, q_id, vec_id FROM (
        SELECT nprobe, q_id, vec_id, row_number() OVER (
          PARTITION BY nprobe, q_id ORDER BY d2q ASC, vec_id ASC) AS rn
        FROM cand
      ) WHERE rn <= 10
    )
    SELECT a.nprobe,
           CAST(count(t.vec_id) AS BIGINT) AS hits,
           (SELECT CAST(count(*) AS BIGINT) FROM cand c
            WHERE c.nprobe = a.nprobe) AS n_candidates
    FROM approx a LEFT JOIN truth t
      ON a.q_id = t.q_id AND a.vec_id = t.vec_id
    GROUP BY a.nprobe
    """,
    tags=("B25", "B10"),
    doc="IVF index-quality evaluation: for 3 fixed query vectors and "
    f"nprobe in {_NPROBES}, recall of probe-limited IVF search vs the "
    "exact top-10 (hits = matched neighbors summed over queries; 30 = "
    "perfect recall) plus the candidate-scan cost the probe paid — "
    "the recall/cost trade-off curve an ANN deployment tunes, "
    "completing the evaluation surface beside lsh_design_curve and "
    "retrieval_ndcg_at_k.  Scale shape is the real IVF search "
    "structure: per-(query, cell) top-10 heads first (each window "
    "partition is ONE index shard's scan — the granularity IVF reads "
    "anyway), then truth and every nprobe variant re-rank only the "
    "bounded heads (<=160 rows/query); probe cost is computed from "
    "per-cell sizes (a 16-row broadcast), never by re-scanning.",
)
def ann_ivf_nprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = widen_scan(
        vector_ready(load_table(spark, sf_dir, "embeddings")), "vec_id"
    )
    # ONE materialization (r10, §2.4/§1.2: the r9 shape ran ~15
    # bounded-data jobs — two checkpoints plus a broadcast build per
    # branch, each a scheduling round trip that exists at cluster
    # scale too).  The assignment checkpoint is the only corpus-sized
    # intermediate; everything downstream — query vectors, seed
    # centroids (the seeds are corpus rows, so they come FROM the
    # checkpoint instead of re-scanning parquet), cell ranks, truth,
    # every nprobe re-rank — derives from it inside ONE final plan.
    assigned = (
        api._nearest_centroid(
            e, "embedding", "vec_id", _centroids(spark, sf_dir, e=e)
        )
        .select("vec_id", "embedding", "cell")
        .localCheckpoint(eager=True)
    )
    q = assigned.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        assigned.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "cell",
            vec_l2sq(F.col("embedding"), F.col("q_emb")).alias("d2q"),
        )
    )
    # All three rank stages stack on ONE q_id exchange: hash(q_id)
    # satisfies the (q_id, cell) shard window, the q_id truth window
    # AND the (nprobe, q_id) re-rank window by the subset rule (the
    # matryoshka stacked-window pattern), so the per-shard top-10, the
    # exact top-10 flag and every probe-limited top-10 are consecutive
    # sorts over the same partitions — no second shuffle, no second
    # checkpoint, no per-branch re-rank jobs.
    shard_w = Window.partitionBy("q_id", "cell").orderBy(
        F.col("d2q").asc(), F.col("vec_id").asc()
    )
    truth_w = Window.partitionBy("q_id").orderBy(
        F.col("d2q").asc(), F.col("vec_id").asc()
    )
    heads = (
        scored.repartition("q_id")
        .withColumn("rn", F.row_number().over(shard_w))
        .filter(F.col("rn") <= 10)
        .withColumn("is_truth", F.row_number().over(truth_w) <= 10)
        .drop("rn")
    )
    # Per-(query, cell) probe rank from the 16-row centroid table —
    # a broadcast joined onto the heads, then the 3 nprobe variants
    # explode map-side and re-rank inside the same partitions.
    cellrank = (
        _centroids(spark, sf_dir, e=assigned)
        .crossJoin(F.broadcast(q))
        .select(
            "q_id",
            "cell",
            vec_l2sq(F.col("centroid"), F.col("q_emb")).alias("d2c"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.col("d2c").asc(), F.col("cell").asc()
                )
            ),
        )
        .select("q_id", "cell", F.col("rn").alias("cell_rn"))
    )
    approx_w = Window.partitionBy("nprobe", "q_id").orderBy(
        F.col("d2q").asc(), F.col("vec_id").asc()
    )
    nparr = F.array(*[F.lit(n) for n in _NPROBES])
    approx = (
        heads.join(F.broadcast(cellrank), ["q_id", "cell"])
        .select(
            "q_id",
            "vec_id",
            "d2q",
            "is_truth",
            F.explode(F.filter(nparr, lambda n: F.col("cell_rn") <= n)).alias(
                "nprobe"
            ),
        )
        .withColumn("rn", F.row_number().over(approx_w))
        .filter(F.col("rn") <= 10)
    )
    hits = approx.groupBy("nprobe").agg(
        F.sum(F.col("is_truth").cast("int")).cast("long").alias("hits")
    )
    # Probe cost from per-cell sizes (16-row aggregate), minus the
    # query vector itself (its own cell always ranks first).
    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("sz"))
    n_cand = (
        cellrank.select(
            "cell",
            F.explode(
                F.filter(nparr, lambda n: F.col("cell_rn") <= n)
            ).alias("nprobe"),
        )
        .join(F.broadcast(sizes), "cell", "left")
        .groupBy("nprobe")
        .agg(
            (F.sum(F.coalesce(F.col("sz"), F.lit(0))) - len(_QUERY_IDS))
            .cast("long")
            .alias("n_candidates")
        )
    )
    return hits.join(F.broadcast(n_cand), "nprobe").select(
        "nprobe", "hits", "n_candidates"
    )
