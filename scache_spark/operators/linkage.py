"""Record-linkage operators + remaining Spark-4 API surface (r7).

Three classic record-linkage/candidate-generation strategies that are
NOT in the LSH family the dedup module covers, plus the last Spark-4
DataFrame APIs the registry had no query for (lateralJoin, transpose,
collated grouping), plus a Pareto-frontier (skyline) curation filter.

Scale rules (SCALE.md): every candidate-generation operator here
bounds its pair space BEFORE any join materializes — deletion
neighborhoods give O(n·L) equi-join keys instead of O(n²) pairs,
sorted-neighborhood compares only w in-block neighbors after one
sort, and the skyline needs one window pass over one row per
distinct metric value, never a self-join.  No Python UDFs anywhere:
all codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scache_spark import api
from scache_spark.catalog import load_table
from scache_spark.registry import register

# ---------------------------------------------------------------------------
# FastSS deletion-neighborhood fuzzy join (edit distance <= 1)
# ---------------------------------------------------------------------------


@register(
    "fastss_edit1_pairs",
    oracle="""
    WITH pos AS (
      SELECT s_suppkey, s_name, unnest(range(1, length(s_name) + 1)) AS i
      FROM supplier
    ),
    v AS (
      SELECT s_suppkey AS k, s_name AS nm,
             substr(s_name, 1, CAST(i AS INT) - 1)
               || substr(s_name, CAST(i AS INT) + 1) AS v
      FROM pos
      UNION
      SELECT s_suppkey, s_name, s_name FROM supplier
    ),
    cand AS (
      SELECT DISTINCT a.k AS supp_a, b.k AS supp_b, a.nm AS nm_a, b.nm AS nm_b
      FROM v a JOIN v b USING (v) WHERE a.k < b.k
    )
    SELECT supp_a, supp_b, CAST(levenshtein(nm_a, nm_b) AS INT) AS edit_dist
    FROM cand WHERE levenshtein(nm_a, nm_b) <= 1
    """,
    tags=("B13", "B14", "B24"),
    doc="FastSS deletion-neighborhood fuzzy join: every edit-distance-"
    "<=1 supplier-name pair WITHOUT a brand-style blocking key and "
    "without the O(n²) pair space.  Candidate generation is exact "
    "for distance<=1 — two strings are within one edit iff their "
    "{self} ∪ {single-char deletions} variant sets intersect — so "
    "the join is an EQUI-join on O(n·L) variant keys (codegen "
    "substr/transform, no UDF), then a levenshtein verify on the "
    "surviving candidates only.  Edit distance is defined over "
    "UTF-8 BYTES (the dirty-catalog contract, SCALE.md §16): "
    "Spark's levenshtein counts code points while DuckDB's counts "
    "bytes, so the verify runs on a byte-faithful latin-1 decode of "
    "the UTF-8 encoding — ASCII pairs are unchanged and an é-for-e "
    "substitution costs 2 in both engines.  Candidate generation by "
    "char deletion remains complete for byte distance <= 1 (between "
    "valid UTF-8 strings a single-byte edit is always a single-"
    "ASCII-char edit).  At 100 TB the variant explode is map-side "
    "and the verify cost is bounded by true-near-match density, not "
    "corpus size²; contrast fuzzy_match_levenshtein, which needs a "
    "natural equi blocking key to stay sub-quadratic.",
)
def fastss_edit1_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    return api.edit_distance_pairs(s, "s_suppkey", "s_name").select(
        F.col("id_a").alias("supp_a"), F.col("id_b").alias("supp_b"), "edit_dist"
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood method (blocked SNM) near-dup candidates
# ---------------------------------------------------------------------------


@register(
    "snm_neighbor_pairs",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name AS nm FROM part),
    win AS (
      SELECT nm, lead(nm,1) OVER w AS l1, lead(nm,2) OVER w AS l2,
             lead(nm,3) OVER w AS l3
      FROM names WINDOW w AS (PARTITION BY string_split(nm,' ')[1] ORDER BY nm)
    ),
    cand AS (
      SELECT nm, l1 AS nm2 FROM win WHERE l1 IS NOT NULL
      UNION ALL SELECT nm, l2 FROM win WHERE l2 IS NOT NULL
      UNION ALL SELECT nm, l3 FROM win WHERE l3 IS NOT NULL
    ),
    j AS (
      SELECT nm, nm2,
             CAST(len(list_intersect(string_split(nm,' '),
                                     string_split(nm2,' '))) AS DOUBLE)
               / len(list_distinct(list_concat(string_split(nm,' '),
                                               string_split(nm2,' ')))) AS raw
      FROM cand
    )
    SELECT nm AS name_a, nm2 AS name_b, round(raw, 6) AS jac
    FROM j WHERE raw >= 1.0/3.0
    """,
    tags=("B13", "B24"),
    doc="Sorted-neighborhood-method candidate generation: dedup the "
    "name catalog, sort within first-token blocks, compare each name "
    "only to its w=3 successors (lead windows), keep token-Jaccard "
    ">= 1/3.  SNM is the classic record-linkage alternative to LSH: "
    "one sort + w comparisons per row instead of banded hashing.  "
    "The block key bounds the window partition (no global-order "
    "window), and the catalog is DISTINCT names, which is vocabulary"
    "-sized, not corpus-sized, at 100 TB.  The Jaccard threshold is "
    "applied to the RAW ratio and only the output is rounded — "
    "rounding first drops exactly-1/3 pairs (found in prototyping).",
)
def snm_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("nm")).distinct()
    w = Window.partitionBy(F.split(F.col("nm"), " ")[0]).orderBy("nm")
    # all three leads in ONE window pass (one sort, one scan) — a
    # union of per-k windows triples the sort and the scan
    win = names.select(
        "nm", *[F.lead("nm", k).over(w).alias(f"l{k}") for k in (1, 2, 3)]
    )
    cand = win.select(
        "nm", F.explode(F.array("l1", "l2", "l3")).alias("nm2")
    ).where(F.col("nm2").isNotNull())
    ta, tb = F.split(F.col("nm"), " "), F.split(F.col("nm2"), " ")
    jac = F.size(F.array_intersect(ta, tb)).cast("double") / F.size(
        F.array_union(ta, tb)
    )
    return (
        cand.select("nm", "nm2", jac.alias("raw"))
        .where(F.col("raw") >= 1.0 / 3.0)
        .select(
            F.col("nm").alias("name_a"),
            F.col("nm2").alias("name_b"),
            F.round("raw", 6).alias("jac"),
        )
    )


# ---------------------------------------------------------------------------
# Collation-aware grouping (Spark 4 string collations)
# ---------------------------------------------------------------------------


@register(
    "collated_group_dedup",
    oracle="""
    WITH noised AS (
      SELECT c_custkey,
             CASE c_custkey % 3
               WHEN 0 THEN upper(c_mktsegment)
               WHEN 1 THEN lower(c_mktsegment)
               ELSE c_mktsegment
             END AS seg,
             c_acctbal
      FROM customer
    )
    SELECT lower(seg) AS segment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT seg) AS BIGINT) AS n_case_variants,
           round(sum(c_acctbal), 2) AS total_bal
    FROM noised GROUP BY lower(seg)
    """,
    tags=("B13", "B14", "B7"),
    doc="Collation-aware grouping (Spark 4 UTF8_LCASE): a case-noised "
    "segment column (upper/lower/as-is by key mod 3) is grouped under "
    "the UTF8_LCASE collation — the engine's comparator itself is "
    "case-insensitive, no lower() rewrite in the grouping key.  "
    "Collations matter at scale because they keep the ORIGINAL "
    "column comparable (one canonical sort/group path, usable in "
    "joins and range predicates) where expression rewrites "
    "(lower(col)) defeat column statistics.  The grouped "
    "representative value is an arbitrary case variant, so the "
    "output projects lower() of it — deterministic because variants "
    "differ only by case.  Oracle: GROUP BY lower(seg), exact for "
    "this ASCII domain.",
)
def collated_group_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    seg = (
        F.when(F.col("c_custkey") % 3 == 0, F.upper("c_mktsegment"))
        .when(F.col("c_custkey") % 3 == 1, F.lower("c_mktsegment"))
        .otherwise(F.col("c_mktsegment"))
    )
    noised = c.select(
        F.collate(seg, "UTF8_LCASE").alias("seg_ci"),
        seg.alias("seg_raw"),
        "c_acctbal",
    )
    return noised.groupBy("seg_ci").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("seg_raw").cast("long").alias("n_case_variants"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    ).select(
        F.lower(F.col("seg_ci").cast("string")).alias("segment"),
        "n_rows",
        "n_case_variants",
        "total_bal",
    )


# ---------------------------------------------------------------------------
# Correlated lateral top-N join (Spark 4 DataFrame.lateralJoin)
# ---------------------------------------------------------------------------


@register(
    "lateral_topn_per_nation",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.acctbal
    FROM nation n CROSS JOIN LATERAL (
      SELECT c_custkey, round(c_acctbal, 2) AS acctbal
      FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 3
    ) t
    """,
    tags=("B4", "B10"),
    doc="Correlated lateral top-N (Spark 4 DataFrame.lateralJoin): for "
    "each nation, the 3 highest-balance customers via a correlated "
    "subquery referencing the outer row (col().outer()).  Catalyst "
    "DECORRELATES the lateral limit into WindowGroupLimit + one "
    "broadcast hash join (verified in .explain) — the per-outer-row "
    "re-execution a naive lateral implies never happens, so the plan "
    "is the same rank-filter shape topk_per_group builds by hand; "
    "ordering is total (acctbal DESC, custkey) so the top-3 set is "
    "deterministic under ties.",
)
def lateral_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = load_table(spark, sf_dir, "customer")
    sub = (
        c.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(3)
        .select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    )
    return n.lateralJoin(sub).select("n_name", "c_custkey", "acctbal")


# ---------------------------------------------------------------------------
# Metric-matrix transpose (Spark 4 DataFrame.transpose)
# ---------------------------------------------------------------------------


@register(
    "transpose_segment_stats",
    oracle="""
    WITH agg AS (
      SELECT c_mktsegment AS seg,
             CAST(count(*) AS DOUBLE) AS n_customers,
             round(avg(c_acctbal), 2) AS avg_bal,
             round(max(c_acctbal), 2) AS max_bal
      FROM customer
      WHERE c_mktsegment IN
        ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
      GROUP BY c_mktsegment
    )
    SELECT 'n_customers' AS key,
           max(CASE WHEN seg='AUTOMOBILE' THEN n_customers END) AS "AUTOMOBILE",
           max(CASE WHEN seg='BUILDING'   THEN n_customers END) AS "BUILDING",
           max(CASE WHEN seg='FURNITURE'  THEN n_customers END) AS "FURNITURE",
           max(CASE WHEN seg='HOUSEHOLD'  THEN n_customers END) AS "HOUSEHOLD",
           max(CASE WHEN seg='MACHINERY'  THEN n_customers END) AS "MACHINERY"
    FROM agg
    UNION ALL
    SELECT 'avg_bal',
           max(CASE WHEN seg='AUTOMOBILE' THEN avg_bal END),
           max(CASE WHEN seg='BUILDING'   THEN avg_bal END),
           max(CASE WHEN seg='FURNITURE'  THEN avg_bal END),
           max(CASE WHEN seg='HOUSEHOLD'  THEN avg_bal END),
           max(CASE WHEN seg='MACHINERY'  THEN avg_bal END)
    FROM agg
    UNION ALL
    SELECT 'max_bal',
           max(CASE WHEN seg='AUTOMOBILE' THEN max_bal END),
           max(CASE WHEN seg='BUILDING'   THEN max_bal END),
           max(CASE WHEN seg='FURNITURE'  THEN max_bal END),
           max(CASE WHEN seg='HOUSEHOLD'  THEN max_bal END),
           max(CASE WHEN seg='MACHINERY'  THEN max_bal END)
    FROM agg
    """,
    tags=("B8", "B2"),
    doc="Metric-matrix transpose (Spark 4 DataFrame.transpose): the "
    "per-segment stats table flipped so metrics are rows and the 5 "
    "segments are columns — the report-facing orientation.  "
    "transpose() is a DRIVER-SIDE pivot of an already-aggregated "
    "frame: correct usage is strictly post-aggregation on a "
    "cardinality-bounded result (5 segments here; never a raw "
    "table), which is why the aggregate runs first and the "
    "transpose sees 5 rows regardless of SF.  All metrics are cast "
    "to DOUBLE before transposing so the value columns share one "
    "type, and the segment domain is EXPLICITLY pinned to the "
    "closed 5-value enum: transpose turns DATA into COLUMN NAMES, "
    "so an open domain makes the output schema data-dependent — a "
    "planted lowercase/padded/NULL segment would mint new columns "
    "(the dirty-catalog divergence, SCALE.md §16).  Unknown "
    "segments are excluded by the IN filter on both sides, and the "
    "aggregate LEFT-joins onto a literal 5-row segment SPINE so an "
    "ABSENT segment still yields its (NULL-valued) column — "
    "presence-dependent schemas are the second half of the closed-"
    "domain contract (found by the catalog property fuzz: a corpus "
    "missing a segment dropped that column entirely).",
)
def transpose_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin(_SEGMENTS)
    )
    agg = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("double").alias("n_customers"),
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )
    spine = spark.range(1).select(
        F.explode(F.array(*[F.lit(s) for s in _SEGMENTS])).alias("seg")
    )
    return spine.join(agg, "seg", "left").orderBy("seg").transpose()


# ---------------------------------------------------------------------------
# Pareto-frontier (skyline) document curation
# ---------------------------------------------------------------------------


@register(
    "pareto_frontier_docs",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split(lower(coalesce(text,'')), ' ')) AS INT)
               AS n_tok,
             CAST(len(list_distinct(string_split(lower(coalesce(text,'')), ' ')))
               AS DOUBLE)
               / len(string_split(lower(coalesce(text,'')), ' ')) AS ratio
      FROM documents WHERE length(trim(coalesce(text,''))) > 0
    )
    SELECT m.doc_id, m.n_tok, round(m.ratio, 6) AS ratio
    FROM m
    WHERE NOT EXISTS (
      SELECT 1 FROM m o
      WHERE o.n_tok >= m.n_tok AND o.ratio >= m.ratio
        AND (o.n_tok > m.n_tok OR o.ratio > m.ratio)
    )
    """,
    tags=("B24", "B20", "B11"),
    doc="Pareto-frontier (skyline) curation filter: documents not "
    "strictly dominated on (token count, lexical-diversity ratio) — "
    "the length-vs-diversity tradeoff curve a data-mixing pass "
    "samples from.  Spark side is api.skyline_2d's O(n log n) "
    "formulation: one (n_tok, max ratio) row per distinct length, "
    "then one ROWS window for the best ratio among strictly longer "
    "lengths, never a self-join; the oracle is the "
    "independent brute-force NOT-EXISTS dominance definition, so "
    "the window algebra is verified against the textbook semantics "
    "rather than against itself.  Ties share the frontier (non-"
    "strict dominance keeps all equal-metric docs).  Null/blank "
    "text is excluded by the dirty-corpus contract filter "
    "(SCALE.md §13).  The per-length frame is metric-resolution-"
    "bounded, far below corpus size at 100 TB; the bounded single-"
    "partition window is the documented bounded_window choice.",
)
def pareto_frontier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    toks = F.split(F.lower(t), " ")
    m = docs.where(F.length(F.trim(t)) > 0).select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tok"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "ratio"
        ),
    )
    return api.skyline_2d(m, "n_tok", "ratio").select(
        "doc_id", "n_tok", F.round("ratio", 6).alias("ratio")
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record-linkage scoring
# ---------------------------------------------------------------------------

import math as _math

# Classic (m, u) conditional-agreement probabilities per compared
# field: m = P(agree | same entity), u = P(agree | different entity).
# The log-likelihood weights are computed ONCE in Python and embedded
# as identical double literals in BOTH engines, so no transcendental
# is evaluated engine-side (strict-audit rule).
_FS_FIELDS = {
    # field: (m, u)
    "name": (0.90, 0.10),
    "brand": (0.85, 0.04),
    "type": (0.80, 0.025),
    "size": (0.75, 0.02),
}
_FS_W = {
    f: (_math.log(m / u), _math.log((1 - m) / (1 - u)))
    for f, (m, u) in _FS_FIELDS.items()
}
_FS_LINK = 4.0  # total weight >= 4 -> link
# total weight in [0, 4) -> possible; < 0 pairs are dropped


@register(
    "fellegi_sunter_linkage",
    oracle=f"""
    WITH rec AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
    ),
    win AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_size,
             {", ".join(
                 f"lead({c}, {k}) OVER w AS {c}_{k}"
                 for k in (1, 2, 3)
                 for c in ("p_partkey", "p_name", "p_brand",
                           "p_type", "p_size")
             )}
      FROM rec
      WINDOW w AS (PARTITION BY string_split(p_name, ' ')[1]
                   ORDER BY p_name NULLS FIRST, p_partkey NULLS FIRST)
    ),
    cand AS (
      {" UNION ALL ".join(
          f"SELECT p_partkey AS key_a, p_name AS name_a, p_brand AS brand_a,"
          f" p_type AS type_a, p_size AS size_a,"
          f" p_partkey_{k} AS key_b, p_name_{k} AS name_b,"
          f" p_brand_{k} AS brand_b, p_type_{k} AS type_b,"
          f" p_size_{k} AS size_b"
          f" FROM win WHERE p_partkey_{k} IS NOT NULL"
          for k in (1, 2, 3)
      )}
    ),
    scored AS (
      SELECT key_a, key_b,
        CASE WHEN CAST(len(list_intersect(string_split(name_a, ' '),
                                          string_split(name_b, ' ')))
                  AS DOUBLE)
                  / len(list_distinct(list_concat(string_split(name_a, ' '),
                                                  string_split(name_b, ' '))))
                  >= 1.0/3.0
             THEN 1 ELSE 0 END AS agree_name,
        CASE WHEN brand_a = brand_b THEN 1 ELSE 0 END AS agree_brand,
        CASE WHEN type_a = type_b THEN 1 ELSE 0 END AS agree_type,
        CASE WHEN size_a = size_b THEN 1 ELSE 0 END AS agree_size
      FROM cand
    ),
    weighted AS (
      SELECT key_a, key_b, agree_name, agree_brand, agree_type,
             agree_size,
             (CASE WHEN agree_name = 1 THEN {_FS_W["name"][0]!r}
                   ELSE {_FS_W["name"][1]!r} END
              + CASE WHEN agree_brand = 1 THEN {_FS_W["brand"][0]!r}
                     ELSE {_FS_W["brand"][1]!r} END
              + CASE WHEN agree_type = 1 THEN {_FS_W["type"][0]!r}
                     ELSE {_FS_W["type"][1]!r} END
              + CASE WHEN agree_size = 1 THEN {_FS_W["size"][0]!r}
                     ELSE {_FS_W["size"][1]!r} END) AS w
      FROM scored
    )
    SELECT key_a, key_b, agree_name, agree_brand, agree_type,
           agree_size, round(w, 6) AS weight,
           CASE WHEN w >= {_FS_LINK!r} THEN 'link' ELSE 'possible' END
               AS verdict
    FROM weighted WHERE w >= 0
    """,
    tags=("B13", "B24", "B19"),
    doc="Fellegi-Sunter probabilistic record linkage (Fellegi & "
    "Sunter 1969) — the SCORING layer over the candidate-generation "
    "family (FastSS / SNM / LSH): sorted-neighborhood candidates "
    "(one window pass, w=3 lead structs per record) are compared "
    "field-by-field (name token-Jaccard, brand/type/size "
    "equality), each agreement contributes ln(m/u) and each "
    "disagreement ln((1-m)/(1-u)) with classic (m,u) priors, and the "
    "summed log-likelihood classifies link / possible (sub-zero "
    "pairs drop).  The log weights are computed once in Python and "
    "embedded as IDENTICAL double literals in both engines — no "
    "transcendental evaluated engine-side.  NULL fields disagree "
    "(never agree-by-NULL); window order pins NULLS FIRST on both "
    "sides.  Scale shape: the catalog is vocabulary-sized, one sort "
    "within first-token blocks, w comparisons per record, weights "
    "fold per-row in codegen — no pair space beyond the SNM window.",
)
def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    rec = part.select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size"
    )
    w = Window.partitionBy(F.split(F.col("p_name"), " ")[0]).orderBy(
        F.asc_nulls_first("p_name"), F.asc_nulls_first("p_partkey")
    )
    nbr = F.struct("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    win = rec.select(
        "*", *[F.lead(nbr, k).over(w).alias(f"n{k}") for k in (1, 2, 3)]
    )
    cand = win.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_type").alias("type_a"),
        F.col("p_size").alias("size_a"),
        F.explode(F.array("n1", "n2", "n3")).alias("b"),
    ).where(F.col("b.p_partkey").isNotNull())
    ta = F.split(F.col("name_a"), " ")
    tb = F.split(F.col("b.p_name"), " ")
    jac = F.size(F.array_intersect(ta, tb)).cast("double") / F.size(
        F.array_union(ta, tb)
    )
    agrees = {
        "agree_name": jac >= 1.0 / 3.0,
        "agree_brand": F.col("brand_a") == F.col("b.p_brand"),
        "agree_type": F.col("type_a") == F.col("b.p_type"),
        "agree_size": F.col("size_a") == F.col("b.p_size"),
    }
    scored = cand.select(
        "key_a",
        F.col("b.p_partkey").alias("key_b"),
        *[
            F.when(c, 1).otherwise(0).alias(name)
            for name, c in agrees.items()
        ],
    )
    weight = None
    for f in _FS_FIELDS:
        term = F.when(
            F.col(f"agree_{f}") == 1, F.lit(_FS_W[f][0])
        ).otherwise(F.lit(_FS_W[f][1]))
        weight = term if weight is None else weight + term
    return (
        scored.withColumn("w", weight)
        .where(F.col("w") >= 0)
        .select(
            "key_a",
            "key_b",
            "agree_name",
            "agree_brand",
            "agree_type",
            "agree_size",
            F.round("w", 6).alias("weight"),
            F.when(F.col("w") >= _FS_LINK, "link")
            .otherwise("possible")
            .alias("verdict"),
        )
    )
