"""Python UDF surface (SURVEY.md §2 B23): vectorized pandas UDFs,
grouped-map applyInPandas, and cogrouped applyInPandas.

Rule: UDFs are the slow path — every query here exists to prove the
*mechanism* (Arrow batching, grouped semantics) and each one is
oracle-checked against a pure-SQL equivalent, demonstrating that the
UDF path computes exactly what the declarative path would.  In the
real engine you'd only reach for these when built-ins can't express
the logic (multimodal decode, model scoring).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from scache_spark.catalog import load_table
from scache_spark.registry import register


# ---------------------------------------------------------------------------
# scalar pandas UDF
# ---------------------------------------------------------------------------


def _make_charge_udf():
    # built lazily: pandas_udf resolves its return type against the
    # active SparkSession, so decorating at import time fails
    @pandas_udf("double")
    def _charge_udf(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        """Vectorized: whole Arrow batches, numpy arithmetic — never
        row-at-a-time Python."""
        return price * (1.0 - disc) * (1.0 + tax)

    return _charge_udf


@register(
    "udf_scalar_pandas",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS total_charge,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("B23",),
    doc="Scalar pandas UDF (Arrow-vectorized) computing the TPC-H "
    "charge expression; oracle is the pure-SQL equivalent — proving "
    "the UDF path is numerically identical to the declarative path.",
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    charge_udf = _make_charge_udf()
    return (
        li.withColumn(
            "charge", charge_udf("l_extendedprice", "l_discount", "l_tax")
        )
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("charge"), 2).alias("total_charge"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# grouped-map applyInPandas
# ---------------------------------------------------------------------------


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group standardization — the grouped-map shape (whole group
    as one pandas frame; group must fit in executor memory, so the
    grouping key must be bounded at 100 TB — here: 5 priorities)."""
    mu = pdf["o_totalprice"].mean()
    sd = pdf["o_totalprice"].std(ddof=1)
    out = pdf[["o_orderkey", "o_orderpriority"]].copy()
    # round(6): pandas pairwise summation vs DuckDB's sequential moment
    # accumulation differ at ~1e-12 relative — both sides round.
    out["z"] = ((pdf["o_totalprice"] - mu) / sd).round(6)
    return out


@register(
    "udf_grouped_zscore",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           round((o_totalprice - avg(o_totalprice) OVER w)
             / stddev_samp(o_totalprice) OVER w, 6) AS z
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority)
    """,
    tags=("B23", "B11"),
    doc="applyInPandas grouped-map per-priority z-scores; oracle is the "
    "window-function equivalent.  (At scale prefer the window form — "
    "it streams; grouped-map materializes each group.)",
)
def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").applyInPandas(
        _zscore_group, "o_orderkey long, o_orderpriority string, z double"
    )


# ---------------------------------------------------------------------------
# cogrouped applyInPandas
# ---------------------------------------------------------------------------


def _merge_ratio(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Cogroup shape: both sides of one key as pandas frames."""
    n_orders = len(left)
    n_lines = len(right)
    # round(2): pandas sums pairwise, DuckDB sequentially — ulp noise
    total = round(float(right["l_quantity"].sum()), 2) if n_lines else 0.0
    key = (
        left["o_custkey"].iloc[0]
        if n_orders
        else (right["cust_of_line"].iloc[0] if n_lines else None)
    )
    return pd.DataFrame(
        {
            "o_custkey": [key],
            "n_orders": [n_orders],
            "n_lines": [n_lines],
            "total_qty": [total],
        }
    )


@register(
    "udf_cogrouped_stats",
    oracle="""
    WITH ol AS (
      SELECT o_custkey, o_orderkey FROM orders
    ),
    li AS (
      SELECT o_custkey AS cust_of_line, l_quantity
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT coalesce(o.o_custkey, l.cust_of_line) AS o_custkey,
           CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
           CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
           coalesce(total_qty, 0.0) AS total_qty
    FROM (SELECT o_custkey, count(*) AS n_orders FROM ol GROUP BY 1) o
    FULL OUTER JOIN (SELECT cust_of_line, count(*) AS n_lines,
                            round(sum(l_quantity), 2) AS total_qty
                     FROM li GROUP BY 1) l
      ON o.o_custkey = l.cust_of_line
    """,
    tags=("B23",),
    doc="Cogrouped applyInPandas over (orders, lineitems) per customer; "
    "oracle is the equivalent full-outer aggregate join.",
)
def udf_cogrouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("cust_of_line"), "l_quantity")
    )
    return (
        o.groupBy("o_custkey")
        .cogroup(li.groupBy("cust_of_line"))
        .applyInPandas(
            _merge_ratio,
            "o_custkey long, n_orders long, n_lines long, total_qty double",
        )
    )


# ---------------------------------------------------------------------------
# Python UDTF (table function) — the one-row-to-many UDF shape
# ---------------------------------------------------------------------------

_CHUNK_LEN = 25  # tokens per chunk
_CHUNK_STRIDE = 20  # tokens between chunk starts (5-token overlap)


@register(
    "udtf_chunk_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t,
             len(string_split(coalesce(text, ''), ' ')) AS n
      FROM documents
    ),
    spans AS (
      SELECT doc_id, n,
             unnest(range(0, CASE WHEN n <= {_CHUNK_LEN} THEN 1
                     ELSE 1 + CAST(ceil((n - {_CHUNK_LEN}) / {_CHUNK_STRIDE}.0)
                                   AS INT) END)) AS chunk_idx
      FROM toks
    )
    SELECT s.doc_id, CAST(s.chunk_idx AS INT) AS chunk_idx,
           CAST(least({_CHUNK_LEN}, s.n - {_CHUNK_STRIDE} * s.chunk_idx) AS INT)
               AS n_tokens,
           t.t[{_CHUNK_STRIDE} * s.chunk_idx + 1] AS first_token
    FROM spans s JOIN toks t ON s.doc_id = t.doc_id
    """,
    tags=("B23", "B24"),
    doc="Python UDTF (Spark 4 table function): LATERAL-expands each "
    f"document into overlapping {_CHUNK_LEN}-token chunk spans with "
    f"stride {_CHUNK_STRIDE} — the one-row-to-many UDF shape that "
    "completes the B23 surface (scalar pandas / grouped / cogrouped / "
    "mapInPandas / applyInPandasWithState / UDTF).  The UDTF runs "
    "row-parallel inside the scan stage (no shuffle); the oracle "
    "replays the identical span arithmetic with a range() expansion.  "
    "The RAG/embedding chunking pass, as an engine primitive.",
)
def udtf_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_tokens int, first_token string")
    class ChunkSpans:
        def eval(self, text: str):
            # null-safe (r6 dirty contract): NULL text chunks as the
            # empty doc — matching the oracle's coalesce(text, '')
            toks = (text or "").split(" ")
            n = len(toks)
            s = 0
            idx = 0
            while True:
                span = toks[s : s + _CHUNK_LEN]
                yield (idx, len(span), span[0])
                if s + _CHUNK_LEN >= n:
                    break
                s += _CHUNK_STRIDE
                idx += 1

    spark.udtf.register("chunk_spans", ChunkSpans)
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.n_tokens, c.first_token "
        "FROM {docs} d, LATERAL chunk_spans(d.text) c",
        docs=load_table(spark, sf_dir, "documents"),
    )


# ---------------------------------------------------------------------------
# Arrow-optimized Python UDF (Spark 4 useArrow path)
# ---------------------------------------------------------------------------


def _make_priority_udf():
    from pyspark.sql.functions import udf

    @udf("string", useArrow=True)
    def _priority_band(priority: str, total: float) -> str:
        """Row-logic too branchy for a comfortable column expression —
        the case for a Python UDF; useArrow=True keeps the transfer
        Arrow-batched (~10x over pickled rows) even though the
        function body is per-row.  NULL in -> NULL out (dirty-orders
        contract): a Python UDF sees None, and None.split() kills the
        worker — every Python UDF must declare its NULL behavior."""
        if priority is None or total is None:
            return None
        tier = priority.split("-")[0].strip()
        if total >= 250_000.0:
            return f"{tier}:jumbo"
        if total >= 100_000.0:
            return f"{tier}:large"
        return f"{tier}:standard"

    return _priority_band


@register(
    "udf_arrow_scalar",
    oracle="""
    SELECT CASE WHEN o_orderpriority IS NULL OR o_totalprice IS NULL
                THEN NULL
                ELSE trim(string_split(o_orderpriority, '-')[1]) ||
                     CASE WHEN o_totalprice >= 250000 THEN ':jumbo'
                          WHEN o_totalprice >= 100000 THEN ':large'
                          ELSE ':standard' END
           END AS band,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
    tags=("B23",),
    doc="Arrow-optimized Python UDF (Spark 4 useArrow=True): per-row "
    "Python logic with Arrow-batched transfer — the middle tier "
    "between row-pickled UDFs (never acceptable in a hot path) and "
    "fully vectorized pandas UDFs; the oracle restates the branchy "
    "banding in SQL, proving path equivalence.",
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    band_udf = _make_priority_udf()
    return (
        o.withColumn(
            "band", band_udf(F.col("o_orderpriority"), F.col("o_totalprice"))
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# mapInArrow: the zero-copy batch surface (no pandas materialization)
# ---------------------------------------------------------------------------


def _arrow_token_stats(batches):
    """Pure-pyarrow per-batch transform: token counts from Arrow
    string kernels — the RecordBatch never becomes pandas objects, so
    a 100 TB text column streams through C++ compute with zero
    Python-object churn (the difference from mapInPandas, which
    materializes every string as a PyObject)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        text = batch.column("text")
        # single-space token count == len(string_split(text, ' ')):
        # occurrences + 1, empties included — integer-exact in both
        # engines (no whitespace-class ambiguity)
        n_tokens = pc.add(pc.count_substring(text, " "), 1)
        yield pa.RecordBatch.from_arrays(
            [batch.column("source"), pc.cast(n_tokens, pa.int64())],
            ["source", "n_tokens"],
        )


@register(
    "arrow_token_stats",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS total_tokens,
           CAST(max(len(string_split(text, ' '))) AS BIGINT)
               AS max_tokens
    FROM documents WHERE text IS NOT NULL
    GROUP BY source
    """,
    tags=("B23", "B24"),
    doc="mapInArrow token statistics — the LAST tier of the UDF "
    "surface matrix (row-pickled < Arrow-batched scalar < pandas "
    "vectorized < pure-Arrow batches): the text column flows through "
    "pyarrow's C++ string kernels (count_substring) without ever "
    "materializing a Python or pandas object, which is the right "
    "shape for per-row transforms over 100 TB payload columns.  "
    "Token count = single-space occurrences + 1, exactly "
    "len(string_split(text, ' ')) — integer-exact, no whitespace-"
    "class ambiguity.  DIRTY CONTRACT: NULL text is excluded on "
    "both sides (count_substring(NULL) is NULL, not a crash).  The "
    "per-batch output is (source, n_tokens) only — the text never "
    "crosses the post-UDF shuffle, which carries one small row per "
    "doc into the per-source aggregate.",
)
def arrow_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", "text")
    )
    counted = docs.mapInArrow(
        _arrow_token_stats, "source string, n_tokens long"
    )
    return counted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )
