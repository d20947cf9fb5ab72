"""User-facing composable API: the engine's algorithms, parameterized
over ARBITRARY DataFrames.

This module holds the one implementation of each algorithm that both
an application and the registry (`registry.py`) use.  The registry's
queries for these algorithms are fixture wrappers: they load the
fixture tables, call the function here and project/rename the result
for their DuckDB oracle.  The plans are the scale-first ones
(one-read window verdicts for dedup, capped banded LSH joins, broadcast
codebooks, union+window as-of joins), and each function returns a
DataFrame: callers compose them and let Catalyst optimize across the
seams.  Dependencies point one way, ``operators/* -> api ->
functions``; nothing here imports an operator module.

Algorithm constants (shingle width, minhash bands, BM25 k1/b, sketch
shape, bucket counts) are fixed module constants, because the
registry's oracles replicate them in SQL.

Determinism contract matches the registry: md5-derived hashing only,
every ranking totally ordered, no unseeded randomness anywhere.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scache_spark.functions import (
    bound,
    bounded_window,
    cosine_defined,
    hash64,
    salted_md5,
    tokens,
    vec_cosine,
    vec_dot,
    vec_l2sq,
    vec_norm,
    word_shingles,
)

__all__ = [
    "exact_dedup",
    "minhash_pairs",
    "lsh_cosine_bucket",
    "knn_topk",
    "sessionize",
    "asof_join",
    "windowed_pair_join",
    "quality_signals",
    "top_k_per_group",
    "shard_assign",
    "train_val_test_split",
    "bm25_score",
    "semantic_dedup",
    "span_dedup_rewrite",
    "dsir_score",
    "perplexity_buckets",
    "cms_increments",
    "cms_sketch",
    "cms_estimate",
    "edit_distance_pairs",
    "skyline_2d",
    "auc_rank",
]

SHINGLE_N = 3  # words per minhash shingle
N_MINHASH = 8  # minhash permutations
N_BANDS = 4  # LSH bands of 2 rows each
BAND_CAP = 8  # max docs per (band_id, band_hash) bucket before demotion
BM25_K1 = 1.2
BM25_B = 0.75
SEG_N = 5  # tokens per (non-overlapping) rewrite span
DSIR_BUCKETS = 256  # hashed-unigram feature buckets
PPL_BINS = 512  # fine equal-width bins feeding the tertile map
# 3 md5-derived hash rows x 256 counters = 768 cells total, independent
# of stream size: eps ~ e/256 ~ 1% of the stream length as the
# worst-case overcount at delta ~ e^-3.
CMS_ROWS = 3
CMS_WIDTH = 256


def _hash_rep(content: Column, id_col: str) -> Column:
    """The min ``id_col`` among the rows sharing ``md5(content)``: one
    window partitioned by the hash, so the input is read once.  NULL
    content hashes to NULL, and the NULL rows form one group."""
    return F.min(id_col).over(Window.partitionBy(F.md5(content)))


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one survivor (min id) per exact content hash.

    Scale shape: one hash-partitioned window over the frame — the
    input is read once and the survivors need no join back.  NULL
    content is one group (its min id survives), and empty text is a
    group of its own.  A NULL id never survives; rows that share the
    min id all survive.  The aggregate reports that count copies
    (``dedup_exact_hash``, ``pipeline.dedup_materialize``) stay
    separate registry queries; ``leakage_safe_split`` takes its
    cluster representative from the same ``_hash_rep``.
    """
    return (
        df.withColumn("__keep", _hash_rep(F.col(content_col), id_col))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__keep")
    )


def _signature_cols() -> list:
    """minhash_i = min over shingles of md5('i:' || shingle), over a
    frame with an ``sh`` shingle-array column."""
    return [
        F.array_min(F.transform(F.col("sh"), lambda s: salted_md5(s, i))).alias(
            f"sig_{i}"
        )
        for i in range(N_MINHASH)
    ]


def _band_cols() -> list:
    """band_j = md5(sig_{2j} || sig_{2j+1}) — 2 rows per band."""
    return [
        F.md5(F.concat(F.col(f"sig_{2 * j}"), F.col(f"sig_{2 * j + 1}"))).alias(
            f"band_{j}"
        )
        for j in range(N_BANDS)
    ]


def _band_melt(sh: DataFrame) -> DataFrame:
    """The LEAN melt of a ``(doc_id, sh)`` shingle frame: one
    ``(doc_id, band_id, band_hash)`` row per document and LSH band —
    no shingle payload."""
    return sh.select("doc_id", *_signature_cols()).select(
        "doc_id", F.posexplode(F.array(*_band_cols())).alias("band_id", "band_hash")
    )


def _band_pairs(melted: DataFrame) -> DataFrame:
    """Distinct ``(doc_a, doc_b)`` candidates (doc_a < doc_b) sharing a
    band bucket of a ``_band_melt`` frame: the banded self-join."""
    a = melted.select(F.col("doc_id").alias("doc_a"), "band_id", "band_hash")
    b = melted.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band_id").alias("band_id_b"),
        F.col("band_hash").alias("band_hash_b"),
    )
    return (
        a.join(
            b,
            (F.col("band_id") == F.col("band_id_b"))
            & (F.col("band_hash") == F.col("band_hash_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def _capped_candidate_pairs(sh: DataFrame) -> DataFrame:
    """Given a (materialized) ``(doc_id, sh)`` shingle frame, return the
    ``_band_pairs`` candidates that survive BAND_CAP demotion: buckets
    holding more than BAND_CAP docs are dropped BEFORE any pair
    materializes (a k-member bucket contributes k² candidates, so one
    boilerplate band can dominate the job — SCALE.md §12 measured a
    30,150-doc bucket).  Demoted content still pairs through its
    OTHER bands.  The melt is checkpointed once and feeds the cap
    count plus both self-join sides."""
    melted = _band_melt(sh).localCheckpoint(eager=True)
    keep = (
        melted.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= BAND_CAP)
        .select("band_id", "band_hash")
    )
    return _band_pairs(melted.join(keep, ["band_id", "band_hash"]))


def _verified_pairs(sh: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """``(doc_a, doc_b, jaccard)``: the ``(doc_a, doc_b)`` candidates
    whose exact Jaccard over the ``(doc_id, sh)`` shingle sets reaches
    ``threshold`` — shingles travel into the pair space only for
    candidates."""
    verified = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a"
    ).join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return verified.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_pairs(
    df: DataFrame, id_col: str, text_col: str, *, threshold: float = 0.5
) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, jaccard) via MinHash banding
    over distinct SHINGLE_N-word shingles of the lowercased text
    (N_MINHASH permutations, N_BANDS bands).

    The capped banded self-join bounds the candidate space (never
    all-pairs, and no hot bucket above BAND_CAP members); exact
    Jaccard verifies candidates only.  A document below the shingle
    width — NULL and empty text included — has no shingles and never
    pairs.  Two materializations: the
    shingle frame (feeds the minhash AND the two verification joins)
    and the lean band melt; shingles travel into the pair space only
    for surviving candidates.
    """
    toks = tokens(F.col(text_col))
    # The predicate is on TOKEN COUNT, before the shingle projection —
    # filtering on size(sh) AFTER it lets Catalyst push the filter
    # through the project and compute word_shingles twice.
    # len(tokens) >= SHINGLE_N <=> len(sh) >= 1.
    sh = (
        df.filter(F.size(toks) >= SHINGLE_N)
        .select(
            F.col(id_col).alias("doc_id"),
            word_shingles(toks, SHINGLE_N).alias("sh"),
        )
        .localCheckpoint(eager=True)
    )
    return _verified_pairs(sh, _capped_candidate_pairs(sh), threshold).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"), "jaccard"
    )


def lsh_cosine_bucket(
    vec: Column, *, dim: int, n_planes: int = 8
) -> Column:
    """Hyperplane-LSH bucket id of an array<float/double> column:
    sign bits of ``n_planes`` deterministic planes, plane ``p``'s
    weight at element ``j`` being ``sin(p*131 + j*7)`` — the
    partition key that turns ANN into a ~1/2^p partition read.  The
    registry's LSH queries call it with the fixture's dimension.

    A bit is set only for a dot product > 0, so a NULL vector, an
    all-zero vector, and a real vector whose every plane dot is <= 0
    all land in bucket 0; a NULL element makes its dots NULL, which
    also clears their bits.  Cosine callers filter with
    ``functions.cosine_defined`` first."""
    def _plane_term(p: int):
        # a one-parameter lambda: pyspark treats two-parameter lambdas
        # as (element, index) functions, so p must close over, not
        # default-arg
        return lambda j: F.element_at(vec, j).cast("double") * F.sin(
            F.lit(float(p * 131)) + j.cast("double") * 7.0
        )

    bucket = None
    for p in range(n_planes):
        dot = F.aggregate(
            F.transform(F.sequence(F.lit(1), F.lit(dim)), _plane_term(p)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def knn_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k neighbors per query (queries broadcast,
    corpus scanned once for ALL queries; ranking is totally ordered
    by (cosine desc, neighbor id)).

    Vectors without a defined cosine — NULL, a NULL/NaN/infinite
    element, or zero norm — are excluded on both sides
    (``functions.cosine_defined``, the contract ``knn_batch_topk``
    gets from ``cosine_ready``); a corpus row with a NULL id never
    ranks.  ``knn_batch_topk`` stays a separate registry query
    because it blocks candidates by label."""
    q = queries.where(cosine_defined(F.col(vec_col))).select(
        F.col(query_id_col).alias("q_id"), F.col(vec_col).alias("__qv")
    )
    scored = corpus.where(cosine_defined(F.col(vec_col))).join(
        F.broadcast(q), F.col(id_col) != F.col("q_id")
    ).select(
        "q_id",
        F.col(id_col).alias("neighbor_id"),
        vec_cosine(F.col(vec_col), F.col("__qv")).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def sessionize(
    df: DataFrame,
    *,
    user_col: str,
    ts_col: str,
    gap: str = "10 minutes",
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign batch session ids: a new session starts when the gap to
    the previous event meets/exceeds ``gap``.  Adds ``session_id``
    (per-user dense from 1).  One shuffle on the user key serves the
    lag and the running sum; ``temporal.funnel_session_conversion``
    is a fixture wrapper over it.

    Pass ``order_cols`` (e.g. an event id) whenever ``ts_col`` can
    tie: the computation runs two window passes, and over a
    NON-unique sort key the session assignment of tied rows is
    underdetermined — an engine may re-sort ties differently between
    passes (r5 scale-stress finding; fixtures with unique timestamps
    never expose it).

    The rows with a NULL user key are one user.  A NULL timestamp
    sorts first and opens a session of its own, and so does the row
    after it; filter NULL timestamps out first when that is not
    wanted (the registry's funnel does)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, *order_cols)
    prev = F.lag(ts_col).over(w)
    new_sess = (
        prev.isNull()
        | (F.col(ts_col) >= prev + F.expr(f"INTERVAL {gap}"))
    ).cast("int")
    return df.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: tuple[str, ...] = (),
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts`` STRICTLY before ``left_ts`` (per ``on`` key) — the
    union+window plan (ONE shuffle on the key), never an inequality
    join that degenerates to a nested loop.  Tie discipline (r2
    advisor finding): the left row is tagged ``__side=0`` and right
    ``1``, so on equal timestamps the left row sorts FIRST and the
    frame-ending-at-(-1) window cannot carry a simultaneous right row
    — exactly the documented strictly-before contract.
    ``temporal.asof_join_last_click`` stays a separate body because
    its tie contract is the opposite: it orders ``'click' <
    'purchase'`` and so carries a click at the purchase's own
    timestamp (at-or-before).
    Right columns arrive as ``asof_<name>``; left rows with no prior
    right row get nulls.  A NULL key is one partition like any
    other; a NULL timestamp sorts first, so a NULL-time left row
    carries nothing, and a NULL-time right row is carried (with a
    NULL ``asof_ts``) only until a timed right row replaces it."""
    lt = left.withColumn("__side", F.lit(0))
    rt = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in right_cols],
    )
    lt = lt.withColumn("__ts", F.col(left_ts))
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = unioned.select(
        "*",
        F.max(
            F.when(F.col("__side") == 1, F.col("__ts"))
        ).over(w).alias("asof_ts"),
        *[
            F.last(
                F.when(F.col("__side") == 1, F.col(c)), ignorenulls=True
            ).over(w).alias(f"asof_{c}")
            for c in right_cols
        ],
    )
    drop = ["__side", "__ts", *right_cols]
    return carried.filter(F.col("__side") == 0).drop(*drop)


def windowed_pair_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    window: str = "30 minutes",
) -> DataFrame:
    """All (left, right) pairs sharing ``on`` with ``right_ts`` in
    ``[left_ts - window, left_ts]`` — the safe shape for
    pair-GENERATING trailing-window joins (attribution touchpoints,
    co-session pairs, fraud lookbacks).

    Joining on ``on`` alone with the time window as a residual filter
    is quadratic WITHIN the key: one whale user makes purchases x
    clicks explode before the filter runs (measured 78s -> 10s on the
    r5 hot-key stress replica, `attribution_linear_split`).  Here the
    equi-key is ``(on, time_bucket)`` with bucket width = the window,
    so a qualifying right row sits in the left row's bucket or the
    one before it: the left side explodes to exactly TWO bucket
    probes, each pair matches exactly one arm (no dedup needed), and
    the pair space is bounded by CO-TEMPORAL rows at any per-key
    volume.  Contrast :func:`asof_join` (latest-one-only → union +
    window, no pair generation at all).

    ``window`` must be a fixed interval (the bucket width); both ts
    columns must be timestamps.  Output: all left columns + the
    right columns (caller projects/renames beforehand to avoid
    collisions) — one row per qualifying pair.  A NULL key or a NULL
    timestamp on either side never joins.
    """
    span = F.expr(f"INTERVAL {window}")
    # bucket width in microseconds, derived from the SAME interval
    # expression so the two can never drift apart
    width_us = F.unix_micros(F.to_timestamp(F.lit("1970-01-01")) + span)
    lb = F.floor(F.unix_micros(F.col(left_ts)) / width_us).cast("long")
    lt = left.withColumn("__bkt", F.explode(F.array(lb, lb - 1)))
    rt = right.withColumn(
        "__bkt",
        F.floor(F.unix_micros(F.col(right_ts)) / width_us).cast("long"),
    )
    return (
        lt.join(
            rt,
            (lt[on] == rt[on])
            & (lt["__bkt"] == rt["__bkt"])
            & (F.col(right_ts) >= F.col(left_ts) - span)
            & (F.col(right_ts) <= F.col(left_ts)),
        )
        .drop(rt[on])
        .drop("__bkt")
    )


def quality_signals(df: DataFrame, text_col: str) -> DataFrame:
    """Attach the document-quality signal battery: token count, mean
    token length, punctuation ratio, digit ratio, uppercase ratio —
    all single-pass narrow expressions.  ``text.text_quality_score``
    stays a separate registry query: it scores a different battery
    (non-alpha and stopword ratios into one quality score).

    NULL or empty text gives 0.0 for the four ratios, the guard
    ``text_quality_score`` uses, instead of dividing by zero.  Its
    token count is NULL for NULL text and 1 for empty text (the split
    yields one empty token)."""
    t = F.col(text_col)
    toks = F.split(t, " ")
    n_chars = F.length(t).cast("double")

    def zero_safe(ratio: Column) -> Column:
        return F.when(n_chars > 0, ratio).otherwise(0.0)

    def share(pattern: str) -> Column:
        return zero_safe(F.round(F.length(F.regexp_replace(t, pattern, "")) / n_chars, 6))

    return df.select(
        "*",
        F.size(toks).cast("long").alias("q_tokens"),
        zero_safe(F.round(n_chars / F.size(toks), 4)).alias("q_mean_tok_len"),
        share(r"[^\p{Punct}]").alias("q_punct_ratio"),
        share(r"[^0-9]").alias("q_digit_ratio"),
        share(r"[^A-Z]").alias("q_upper_ratio"),
    )


def top_k_per_group(
    df: DataFrame,
    *,
    group_cols: tuple[str, ...],
    order_cols: tuple[Column, ...],
    k: int,
) -> DataFrame:
    """Totally-ordered top-k per group (window row_number; callers
    must include a unique tie-break in ``order_cols``).  NULL group
    keys form one group; NULL order values sort as their ``Column``
    ordering says (Spark: first ascending, last descending).
    ``relational.topk_per_group`` stays a separate body because it is
    a benchmark query whose plan is held fixed."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def shard_assign(
    df: DataFrame, id_col: str, *, n_shards: int = 16, salt: str = "shard"
) -> DataFrame:
    """Deterministic md5 shard id + dense position within the shard —
    a global random permutation with every shard's ordering computed
    in parallel; ``curation.training_shard_assignment`` is a fixture
    wrapper over it.  A NULL id hashes to NULL (``concat`` with NULL
    is NULL), so NULL-id rows get a NULL shard and are numbered
    within that one NULL group."""
    keyed = df.withColumn(
        "__k",
        hash64(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
    )
    w = Window.partitionBy("shard").orderBy("__k", id_col)
    return (
        keyed.withColumn(
            "shard", F.pmod(F.col("__k"), F.lit(n_shards)).cast("int")
        )
        .withColumn("shard_pos", F.row_number().over(w).cast("long"))
        .drop("__k")
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    *,
    val_pct: int = 10,
    test_pct: int = 10,
    group_col: str | None = None,
    salt: str = "split",
) -> DataFrame:
    """Deterministic hash split into train/val/test.  With
    ``group_col`` (e.g. a duplicate-cluster id) the WHOLE group moves
    as a unit — the leakage-safe posture: near-duplicates can never
    straddle the train/eval boundary.  A NULL key hashes to NULL and
    lands in ``train``.  ``pipeline.leakage_safe_split`` stays a
    separate body because its oracle fixes a different hash (md5 of
    the bare representative id, 80/10/10 by ``% 10``)."""
    key = F.col(group_col) if group_col else F.col(id_col)
    pct = F.pmod(
        hash64(F.concat(F.lit(f"{salt}:"), key.cast("string"))), F.lit(100)
    )
    split = (
        F.when(pct < test_pct, F.lit("test"))
        .when(pct < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def bm25_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str] | Callable[[DataFrame], DataFrame],
    k: int = 20,
) -> DataFrame:
    """BM25 top-k retrieval for one query over an arbitrary corpus
    (k1=BM25_K1, b=BM25_B, Lucene's +1 idf floor so weights stay
    positive).

    ``query_terms`` is a list of terms, or a function from the
    corpus document-frequency frame ``(tok, df)`` to the query's rows
    of it (a query that derives its terms from the corpus itself).
    Returns ``(id_col, bm25)`` for the k best documents.  NULL and
    empty text have no tokens: such a document is never scored and is
    not counted in the corpus size N.

    Plan shape: the corpus tokenizes exactly once into a FLAT
    ``(id, tok, tf, dl)`` table, materialized once — dl attaches via
    an id-partitioned window on the same exchange, so document length
    needs no separate shuffle of the token stream, and no
    large-vocabulary document can materialize an unbounded row.
    Corpus N/avgdl are a broadcast 1-row aggregate; the query terms
    are a broadcast frame that prunes tf map-side, so only query-term
    hits reach the scoring aggregate and per-doc cost is bounded by
    the query length.  Top-k is TakeOrderedAndProject on the ROUNDED
    score (total order, ties by id).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    tf = (
        toks.groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .withColumn("dl", F.sum("tf").over(Window.partitionBy(id_col)))
        .localCheckpoint(eager=True)
    )
    stats = (
        tf.groupBy(id_col)
        .agg(F.first("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    if callable(query_terms):
        q = query_terms(dfreq)
    else:
        q = df.sparkSession.createDataFrame(
            [(t.lower(),) for t in query_terms], "tok string"
        ).join(dfreq, "tok")
    hits = tf.join(F.broadcast(q), "tok")
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    sat = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        hits.crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * sat), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def _nearest_centroid(
    df: DataFrame, vec_col: str, id_col: str, centroids: DataFrame
) -> DataFrame:
    """``(id_col, vec_col, cell, d2)``: each vector's nearest
    ``(cell, centroid)`` by squared L2 distance ``d2``, via a broadcast
    join and a min-struct aggregate.  Distance ties break by cell id —
    struct comparison is field-ordered, so ``min(struct(d2, cell))`` is
    the same total order a windowed row_number would use.

    The aggregate is map-side combinable: each task reduces its K
    candidate rows per vector locally, so the shuffle carries n rows —
    not K·n as the windowed argmin would (the window has no partial
    aggregation).  At 100 TB with K=16 that is a 16× shuffle saving.
    Rows sharing an ``(id, vector)`` collapse to one.
    """
    scored = df.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cell"),
        vec_l2sq(F.col(vec_col), F.col("centroid")).alias("d2"),
    )
    return (
        scored.groupBy(id_col, vec_col)
        .agg(F.min(F.struct("d2", "cell")).alias("best"))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("best.cell").alias("cell"),
            F.col("best.d2").alias("d2"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style near-duplicate detection blocked by nearest
    centroid (``centroids``: (cell, centroid) — e.g. k-means output).
    Returns ``(dup_id, cell, canonical_id, max_cosine)``.

    Each duplicate maps to the MIN surviving id among its >=threshold
    within-cell partners.  Vectors without a defined cosine — NULL,
    a NULL/NaN/infinite element, or zero norm — are excluded
    (``functions.cosine_defined``).  Assignment is
    ``_nearest_centroid``, which the registry's IVF and k-means
    queries share (the corpus never shuffles for it).  The assigned frame feeds both sides of
    the within-cell self-join, so it is materialized once with each
    vector's norm, and each pair then costs one dot product —
    dot/(na*nb) is the same IEEE operations as ``vec_cosine``.
    """
    assigned = (
        _nearest_centroid(df.where(cosine_defined(F.col(vec_col))), vec_col, id_col, centroids)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("cell"),
            vec_norm(F.col(vec_col)).alias("nrm"),
        )
        .localCheckpoint(eager=True)
    )
    a = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("keep_id"),
        F.col(vec_col).alias("_va"),
        F.col("nrm").alias("_na"),
    )
    bb = assigned.select(
        F.col("cell").alias("_cb"),
        F.col(id_col).alias("dup_id"),
        F.col(vec_col).alias("_vb"),
        F.col("nrm").alias("_nb"),
    )
    pairs = (
        a.join(bb, (F.col("cell") == F.col("_cb")) & (F.col("keep_id") < F.col("dup_id")))
        .select(
            "dup_id",
            "cell",
            "keep_id",
            (vec_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))).alias(
                "cos"
            ),
        )
        .filter(F.col("cos") >= threshold)
    )
    return pairs.groupBy("dup_id", "cell").agg(
        F.min("keep_id").alias("canonical_id"), F.round(F.max("cos"), 6).alias("max_cosine")
    )


def _span_segments(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id_col, seg_idx, seg): consecutive non-overlapping SEG_N-token
    spans of the lowercased whitespace token stream (last span may be
    shorter).  Built with sequence+transform+slice over the token array
    bound once per row (``bound``); oracles mirror it with
    range()+list slicing."""
    segs = bound(
        tokens(F.col(text_col)),
        lambda t: F.transform(
            F.sequence(F.lit(1), F.size(t), F.lit(SEG_N)),
            lambda s: F.concat_ws(" ", F.slice(t, s, SEG_N)),
        ),
    )
    return df.select(id_col, F.posexplode(segs).alias("seg_idx", "seg"))


def span_dedup_rewrite(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4-style corpus REWRITE: remove every SEG_N-token span that
    occurs in >= 2 distinct documents from all but the lowest-id
    occurrence, and return (id_col, text_col) with the rewritten
    text (surviving spans rejoined in order).

    A span row survives iff its id is the min id over its span — a
    span found in one document only passes trivially.  Scale shape:
    one explode, one span-partitioned window for that verdict, one
    per-doc ordered reassembly — the input is read and tokenized
    once, and there is no pair space.  The reassembly collects only
    the surviving spans, so a document whose every span was removed
    comes back with empty text instead of vanishing from downstream
    inner joins.  Rows sharing an id collapse to one output row.
    NULL text reads as empty text (one empty span) and comes back as
    ``''``; a NULL id keeps no span and comes back once, as ``''``.
    The oracle-checked ``corpus.dedup_span_rewrite`` takes the same
    verdict and reports it as per-doc accounting.
    """
    seg = _span_segments(
        df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit(""))), id_col, text_col
    )
    keep = F.col(id_col) == F.min(id_col).over(Window.partitionBy("seg"))
    kept = F.collect_list(F.when(F.col("__keep"), F.struct("seg_idx", "seg")))
    return (
        seg.withColumn("__keep", keep)
        .groupBy(id_col)
        .agg(
            F.concat_ws(" ", F.transform(F.array_sort(kept), lambda s: s["seg"])).alias(
                text_col
            )
        )
    )


def dsir_score(
    df: DataFrame, id_col: str, text_col: str, is_target: Column
) -> DataFrame:
    """DSIR importance weight (Xie et al. 2023) of every document
    against the target subset selected by ``is_target``: hashed-unigram
    bucket counts (DSIR_BUCKETS buckets), add-one smoothed, per-doc
    sum over tokens of ln(p_t/p_r).  Returns (id_col, log_weight);
    rank descending and keep the head to importance-resample.  A
    NULL-text document has no tokens and no output row; empty text is
    one empty token and is scored.

    A doc's score is sum over buckets of n_occurrences·logratio, so
    the token stream collapses to per-(doc, bucket) counts FIRST and
    that frame is materialized: the model counts roll up from it and
    the scoring weights it, so the corpus tokenizes and md5-hashes
    exactly once.  The materialized frame is bounded by docs ×
    DSIR_BUCKETS rows — linear in doc count; if executor storage
    pressures at scale, materialize only the bucket-count model.
    Model state is one DSIR_BUCKETS-row broadcast; everything else
    partial-aggregates.  Rounded to 6 decimals (ln differs by ~1 ulp
    between libm and the JVM).
    """
    feat = df.select(
        F.col(id_col),
        is_target.alias("__t"),
        F.explode(tokens(F.col(text_col))).alias("__w"),
    ).select(id_col, "__t", (hash64("__w") % DSIR_BUCKETS).alias("__b"))
    db = (
        feat.groupBy(id_col, "__t", "__b")
        .agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=True)
    )
    counts = db.groupBy("__b").agg(
        F.sum(F.when(F.col("__t"), F.col("__n")).otherwise(0)).alias("__ct"),
        F.sum("__n").alias("__cr"),
    )
    totals = counts.agg(F.sum("__ct").alias("__nt"), F.sum("__cr").alias("__nr"))
    ratios = counts.crossJoin(F.broadcast(totals)).select(
        "__b",
        (
            F.log((F.col("__ct") + 1.0) / (F.col("__nt") + DSIR_BUCKETS))
            - F.log((F.col("__cr") + 1.0) / (F.col("__nr") + DSIR_BUCKETS))
        ).alias("__lr"),
    )
    return (
        db.join(F.broadcast(ratios), "__b")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("__n") * F.col("__lr")), 6).alias("log_weight"))
    )


def perplexity_buckets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): score each
    document's unigram-LM surprisal against the corpus itself and
    assign it to the 'head' / 'middle' / 'tail' third of the
    distribution.  Returns (id_col, <the other columns of df>,
    surprisal, bucket): every column besides ``text_col`` passes
    through, one value per id.  A NULL-text document has no tokens and
    no output row; empty text is one empty token.

    The tertile boundaries need NO global sort: surprisals land in
    PPL_BINS equal-width bins (broadcast min/max), the tiny
    cumulative histogram maps bins to tertiles with integer
    arithmetic, and docs join the bin->bucket map broadcast.  The
    per-doc surprisal frame and the histogram are each materialized
    once: four downstream branches would otherwise recompute the
    tokenize+vocab-join subtree."""
    carry = [c for c in df.columns if c not in (id_col, text_col)]
    toks = df.select(id_col, *carry, F.explode(tokens(F.col(text_col))).alias("__w"))
    vocab = toks.groupBy("__w").agg(F.count(F.lit(1)).cast("long").alias("__nw"))
    total = toks.agg(F.count(F.lit(1)).cast("long").alias("__nt"))
    perdoc = (
        toks.join(F.broadcast(vocab), "__w")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            *[F.any_value(F.col(c)).alias(c) for c in carry],
            F.round(
                F.avg(-F.log(F.col("__nw") * 1.0 / F.col("__nt"))), 6
            ).alias("surprisal"),
        )
        .localCheckpoint(eager=True)
    )
    rng = perdoc.agg(F.min("surprisal").alias("__mn"), F.max("surprisal").alias("__mx"))
    # degenerate distribution guard: with mn == mx a zero bin width
    # divides 0/0 (non-ANSI NULL, collapsed to the last bin => every
    # doc silently 'tail'); the epsilon floor keeps the arithmetic
    # finite, and the __deg flag short-circuits the single-value case
    # to 'head' (a corpus with one quality level IS its own head)
    width = F.greatest(F.col("__mx") - F.col("__mn"), F.lit(1e-12)) / float(PPL_BINS)
    binned = perdoc.crossJoin(F.broadcast(rng)).select(
        id_col,
        *carry,
        "surprisal",
        F.least(
            F.floor((F.col("surprisal") - F.col("__mn")) / width),
            F.lit(PPL_BINS - 1),
        )
        .cast("int")
        .alias("__bin"),
        (F.col("__mx") == F.col("__mn")).alias("__deg"),
    )
    hist = (
        binned.groupBy("__bin")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    cum = hist.select(
        "__bin",
        F.sum("__c")
        .over(
            bounded_window("__bin", "__bin").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("__cum"),
    )
    tot = hist.agg(F.sum("__c").alias("__tot"))
    tert = F.expr("CAST((3 * __cum + __tot - 1) div __tot AS INT)")
    bmap = cum.crossJoin(F.broadcast(tot)).select(
        "__bin",
        F.when(tert == 1, "head").when(tert == 2, "middle").otherwise("tail").alias(
            "bucket"
        ),
    )
    return binned.join(F.broadcast(bmap), "__bin").select(
        id_col,
        *carry,
        "surprisal",
        F.when(F.col("__deg"), "head").otherwise(F.col("bucket")).alias("bucket"),
    )


def _cms_cell(col: Column, row: int) -> Column:
    """60-bit md5 hash of ``row:key`` reduced to a counter index of one
    sketch row (the hash family the registry's oracles replicate)."""
    h = F.conv(
        F.substring(salted_md5(col.cast("string"), row), 1, 15), 16, 10
    ).cast("long")
    return (h % CMS_WIDTH).cast("int")


def cms_increments(key: Column) -> Column:
    """The Count-Min build/probe fan-out as ONE expression: an explode
    of the CMS_ROWS ``(r, cell)`` increment structs of a key column.
    Every sketch site — ``cms_sketch``, ``cms_estimate`` and the
    registry's batch and streaming sketches — uses it, so the
    hash-parity-critical cell derivation lives in one place."""
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(r).alias("r"), _cms_cell(key, r).alias("cell"))
                for r in range(CMS_ROWS)
            ]
        )
    )


def cms_sketch(df: DataFrame, key_col: str) -> DataFrame:
    """Count-Min sketch of a key stream: ``(r, cell, cnt)``.

    Scale shape: the CMS_ROWS increments per occurrence explode
    in-map and the aggregate map-side-combines down to at most
    CMS_ROWS * CMS_WIDTH partials per partition — the shuffle ships
    KB regardless of stream size, and two sketches MERGE by summing
    matching cells (so shards sign independently, as
    ``minhash_merge_property`` shows for signatures).  Worst-case
    overcount is ~e/CMS_WIDTH of the stream length at confidence
    1 - e^-CMS_ROWS (Cormode-Muthukrishnan 2005).  A NULL key hashes
    to a NULL cell, so its count sits in one ``(r, NULL)`` row per
    sketch row, apart from every real cell (``cms_estimate`` reads 0
    for it).
    The registry's ``heavy_hitters_cms`` shares ``cms_increments``
    and ``cms_estimate`` but keeps its own sketch build, a weighted
    one: it sums per-token counts into the cells instead of counting
    occurrences.
    """
    incs = df.select(cms_increments(F.col(key_col)).alias("rc"))
    return incs.groupBy(
        F.col("rc.r").alias("r"), F.col("rc.cell").alias("cell")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(sketch: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """Frequency estimates (``est_cnt`` column appended to ``keys``)
    from a ``(r, cell, cnt)`` Count-Min sketch.

    The sketch is at most CMS_ROWS * CMS_WIDTH cells → BROADCAST; the
    probe is a map-side join + min-over-rows aggregate grouped by
    the key frame's columns.  Estimates are one-sided:
    est_cnt >= true count, always.  Keys absent from the stream may
    still read > 0 (hash collisions) — the CMS contract.  A NULL key
    hashes to NULL cells and reads 0.

    ``keys`` rows are expected DISTINCT over its columns (the final
    groupBy collapses duplicates); the sketch's columns are aliased to
    reserved ``__cms_*`` names before the join, so a keys frame may
    freely carry columns named r / cell / cnt.
    """
    probe_cols = keys.columns
    probes = keys.select(
        *probe_cols, cms_increments(F.col(key_col)).alias("__cms_rc")
    )
    sk = sketch.select(
        F.col("r").alias("__cms_r"),
        F.col("cell").alias("__cms_cell"),
        F.col("cnt").alias("__cms_cnt"),
    )
    return (
        probes.join(
            F.broadcast(sk),
            (F.col("__cms_rc.r") == F.col("__cms_r"))
            & (F.col("__cms_rc.cell") == F.col("__cms_cell")),
            "left",
        )
        .groupBy(*probe_cols)
        .agg(F.min(F.coalesce(F.col("__cms_cnt"), F.lit(0))).alias("est_cnt"))
    )


def edit_distance_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """All pairs within ONE Levenshtein edit, without a
    blocking key and without the O(n²) pair space (FastSS deletion
    neighborhoods; the registry's ``fastss_edit1_pairs`` is a
    fixture wrapper over it).

    Candidate generation is EXACT for distance <= 1: two strings are
    within one edit iff their {self} ∪ {single-character deletions}
    variant sets intersect, so candidates come from an equi-join on
    O(n·L) variant keys (codegen substr/transform — no UDF) and a
    levenshtein verify touches only survivors.  Verify cost scales
    with true-near-match density, not corpus size².  Distances above
    1 are out of scope: k-deletion neighborhoods grow O(L^k) per
    string, a different cost regime (use ``minhash_pairs`` for looser
    similarity).

    Edit distance is defined over UTF-8 BYTES (SCALE.md §16): the
    verify runs on a byte-faithful latin-1 decode of the UTF-8
    encoding, so ASCII pairs behave as expected and an é-for-e
    substitution costs 2 — the locale-free definition engines agree
    on (DuckDB's levenshtein is byte-based; Spark's is code-point-
    based).  Char-deletion candidates remain complete for byte
    distance <= 1: between valid UTF-8 strings, a single-byte edit
    is always a single-ASCII-char edit.

    Returns (id_a, id_b, edit_dist) with id_a < id_b, duplicates
    collapsed.  NULL text never joins (variant key of NULL is NULL).
    """
    s = F.col(text_col)
    dels = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            s.substr(F.lit(1), i - F.lit(1)),
            s.substr(i + F.lit(1), F.length(s)),
        ),
    )
    variants = df.select(
        F.col(id_col).alias("__k"),
        s.alias("__nm"),
        F.explode(F.array_distinct(F.array_append(dels, s))).alias("__v"),
    )
    other = variants.select(
        F.col("__k").alias("__k2"), F.col("__nm").alias("__nm2"), F.col("__v")
    )
    byte_dist = F.levenshtein(
        F.decode(F.encode(F.col("__nm"), "UTF-8"), "ISO-8859-1"),
        F.decode(F.encode(F.col("__nm2"), "UTF-8"), "ISO-8859-1"),
    )
    return (
        variants.join(other, "__v")
        .where(F.col("__k") < F.col("__k2"))
        .select("__k", "__k2", "__nm", "__nm2")
        .distinct()
        .where(byte_dist <= 1)
        .select(
            F.col("__k").alias("id_a"),
            F.col("__k2").alias("id_b"),
            byte_dist.cast("int").alias("edit_dist"),
        )
    )


def skyline_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Rows not strictly dominated when MAXIMIZING both ``x_col`` and
    ``y_col`` — the 2-D Pareto frontier (the registry's
    ``pareto_frontier_docs`` is a fixture wrapper over it).

    O(n log n), never a self-join: fold to one (x, max y) row per
    distinct x, then one ROWS window ordered by x DESC — the running
    max over the 1-PRECEDING frame is the best y among STRICTLY
    larger x (each row is a distinct x, so a ROWS offset is exact for
    any orderable metric type, where a RANGE -1 frame would be wrong
    for non-integer x).  A row is on the frontier iff its y equals
    its x-group's max and beats every larger-x max.  Ties share the
    frontier (equal-metric rows do not dominate each other).  The
    per-x frame is metric-resolution-bounded, far below row count at
    scale; rows with NULL in either metric are excluded (dominance
    is undefined on NULL).
    """
    m = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    per_x = m.groupBy(x_col).agg(F.max(y_col).alias("__ymax"))
    w_gt = (
        Window.partitionBy(F.pmod(F.hash(x_col), F.lit(1)))
        .orderBy(F.col(x_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        per_x.select(
            x_col,
            "__ymax",
            F.max("__ymax").over(w_gt).alias("__best_gt"),
        )
        .where(
            F.col("__best_gt").isNull() | (F.col("__best_gt") < F.col("__ymax"))
        )
        .select(x_col, F.col("__ymax").alias(y_col))
    )
    return m.join(frontier, [x_col, y_col])


def auc_rank(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact tie-corrected Mann-Whitney ROC-AUC of ``score_col``
    against binary ``label_col`` — one row ``(auc, gini, np, nn)``
    (the registry's ``classifier_auc_rank`` calls it, and adds the
    decile ROC operating points over the fixture's quality score).

    The frame folds map-side to one (score, n, n_pos) row per
    DISTINCT score; average ranks come from a DISTRIBUTED midrank
    prefix sum (distinct-score cardinality is caller-controlled and
    may be SF-proportional, so no global window): scores bucket by a
    sign-aware log-scale key (monotone in the score because
    ``java.lang.Math.log`` is semi-monotonic; ~0.39% relative width,
    at most ~745k possible buckets independent of data), and
    cumsums run within each bucket in parallel.  The rank-sum
    distributes over the bucket offset —
    ``sum n_pos*(off_b + cum_in + (n+1)/2) = off_b*sum(n_pos) +
    sum(n_pos*(cum_in + (n+1)/2))`` — so per-bucket PARTIALS fold in
    the same pass as the within-bucket window, and only the
    bucket-partial table crosses the bounded prefix window over
    buckets.  Every addend is an exactly representable half-integer,
    so the result equals a naive global cumulative's.  Ties get the
    midrank and AUC = (R+ - np(np+1)/2) / (np*nn).  Single-class
    or empty input (np or nn zero) returns NULL auc/gini rather than
    dividing by zero; rows with NULL score, NaN score, or NULL label are
    excluded (rank is undefined on NULL, and NaN has no place on a
    score axis).
    """
    qc = F.col(score_col).cast("double")
    m = df.where(
        F.col(score_col).isNotNull()
        & ~F.isnan(qc)
        & F.col(label_col).isNotNull()
    )
    by_q = m.groupBy(qc.alias("__q")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col(label_col).cast("long")).cast("long").alias("__np"),
    )
    # Order-preserving bucket of an arbitrary double: floor(256*ln|q|)
    # per sign half, clamped so +/-Infinity land in the extreme normal
    # buckets (merging values into one bucket is always safe — the
    # within-bucket window still orders by exact q; only monotonicity
    # and same-q-same-bucket matter).  Offsets: ln|q| spans [-745, 710]
    # over all finite doubles, so |floor(256*ln|q|)| <= 192000 and a
    # +/-400000 shift keeps neg < 0-bucket < pos strictly ordered.
    lnb = F.floor(
        F.greatest(
            F.least(
                F.lit(256.0) * F.log(F.abs(F.col("__q"))),
                F.lit(192000.0),
            ),
            F.lit(-192000.0),
        )
    ).cast("long")
    b = by_q.withColumn(
        "__bkt",
        F.when(F.col("__q") > 0, lnb + F.lit(400000))
        .when(F.col("__q") < 0, -lnb - F.lit(400000))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy("__q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pb = (
        b.withColumn(
            "__cum_in",
            F.coalesce(F.sum("__n").over(w_in), F.lit(0)).cast("long"),
        )
        .groupBy("__bkt")
        .agg(
            F.sum(
                F.col("__np").cast("double")
                * (F.col("__cum_in") + (F.col("__n") + 1) / 2.0)
            ).alias("__ra"),
            F.sum("__np").cast("long").alias("__np_b"),
            F.sum("__n").cast("long").alias("__n_b"),
        )
    )
    w_off = bounded_window("__bkt", "__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = pb.withColumn(
        "__off", F.coalesce(F.sum("__n_b").over(w_off), F.lit(0)).cast("long")
    ).agg(
        F.sum(
            F.col("__ra") + F.col("__off").cast("double") * F.col("__np_b")
        ).alias("__rpos"),
        F.coalesce(F.sum("__np_b"), F.lit(0)).cast("long").alias("np"),
        F.coalesce(F.sum("__n_b") - F.sum("__np_b"), F.lit(0))
        .cast("long")
        .alias("nn"),
    )
    auc = F.when((F.col("np") == 0) | (F.col("nn") == 0), F.lit(None)).otherwise(
        (F.col("__rpos") - F.col("np").cast("double") * (F.col("np") + 1) / 2.0)
        / (F.col("np").cast("double") * F.col("nn"))
    )
    return tot.select(
        auc.alias("auc"),
        (2.0 * auc - 1.0).alias("gini"),
        "np",
        "nn",
    )
