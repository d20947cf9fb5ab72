"""Reusable column expressions shared by operators.

Everything here is built from `pyspark.sql.functions` so it stays
JVM-side inside whole-stage codegen — no Python UDFs in the hot path.
Where a helper must match the DuckDB oracle bit-for-bit (hashes,
shingles, dot products), the construction is chosen to be expressible
identically in both engines (md5 hex, sequential fold order).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

# ---------------------------------------------------------------------------
# windows
# ---------------------------------------------------------------------------


def bounded_window(anchor: Column | str, *order_cols: Column | str) -> WindowSpec:
    """Ordered window for a frame PROVEN bounded (top-k survivors of a
    TakeOrdered limit, a per-day/per-source rollup, a fixed dictionary
    — never an SF-proportional table).

    Semantically identical to ``Window.orderBy(...)`` but partitioned
    on a constant-valued expression, so the rows land in one partition
    via a normal hash exchange instead of WindowExec's implicit global
    collapse — same plan cost on a k-row frame, but no spurious "No
    Partition Defined ... single partition" WARN in logs/benches, and
    call sites document that the single partition is a deliberate
    bounded-frame choice.  ``anchor`` is any column of the frame: the
    partition key is ``pmod(hash(anchor), 1)`` (always 0) — it must be
    column-derived because a bare literal is constant-folded out of
    the window spec, reintroducing the warning.  Using this on an
    unbounded frame is a bug: the guard is the plan linter's exchange
    audit plus the per-query doc contract.
    """
    a = F.col(anchor) if isinstance(anchor, str) else anchor
    return Window.partitionBy(F.pmod(F.hash(a), F.lit(1))).orderBy(*order_cols)


# ---------------------------------------------------------------------------
# hashing
# ---------------------------------------------------------------------------


def hash64(col: Column | str) -> Column:
    """Deterministic 60-bit positive integer hash of a string.

    Uses md5 hex (available in both Spark and DuckDB) rather than
    Spark's xxhash64 so the DuckDB oracle can reproduce it exactly:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``.  15 hex chars = 60
    bits, always positive in a signed int64.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def salted_md5(col: Column, salt: int) -> Column:
    """md5 of ``salt:value`` — the per-permutation hash family for
    minhash (analog of seeded placement randomness, reference
    ``MapOutputTracker.scala:202``: all randomness must be seedable)."""
    return F.md5(F.concat(F.lit(f"{salt}:"), col))


# ---------------------------------------------------------------------------
# tokens & shingles
# ---------------------------------------------------------------------------


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), " ")


def bound(col: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(col)`` with ``col`` evaluated once per row.

    Spark evaluates a higher-order function's lambda once per array
    element, and a row expression captured inside the lambda is
    evaluated again for every element: ``split(lower(text))`` used
    inside a per-shingle lambda re-tokenizes the document once per
    shingle.  Passing ``col`` through a one-element ``transform`` binds
    it to a lambda variable, so every use inside ``fn`` reads the value
    computed once.
    """
    return F.transform(F.array(col), fn)[0]


def word_ngrams(toks: Column, n: int) -> Column:
    """Every n-word shingle of a token array in order, repeats kept
    (empty if < n tokens).

    The token array is bound once (``bound``) before the per-shingle
    lambda reads it; the DuckDB oracle mirrors the list with a list
    comprehension over range().
    """

    def grams(t: Column) -> Column:
        shingled = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        )
        return F.when(F.size(t) >= n, shingled).otherwise(
            F.array().cast("array<string>")
        )

    return bound(toks, grams)


def word_shingles(toks: Column, n: int) -> Column:
    """Distinct n-word shingles of a token array (empty if < n tokens):
    ``word_ngrams`` without repeats, so the token array is evaluated
    once per row, not once per shingle."""
    return F.array_distinct(word_ngrams(toks, n))


# ---------------------------------------------------------------------------
# vector math over array<float> (B17/B25)
# ---------------------------------------------------------------------------


def vec_dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, accumulated in double.

    Sequential left-to-right fold → identical floating-point result to
    the oracle's list comprehension sum.  Stays in codegen via
    higher-order functions (no UDF, no Python).
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def vec_norm(a: Column) -> Column:
    return F.sqrt(vec_dot(a, a))


def vec_cosine(a: Column, b: Column) -> Column:
    return vec_dot(a, b) / (vec_norm(a) * vec_norm(b))


def vec_l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance of two float arrays, accumulated in double
    in element order (the oracle's list-comprehension sum)."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


EMB_DIM = 64
"""Expected embedding dimensionality of the corpus encoder.

An ingest-time constant, not a per-row discovery: at 100 TB the
embedding column is produced by fleets of encoder jobs and a
wrong-length vector is a truncated/concatenated write, not a second
legitimate model — zip_with against it pads with NULLs and silently
poisons every downstream dot product, so the dimension check belongs
at load, where the reject is countable (embedding_ingest_audit)."""


def vector_ready(df, col: str = "embedding"):
    """r9 VECTOR INGEST CONTRACT (SCALE_STRESS_dirty_embeddings.json):
    a vector is well-formed iff it is non-NULL, exactly ``EMB_DIM``
    elements, and every element is non-NULL and finite.  Real 100 TB
    corruption classes behind each clause: NULL vector (encoder job
    died mid-shard), short/long vector (truncated or concatenated
    write), NULL element (columnar writer partial flush), NaN (0/0
    normalization upstream), ±Inf (fp16 overflow at encode time).
    Malformed vectors are excluded at EVERY embeddings load site with
    this same predicate mirrored in the oracle (``SQL_VECTOR_READY``),
    and counted per defect class by ``embedding_ingest_audit`` so the
    exclusion is observable, never silent.

    Why the engines need the shared predicate and not just "filter
    junk somehow": Spark's ``sq > 0`` norm test REJECTS a NaN vector
    (NaN > 0 is false) while DuckDB's identical SQL KEEPS it (DuckDB
    orders NaN greater than everything, so NaN > 0 is TRUE) — the r6
    cosine_ready contract silently diverged on NaN input; this
    predicate removes non-finite vectors before any norm comparison
    so the ordering asymmetry can never matter."""
    c = F.col(col)
    return df.filter(c.isNotNull() & (F.size(c) == EMB_DIM) & ~_bad_elem(c))


def _bad_elem(c: Column) -> Column:
    """Some element is NULL, NaN or infinite."""
    return F.exists(
        c,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )


def _sq_norm_positive(c: Column) -> Column:
    return F.aggregate(c, F.lit(0.0), lambda a, x: a + x.cast("double") * x) > 0


SQL_VECTOR_READY = (
    f"(embedding IS NOT NULL AND len(embedding) = {EMB_DIM} AND NOT coalesce("
    "list_bool_or([x IS NULL OR isnan(CAST(x AS DOUBLE)) "
    "OR isinf(CAST(x AS DOUBLE)) for x in embedding]), false))"
)


MOMENT_MAG_BOUND = 1.0e6
"""Dynamic-range bound for UNORDERED signed-sum moments (r9,
SCALE.md §20 finding): avg over values spanning more than ~2^53 of
dynamic range is order-DEFINED, not order-independent — with ±1e20
components in one group, Spark's fold loses every small component
(avg 0.0) while DuckDB accumulates the smalls before the huge terms
cancel (avg -0.000110).  Per-dimension moments are safe (one dominant
term per group, no signed cancellation), min/max are order-free, and
element-order folds (vec_dot) are mirrored exactly — only a
cross-dimension SIGNED mean needs this bound."""


def moment_ready(df, col: str = "embedding"):
    """vector_ready plus the dynamic-range clause above — the load
    guard for cross-dimension signed-sum moment queries."""
    over = F.exists(
        F.col(col),
        lambda x: F.abs(x.cast("double")) > F.lit(MOMENT_MAG_BOUND),
    )
    return vector_ready(df, col).filter(~over)


SQL_MOMENT_READY = (
    f"({SQL_VECTOR_READY} AND NOT coalesce(list_bool_or("
    f"[abs(CAST(x AS DOUBLE)) > {MOMENT_MAG_BOUND!r} for x in embedding]), "
    "false))"
)


def cosine_ready(df, col: str = "embedding"):
    """r6 VECTOR CONTRACT, r9-extended (well-formedness first): on top
    of ``vector_ready``, a ZERO-NORM vector (a dead encoder's output —
    real data) has no defined cosine direction (0/0), so the cosine
    family excludes it too.  Apply at the load site of every
    cosine-family operator, paired with ``SQL_COSINE_READY`` in its
    oracle.  Operators that never divide by the norm (quantization,
    per-dimension stats) keep zero vectors and use ``vector_ready``.
    The norm comparison is safe ONLY because vector_ready has already
    removed NaN/Inf elements (see its docstring for the NaN-ordering
    divergence between the engines)."""
    return vector_ready(df, col).filter(_sq_norm_positive(F.col(col)))


def cosine_defined(c: Column) -> Column:
    """``cosine_ready``'s predicate for vectors of ANY dimension (the
    composable API's frames are not the fixture encoder's): non-NULL,
    every element non-NULL and finite, non-zero norm."""
    return c.isNotNull() & ~_bad_elem(c) & _sq_norm_positive(c)


SQL_COSINE_READY = (
    f"({SQL_VECTOR_READY} AND "
    "list_aggregate([CAST(x AS DOUBLE) * x for x in embedding], 'sum') > 0)"
)

# DIRTY-EVENTS CONTRACT (SCALE_STRESS_dirty_events.json): events.props
# is untrusted JSON and k is an INTEGER property.  Malformed/truncated/
# non-object props, non-integer JSON values (3.7) and out-of-INT-range
# numbers all extract as NULL.  Spark's try_cast / from_json('k INT') /
# try_variant_get(..., 'int') give exactly that; the DuckDB twin needs
# all three guards because json_extract_string THROWS on malformed
# JSON and TRY_CAST rounds '3.7' to 4.
SQL_PROPS_K_INT = (
    "TRY_CAST(nullif(regexp_extract("
    "CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END, "
    "'^-?[0-9]+$', 0), '') AS INT)"
)
# ^ the json_valid guard must be the CASE condition itself, not one
# arm of an AND: DuckDB does not short-circuit AND operands, so
# json_extract_string would still THROW on malformed props under
# some plans (observed: the filter plan of json_funcs, while the
# aggregate plan of json_schema_parse_agg happened to survive).

# DIRTY-EVENTS CONTRACT: moment statistics (variance / stddev /
# covariance and anything else that squares a value) exclude
# absorbing magnitudes — a single |value| >= 1e150 row squares past
# DBL_MAX, which DuckDB raises as Out of Range while Spark silently
# folds to inf/NaN; neither is a usable statistic.  NULL values stay
# (aggregates skip them natively).  Paired Spark predicate:
# F.col("value").isNull() | (F.abs("value") < 1e150).
SQL_VALUE_FINITE_MOMENT = "(value IS NULL OR abs(value) < 1e150)"


def sql_money_domain(col: str) -> str:
    """Domain predicate for BINNED statistics over a money column
    (dirty-orders contract, SCALE.md §17): NULL and absurd-magnitude
    values (|x| >= 1e9 — beyond any ledger) are excluded BEFORE
    equal-width or equal-depth binning, because a single planted
    ±1e12 stretches the bin range so every real row collapses into
    one bin (zero cells -> ln(0) errors in DuckDB, NULL in Spark)
    and bin-edge floating point becomes magnitude-dominated.
    Paired Spark predicate: money_domain(col)."""
    return f"({col} IS NOT NULL AND abs({col}) < 1e9)"


def money_domain(col: Column | str) -> Column:
    """Spark twin of sql_money_domain."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & (F.abs(c) < F.lit(1e9))


# ---------------------------------------------------------------------------
# DuckDB oracle fragments (kept beside the Spark builders so the two
# definitions evolve together)
# ---------------------------------------------------------------------------


def sql_hash64(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def sql_tokens(expr: str) -> str:
    return f"string_split(lower({expr}), ' ')"


def sql_word_shingles(toks_expr: str, n: int) -> str:
    return (
        f"list_distinct([array_to_string({toks_expr}[i:i+{n - 1}], ' ') "
        f"for i in range(1, len({toks_expr}) - {n - 2})])"
    )


def sql_vec_dot(a: str, b: str) -> str:
    return (
        f"list_aggregate([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"for i in range(1, len({a}) + 1)], 'sum')"
    )


def sql_vec_cosine(a: str, b: str) -> str:
    return (
        f"({sql_vec_dot(a, b)} / "
        f"(sqrt({sql_vec_dot(a, a)}) * sqrt({sql_vec_dot(b, b)})))"
    )


def kll_fold_double(col: Column | str, max_n: int) -> Column:
    """Fold a collect_list of KLL-double sketches into one merged
    sketch (kll_sketch_merge_double is a two-sketch scalar, so a
    sketch TABLE merges as a bounded fold).  ``max_n`` must bound the
    list length EXPLICITLY — a silent slice cap that drops sketches
    past it would skew every quantile downstream."""
    c = F.col(col) if isinstance(col, str) else col
    fold = F.aggregate(
        F.slice(c, 2, max_n),
        F.element_at(c, 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    # Fail LOUDLY on an under-sized max_n: a silent slice would drop
    # sketches past position max_n+1 and skew every downstream
    # quantile with no error.
    return F.when(
        F.assert_true(
            F.size(c) <= max_n + 1,
            F.concat(
                F.lit("kll_fold_double: list of "),
                F.size(c).cast("string"),
                F.lit(f" sketches exceeds max_n={max_n}+1"),
            ),
        ).isNull(),
        fold,
    )
