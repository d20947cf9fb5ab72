"""Deduplication suite (SURVEY.md §2 B13/B24, north-star LLM-pipeline
operators): exact hash dedup, MinHash+LSH, SimHash, n-gram Jaccard,
and embedding-cosine near-dup.

All hash functions are md5-based so the DuckDB oracle reproduces them
bit-for-bit (seedable randomness rule, SURVEY §4 — the reference's
unseeded `Random.shuffle` placement, MapOutputTracker.scala:202, is
the anti-pattern).  Everything below is built-in-function codegen —
no Python UDFs.

Because the fixture documents are all unique, each query runs over an
*augmented* corpus with deterministically planted duplicates (exact
copies of every 10th doc, near-duplicates — first word dropped — of
every doc ≡ 5 mod 10), so the dedup operators have real positives to
find and the oracle verifies they find exactly the same ones.

Scale design (100 TB): every stage is a pure shuffle-on-key dataflow —
shingle explode → per-doc signature agg → band-key self-join (the LSH
trick that replaces the O(n²) pair space with per-bucket joins) →
verification only on candidates.  Band-key skew is MEASURED, not
assumed (SCALE_STRESS_boilerplate.json, r6): a shared 200-token
preamble on 60% of documents at x10 concentrates 30,150 docs in one
band bucket — at that severity the TRUE pair set is itself quadratic
(~1.4e9 genuine >=0.5-Jaccard pairs), so no engine can list it and
AQE skew-splitting is irrelevant; the BAND_CAP demotion guard
(dedup_minhash_capped_pairs) is what survives, demoting 8,961 hot
buckets before any pair materializes.  At that extreme the cap also
costs full recall (every band of every boilerplated doc is hot) —
the production answer is to strip boilerplate UPSTREAM with the
C4-style span rewrite (corpus.py, dedup_span_rewrite) and run LSH on
the rewritten text.  At mild skew (1% boilerplate: 840-doc buckets,
~865k true pairs) the UNCAPPED join remains correct and bounded, and
there AQE skew-join splitting is what rebalances the hot partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scache_spark import api
from scache_spark.api import (
    BAND_CAP,
    N_BANDS,
    N_MINHASH,
    SHINGLE_N,
    _band_cols,
    _band_melt,
    _band_pairs,
    _capped_candidate_pairs,
    _signature_cols,
    _verified_pairs,
)
from scache_spark.catalog import load_table, widen_scan
from scache_spark.functions import (
    SQL_COSINE_READY,
    bounded_window,
    salted_md5,
    word_shingles,
)
from scache_spark.registry import register

# ---------------------------------------------------------------------------
# augmented corpus (shared by the dedup family)
# ---------------------------------------------------------------------------

# INGEST CONTRACT (r6, SCALE_STRESS_dirty.json): null-text and
# blank-text documents are dropped at corpus load — a web crawl
# carries them, and every downstream dedup semantics (hash grouping,
# near-dup variant generation, shingling) is underdetermined on them.
# The filter applies to the BASE scan and again to the generated
# variants (a near-dup variant of a 1-token doc degenerates to '').
# No-op on the clean fixtures.
_AUG_SQL = """
    base AS (SELECT doc_id, lower(text) AS text, source FROM documents
             WHERE text IS NOT NULL AND trim(text) <> ''),
    aug0 AS (
      SELECT doc_id, text, source FROM base
      UNION ALL
      SELECT doc_id + 100000, text, source FROM base WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 200000,
             array_to_string(string_split(text, ' ')[2:], ' ') AS text,
             source
      FROM base WHERE doc_id % 10 = 5
    ),
    aug AS (SELECT * FROM aug0 WHERE trim(text) <> '')
"""

# SHINGLE PARTICIPATION CONTRACT (r6): a document below the shingle
# width (< SHINGLE_N tokens) has NO shingles — it cannot participate
# in shingle-granularity similarity, and keeping it would put empty
# sets into Jaccard denominators (divide-by-zero under ANSI) and NULL
# minhashes into band keys.  Dropped here, in both engines alike.
_SHINGLE_SQL = (
    "shingled AS (SELECT * FROM (SELECT doc_id, source, "
    "list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ') "
    "for i in range(1, len(string_split(text, ' ')) - 1)]) AS sh FROM aug) "
    "WHERE len(sh) > 0)"
)


def augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ planted exact copies ∪ planted near-dups.

    Expressed as explode-over-variant-array rather than a 3-way union:
    a union of three filtered branches of the same table plans THREE
    FileScans of the corpus (Catalyst does not merge scan subtrees
    across union arms), while this shape reads each row ONCE and emits
    its 1-3 variants map-side — no re-scan, no materialization, and
    every downstream dedup query inherits the single-scan plan."""
    return augment_doc_variants(
        widen_scan(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "text", "source"
            ),
            "doc_id",
        )
    )


def augment_doc_variants(raw: DataFrame) -> DataFrame:
    """The variant-planting transform itself, over any (doc_id, text,
    source) frame — narrow (per-row explode), so it applies unchanged
    to a STREAMING frame (the ingest-time near-dup suppressor replays
    the corpus through it)."""
    # ingest contract (see _AUG_SQL): null/blank docs never enter
    base = raw.select("doc_id", F.lower("text").alias("text"), "source").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    toks = F.split(F.col("text"), " ")
    near_text = F.concat_ws(
        " ", F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    )
    variants = F.array(
        F.struct(
            F.col("doc_id").alias("doc_id"),
            F.col("text").alias("text"),
            F.col("source").alias("source"),
            F.lit(True).alias("keep"),
        ),
        F.struct(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.col("text").alias("text"),
            F.col("source").alias("source"),
            (F.col("doc_id") % 10 == 0).alias("keep"),
        ),
        F.struct(
            (F.col("doc_id") + 200000).alias("doc_id"),
            near_text.alias("text"),
            F.col("source").alias("source"),
            (F.col("doc_id") % 10 == 5).alias("keep"),
        ),
    )
    return (
        base.select(
            F.explode(F.filter(variants, lambda v: v["keep"])).alias("v")
        )
        .select("v.doc_id", "v.text", "v.source")
        # a near-dup variant of a short doc can degenerate to blank
        .filter(F.trim("text") != "")
    )


def augmented_vectors(
    spark: SparkSession, sf_dir: str, with_label: bool = False
) -> DataFrame:
    """embeddings ∪ planted exact copies (vec_id % 20 == 0, +100000).

    Explode-over-variant-array, not union: one FileScan emits each
    vector plus its optional planted copy map-side (see
    augmented_docs for the rationale).  The output carries an
    ``is_planted`` marker so consumers can count/filter the planted
    ground truth without re-deriving the planting predicate (the
    id-range heuristic ``vec_id >= 100000`` breaks once the base
    table outgrows the offset)."""
    cols = ["vec_id", "embedding"] + (["label"] if with_label else [])
    cols.append("is_planted")
    e = load_table(spark, sf_dir, "embeddings")

    def _variant(id_expr, keep_expr, planted):
        fields = [id_expr.alias("vec_id"), F.col("embedding").alias("embedding")]
        if with_label:
            fields.append(F.col("label").alias("label"))
        fields.append(F.lit(planted).alias("is_planted"))
        fields.append(keep_expr.alias("keep"))
        return F.struct(*fields)

    variants = F.array(
        _variant(F.col("vec_id"), F.lit(True), False),
        _variant(F.col("vec_id") + 100000, F.col("vec_id") % 20 == 0, True),
    )
    return (
        e.select(F.explode(F.filter(variants, lambda v: v["keep"])).alias("v"))
        .select(*[f"v.{c}" for c in cols])
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    # ^ fan out: the embeddings file scans as 1-3 splits, starving the
    # cosine-heavy block joins of parallelism (same as shingled_docs)


def shingled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, sh: array<string>) — distinct 3-word shingles.

    The scan of a small-file corpus yields few input splits (3 tasks
    for 6k docs locally) while shingle+minhash is CPU-bound, so fan
    out to full parallelism first; the text shuffle is trivial next
    to the md5 work it unlocks.  (At 100 TB the scan already has
    enough splits and AQE coalesces — the repartition is a no-op cost.)
    """
    # shingle participation contract (r6): a doc below the shingle
    # width has no shingles.  The predicate is on TOKEN COUNT, before
    # the shingle projection — filtering on size(sh) AFTER it lets
    # Catalyst push the filter through the project and re-substitute
    # word_shingles, computing the array twice (measured ~2x on the
    # minhash family).  len(tokens) >= SHINGLE_N <=> len(sh) >= 1.
    # Parallelism comes from augmented_docs' widen_scan (pre-explode,
    # keyed on the base doc_id) — re-repartitioning here on the
    # post-explode doc_id added a SECOND full-text exchange for every
    # minhash-family query (r9: 2 Exchange → 1, the variant rows of a
    # base doc stay co-partitioned which no consumer cares about).
    aug = augmented_docs(spark, sf_dir).filter(
        F.size(F.split(F.col("text"), " ")) >= SHINGLE_N
    )
    return aug.select(
        "doc_id", "source", word_shingles(F.split(F.col("text"), " "), SHINGLE_N).alias("sh")
    )


_SIG_SQL = ", ".join(
    f"list_aggregate([md5('{i}:' || s) for s in sh], 'min') AS sig_{i}"
    for i in range(N_MINHASH)
)
_BAND_SQL = ", ".join(
    f"md5(sig_{2 * j} || sig_{2 * j + 1}) AS band_{j}" for j in range(N_BANDS)
)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_hash",
    oracle=f"""
    WITH {_AUG_SQL}
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM aug GROUP BY md5(text)
    """,
    tags=("B13", "B24"),
    doc="Exact dedup via content hash: one group per distinct text, "
    "min-id representative.  At 100 TB: hash is computed map-side, "
    "shuffle carries (hash, id) only — never the text.",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = augmented_docs(spark, sf_dir)
    # Project to (hash, id) BEFORE the shuffle: the 100 TB of text
    # never moves, only 16-byte digests + ids do.
    return (
        aug.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


@register(
    "dedup_normalized_exact",
    oracle=f"""
    WITH {_AUG_SQL},
    fmt AS (
      SELECT doc_id, text, source FROM aug
      UNION ALL
      SELECT doc_id + 300000,
             '  ' || replace(upper(text), ' ', '   ') || '  ' AS text,
             source
      FROM aug WHERE doc_id % 10 = 3
    ),
    normed AS (
      SELECT doc_id, text,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                 AS norm
      FROM fmt
    )
    SELECT md5(norm) AS norm_hash,
           min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_variants
    FROM normed WHERE norm <> ''
    GROUP BY md5(norm)
    """,
    tags=("B13", "B24", "B14"),
    doc="NORMALIZED exact dedup — the standard pre-MinHash pass "
    "(RefinedWeb/CCNet convention): case-fold, squash every "
    "non-alphanumeric run to one space, trim, then hash-group.  "
    "Catches the formatting-variant duplicates raw-hash dedup "
    "misses (casing, whitespace runs, punctuation) without paying "
    "for shingling; n_raw_variants counts how many distinct raw "
    "texts each normalized group collapsed.  Planted ground truth: "
    "doc_id%10==3 gets an UPPERCASED triple-spaced +300000 variant "
    "that raw md5 would keep separate.  DIRTY CONTRACT: a doc that "
    "normalizes to the empty string (pure punctuation/whitespace/"
    "control bytes) has no content to dedup and is excluded.  At "
    "100 TB the shape is dedup_exact_hash's: normalization and "
    "hashing are map-side, the shuffle carries (16-byte digest, id) "
    "pairs only.",
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = augmented_docs(spark, sf_dir)
    fmt_variant = F.concat(
        F.lit("  "),
        F.upper(F.regexp_replace("text", " ", "   ")),
        F.lit("  "),
    )
    variants = F.array(
        F.struct(
            F.col("doc_id").alias("doc_id"),
            F.col("text").alias("text"),
            F.lit(True).alias("keep"),
        ),
        F.struct(
            (F.col("doc_id") + 300000).alias("doc_id"),
            fmt_variant.alias("text"),
            (F.col("doc_id") % 10 == 3).alias("keep"),
        ),
    )
    fmt = aug.select(
        F.explode(F.filter(variants, lambda v: v["keep"])).alias("v")
    ).select("v.doc_id", "v.text")
    norm = F.trim(
        F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")
    )
    normed = fmt.select("doc_id", "text", norm.alias("norm")).filter(
        F.col("norm") != ""
    )
    # project to digests BEFORE the shuffle — text never moves
    return (
        normed.select(
            F.md5("norm").alias("norm_hash"),
            "doc_id",
            F.md5("text").alias("raw_hash"),
        )
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("raw_hash").cast("long").alias("n_raw_variants"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_signature",
    oracle=f"""
    WITH {_AUG_SQL}, {_SHINGLE_SQL},
    sigs AS (SELECT doc_id, {_SIG_SQL} FROM shingled)
    SELECT doc_id, sig_0, sig_3, sig_7, {_BAND_SQL}
    FROM sigs
    """,
    tags=("B24",),
    doc="Per-doc MinHash signature (8 md5 permutations) + 4 LSH band "
    "keys.  Shingle→minhash stays inside one narrow projection: no "
    "shuffle at all until bucketing.",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = shingled_docs(spark, sf_dir).select("doc_id", *_signature_cols())
    return sigs.select(
        "doc_id", "sig_0", "sig_3", "sig_7", *_band_cols()
    )


@register(
    "dedup_minhash_pairs",
    oracle=f"""
    WITH {_AUG_SQL}, {_SHINGLE_SQL},
    sigs AS (SELECT doc_id, {_SIG_SQL} FROM shingled),
    bands AS (SELECT doc_id, {_BAND_SQL} FROM sigs),
    melted AS (
      {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_id, band_{j} AS band_hash FROM bands" for j in range(N_BANDS))}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM melted a JOIN melted b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    """,
    tags=("B24",),
    doc="Full MinHash-LSH dedup pipeline: band-bucket self-join for "
    "candidates, exact Jaccard verification on candidates only "
    "(≥0.5).  The O(n²) pair space never materializes — only "
    "same-bucket pairs do.",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The shingle frame feeds three plan branches (candidate self-join
    # left/right + verification); without materializing it Catalyst
    # recomputes the md5 minhash transforms 3× — measured 16.7s → 6s
    # at sf0.1.  Eager localCheckpoint instead of persist(): same
    # memory-first/disk-fallback storage posture as the reference
    # (storage/BlockManager.scala:846-921), but the blocks are released
    # by the ContextCleaner when the plan is dropped — a bare persist
    # with no unpersist accumulates cache across a 90-query run.
    sh = (
        shingled_docs(spark, sf_dir)
        .select("doc_id", "sh")
        .localCheckpoint(eager=True)
    )
    # api.minhash_pairs' melt, band self-join and Jaccard check, with
    # no BAND_CAP demotion between the melt and the self-join
    return _verified_pairs(sh, _band_pairs(_band_melt(sh)), 0.5)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32


def _simhash_expr() -> list:
    """Columns for the grouped bit-vote sums, from exploded token hashes."""
    h = F.col("hv")
    return [
        F.sum(
            F.when((F.shiftright(h, b).bitwiseAND(F.lit(1))) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(_SIMHASH_BITS)
    ]


_SIMHASH_BIT_SQL = ", ".join(
    f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(_SIMHASH_BITS)
)
_SIMHASH_FOLD_SQL = " + ".join(
    f"CASE WHEN b{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END"
    for b in range(_SIMHASH_BITS)
)
# SimHash features are 3-word SHINGLES, not tokens: the fixture docs
# all draw from a ~40-word vocabulary, so token SETS are nearly
# identical across unrelated docs and a token-level simhash collapses
# (measured: 3.1M hamming≤3 pairs from 6k docs).  Shingles are diverse,
# so hamming distance discriminates — and shingle simhash is the
# standard near-dup construction anyway.
_SIMHASH_SQL = f"""
    {_SHINGLE_SQL},
    feats AS (SELECT doc_id, unnest(sh) AS tok FROM shingled),
    hashes AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv
               FROM feats),
    bits AS (SELECT doc_id, {_SIMHASH_BIT_SQL} FROM hashes GROUP BY doc_id),
    sims AS (SELECT doc_id, {_SIMHASH_FOLD_SQL} AS simhash FROM bits)
"""


def _simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash: long) over the augmented corpus."""
    from scache_spark.functions import hash64

    sh = shingled_docs(spark, sf_dir)
    feats = sh.select("doc_id", F.explode("sh").alias("tok")).select(
        "doc_id", hash64(F.col("tok")).alias("hv")
    )
    bits = feats.groupBy("doc_id").agg(*_simhash_expr())
    fold = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fold = term if fold is None else fold + term
    return bits.select("doc_id", fold.alias("simhash"))


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_AUG_SQL}, {_SIMHASH_SQL}
    SELECT doc_id, simhash FROM sims
    """,
    tags=("B24",),
    doc="32-bit SimHash per doc: per-token md5-derived hash, bitwise "
    "majority vote.  One explode + one groupBy — shuffle carries "
    "(doc_id, 64-bit hash) pairs only.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_docs(spark, sf_dir)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_AUG_SQL}, {_SIMHASH_SQL},
    banded AS (
      {" UNION ALL ".join(f"SELECT doc_id, simhash, {i} AS band_id, (simhash >> {8 * i}) & 255 AS band_val FROM sims" for i in range(4))}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
                      b.doc_id AS doc_b, b.simhash AS sim_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """,
    tags=("B24",),
    doc="SimHash near-dup pairs: 4×8-bit band blocking (a pair within "
    "hamming≤3 must agree on ≥1 whole byte), verify bit_count(xor).",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the band self-join consumes sims on both sides — materialize so
    # the shingle+md5+bit-vote pipeline runs once, not twice; eager
    # localCheckpoint (vs persist) lets the ContextCleaner reclaim the
    # blocks once the plan is dropped
    sims = _simhash_docs(spark, sf_dir).localCheckpoint(eager=True)
    banded = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        (F.shiftright(F.col("simhash"), 8 * i).bitwiseAND(F.lit(255))).alias(
                            "band_val"
                        ),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_id", "b.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= 3
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (blocked exact)
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_AUG_SQL}, {_SHINGLE_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM shingled a JOIN shingled b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    """,
    tags=("B24",),
    doc="Exact n-gram Jaccard within source-blocks: the brute-force "
    "baseline MinHash-LSH approximates.  Blocking key (source) bounds "
    "the pair space; at 100 TB you'd block on LSH buckets instead "
    "(dedup_minhash_pairs) — this exists to validate them.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingled_docs(spark, sf_dir)
    a = sh.select(
        F.col("source"), F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = sh.select(
        F.col("source").alias("source_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        a.join(
            b,
            (F.col("source") == F.col("source_b")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH aug AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE {SQL_COSINE_READY}
      UNION ALL
      SELECT vec_id + 100000, embedding, label FROM embeddings
      WHERE vec_id % 20 = 0 AND {SQL_COSINE_READY}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           (list_aggregate([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                            for i in range(1, len(a.embedding) + 1)], 'sum')
            / (sqrt(list_aggregate([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
                                    for i in range(1, len(a.embedding) + 1)], 'sum'))
             * sqrt(list_aggregate([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                                    for i in range(1, len(b.embedding) + 1)], 'sum'))))
               AS cosine
    FROM aug a JOIN aug b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE (list_aggregate([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                           for i in range(1, len(a.embedding) + 1)], 'sum')
           / (sqrt(list_aggregate([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
                                   for i in range(1, len(a.embedding) + 1)], 'sum'))
            * sqrt(list_aggregate([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                                   for i in range(1, len(b.embedding) + 1)], 'sum')))) >= 0.95
    """,
    tags=("B24", "B25"),
    doc="Embedding near-dup: cosine ≥ 0.95 pairs within label blocks "
    "over an augmented set with planted exact copies.  At 100 TB the "
    "blocking key becomes an LSH bucket (similarity.ann_lsh_bucketed).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import vec_cosine

    # Single-scan augmentation; checkpoint because aug feeds BOTH
    # sides of the label-block self-join.
    from scache_spark.functions import cosine_ready

    # cosine contract (r6): NULL / zero-norm vectors cannot pair
    aug = cosine_ready(
        augmented_vectors(spark, sf_dir, with_label=True)
    ).localCheckpoint(eager=True)
    a = aug.select(
        F.col("label"), F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
    )
    b = aug.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
    )
    cos = vec_cosine(F.col("emb_a"), F.col("emb_b"))
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.95)
    )


# ---------------------------------------------------------------------------
# embedding near-dup, LSH-bucketed (the production scale path)
# ---------------------------------------------------------------------------


# similarity imports nothing from dedup, so this is an acyclic reuse
# of the deterministic hyperplane machinery
from scache_spark.functions import sql_vec_cosine, vec_cosine  # noqa: E402
from scache_spark.operators.similarity import (  # noqa: E402
    DIM,
    N_PLANES,
    sql_lsh_bucket,
)


@register(
"dedup_embedding_lsh",
    oracle=f"""
    WITH aug AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {SQL_COSINE_READY}
      UNION ALL
      SELECT vec_id + 100000, embedding FROM embeddings
      WHERE vec_id % 20 = 0 AND {SQL_COSINE_READY}
    ),
    bucketed AS (
      SELECT vec_id, embedding,
             CAST({sql_lsh_bucket("embedding")} AS INT) AS bucket
      FROM aug
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.bucket AS bucket,
           {sql_vec_cosine("a.embedding", "b.embedding")} AS cosine
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {sql_vec_cosine("a.embedding", "b.embedding")} >= 0.95
    """,
    tags=("B24", "B25"),
    doc="Embedding near-dup with the LSH bucket as the BLOCKING KEY "
    "— the production path at 100 TB (dedup_embedding_cosine's "
    "label blocking is the validation baseline).  Hyperplane "
    "buckets are closed-form deterministic (api.lsh_cosine_bucket), "
    "so both engines derive identical candidate sets; cosine ≥ "
    "0.95 verifies candidates only.  Exact duplicates always "
    "collide (identical vector → identical bucket); near-dup "
    "recall is the standard LSH trade-off, measured in pytest "
    "against the label-blocked baseline.",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import cosine_ready

    # cosine contract (r6): NULL / zero-norm vectors cannot pair
    aug = cosine_ready(augmented_vectors(spark, sf_dir))
    # bucketed feeds both sides of the bucket self-join — materialize
    # so the scan + hyperplane hashing run once.
    bucketed = aug.select(
        "vec_id",
        "embedding",
        api.lsh_cosine_bucket(F.col("embedding"), dim=DIM, n_planes=N_PLANES).alias("bucket"),
    ).localCheckpoint(eager=True)
    a = bucketed.select(
        F.col("bucket"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = bucketed.select(
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
    )
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select(
            "vec_a",
            "vec_b",
            "bucket",
            vec_cosine(F.col("emb_a"), F.col("emb_b")).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.95)
    )




# ---------------------------------------------------------------------------
# cross-document exact substring-window dedup
# ---------------------------------------------------------------------------

WINDOW_K = 8  # tokens per duplicated-span window
MAX_WINDOW_DOCS = 16  # boilerplate cutoff: drop windows shared too widely


@register(
    "dedup_substring_pairs",
    oracle=f"""
    WITH {_AUG_SQL},
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
    wins AS (
      SELECT doc_id,
             list_distinct([md5(array_to_string(t[i:i+{WINDOW_K - 1}], ' '))
                            for i in range(1, len(t) - {WINDOW_K - 2})]) AS ws
      FROM toks
    ),
    melted AS (SELECT doc_id, unnest(ws) AS w FROM wins),
    rare AS (
      SELECT w FROM melted GROUP BY w
      HAVING count(DISTINCT doc_id) BETWEEN 2 AND {MAX_WINDOW_DOCS}
    ),
    hits AS (SELECT m.doc_id, m.w FROM melted m JOIN rare USING (w))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM hits a JOIN hits b ON a.w = b.w AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
    tags=("B24",),
    doc="Cross-document exact substring dedup: doc pairs sharing >=2 "
    "identical 8-token windows (the duplicated-span detection behind "
    "'train-set substring dedup', done at the document-pair grain).  "
    "At 100 TB: the text never shuffles — only (16-byte window md5, "
    "doc_id) pairs do; the BETWEEN-2-AND-16 frequency cutoff bounds "
    "per-window fan-out the same way LSH band hashing bounds bucket "
    "size, so the self-join is per-bucket, never O(n^2); n_shared>=2 "
    "suppresses single-window chance collisions.",
)
def dedup_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen_scan inside augmented_docs already fans the scan out
    # (r9: dropping the second repartition removes one full-text
    # exchange; see shingled_docs)
    aug = augmented_docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    wins = aug.select(
        "doc_id",
        F.transform(word_shingles(toks, WINDOW_K), lambda s: F.md5(s)).alias("ws"),
    )
    melted = wins.select("doc_id", F.explode("ws").alias("w"))
    rare = (
        melted.groupBy("w")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= MAX_WINDOW_DOCS))
        .select("w")
    )
    # Candidate windows are a small fraction of all windows; joining
    # melted against them first keeps the pair self-join input tiny.
    # Checkpoint hits (small by construction) so its two self-join
    # sides don't each re-derive the corpus-sized melted frame.
    hits = melted.join(rare, "w").localCheckpoint(eager=True)
    a = hits.select("w", F.col("doc_id").alias("doc_a"))
    b = hits.select(F.col("w").alias("wb"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, (F.col("w") == F.col("wb")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


# ---------------------------------------------------------------------------
# prefix-filtering exact set-similarity join (ppjoin-style)
# ---------------------------------------------------------------------------

_PF_T = 0.6  # Jaccard threshold


@register(
    "setjoin_prefix_filter",
    oracle=f"""
    WITH {_AUG_SQL}, {_SHINGLE_SQL},
    tok AS (SELECT doc_id, unnest(sh) AS t FROM shingled),
    df AS (SELECT t, count(*) AS dfc FROM tok GROUP BY t),
    rkt AS (SELECT t, row_number() OVER (ORDER BY dfc ASC, t ASC) AS rk FROM df),
    docarr AS (
      SELECT doc_id, list_sort(list(rk)) AS arr
      FROM tok JOIN rkt USING (t) GROUP BY doc_id
    ),
    pre AS (
      SELECT doc_id, arr, len(arr) AS sz,
             CAST(len(arr) - ceil({_PF_T} * len(arr)) + 1 AS INT) AS px
      FROM docarr
    ),
    prefix AS (
      SELECT doc_id, unnest(list_slice(arr, 1, px)) AS rk FROM pre
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b ON a.rk = b.rk AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(pa.arr, pb.arr)) AS DOUBLE)
                 / (pa.sz + pb.sz - len(list_intersect(pa.arr, pb.arr))), 6)
               AS jaccard
    FROM cand c
    JOIN pre pa ON pa.doc_id = c.doc_a
    JOIN pre pb ON pb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(pa.arr, pb.arr)) AS DOUBLE)
          / (pa.sz + pb.sz - len(list_intersect(pa.arr, pb.arr))) >= {_PF_T}
    """,
    tags=("B24", "B17"),
    doc="EXACT set-similarity join via prefix filtering (ppjoin "
    "family) over 3-word shingle sets: shingles are globally ranked "
    "rare-first by document frequency, each doc keeps the "
    "|T| - ceil(t|T|) + 1 rarest ranks as its prefix, and only docs "
    "sharing a prefix rank become candidate pairs — a complete "
    "(no-false-negative) filter for shingle-Jaccard >= 0.6, verified "
    "exactly on int-rank arrays.  The deterministic complement to "
    "MinHash-LSH: same candidate-bucket shape, zero probability of a "
    "miss.  At 100 TB: the rank dictionary is shingle-vocab-sized "
    "(still orders of magnitude under the corpus; at extreme vocab, "
    "swap row_number for a 64-bit rarity hash — ordering only needs "
    "to be stable, not dense); prefixes are the RAREST shingles so "
    "bucket fan-out is naturally tiny; the quadratic verify runs "
    "only on candidates.  Planted near-duplicates are the ground "
    "truth positives.",
)
def setjoin_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    tok = shingled_docs(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("t")
    )
    dfc = tok.groupBy("t").agg(F.count(F.lit(1)).alias("dfc"))
    # Vocab-sized global sort: |shingle vocab| << |corpus|, so the
    # single-partition rank window is a dictionary build, not a data
    # scan (hash-rank instead if vocab ever rivals corpus size).
    rkt = dfc.withColumn("rk", F.row_number().over(bounded_window("t", "dfc", "t")))
    docarr = (
        tok.join(rkt.select("t", "rk"), "t")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("rk")).alias("arr"))
    )
    # Feeds the prefix explode AND both verify sides — materialize once.
    pre = (
        docarr.select(
            "doc_id",
            "arr",
            F.size("arr").alias("sz"),
            (F.size("arr") - F.ceil(F.lit(_PF_T) * F.size("arr")) + 1)
            .cast("int")
            .alias("px"),
        )
        .localCheckpoint(eager=True)
    )
    prefix = pre.select(
        "doc_id", F.explode(F.slice("arr", F.lit(1), F.col("px"))).alias("rk")
    )
    a = prefix.select("rk", F.col("doc_id").alias("doc_a"))
    b = prefix.select(
        F.col("rk").alias("rkb"), F.col("doc_id").alias("doc_b")
    )
    cand = (
        a.join(b, (F.col("rk") == F.col("rkb")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pa = pre.select(
        F.col("doc_id").alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("sz").alias("sz_a"),
    )
    pb = pre.select(
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .filter(jac >= _PF_T)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# minhash sketch mergeability (the incremental/sharded-dedup law)
# ---------------------------------------------------------------------------

_MM_PERMS = 4  # permutations checked for the merge law
_MM_SENTINEL = "zzzz"  # > any md5 hex digest


@register(
    "minhash_merge_property",
    oracle=f"""
    WITH {_AUG_SQL}, {_SHINGLE_SQL},
    split AS (
      SELECT doc_id, sh,
             [s for s in sh
              if ('0x' || substr(md5(s), 1, 15))::BIGINT % 2 = 0] AS sh_even,
             [s for s in sh
              if ('0x' || substr(md5(s), 1, 15))::BIGINT % 2 = 1] AS sh_odd
      FROM shingled
    )
    SELECT doc_id,
           CAST(len(sh_even) AS INT) AS n_even,
           CAST(len(sh_odd) AS INT) AS n_odd,
           CAST({" + ".join(
             f"CASE WHEN least("
             f"coalesce(list_aggregate([md5('{i}:' || s) for s in sh_even], 'min'), '{_MM_SENTINEL}'), "
             f"coalesce(list_aggregate([md5('{i}:' || s) for s in sh_odd], 'min'), '{_MM_SENTINEL}')) "
             f"= list_aggregate([md5('{i}:' || s) for s in sh], 'min') "
             f"THEN 1 ELSE 0 END"
             for i in range(_MM_PERMS)
           )} AS INT) AS n_match
    FROM split WHERE len(sh) > 0
    """,
    tags=("B24", "B17"),
    doc="The law that makes 100 TB dedup incremental: a MinHash "
    "signature is an element-wise MIN, so signatures computed over "
    "ANY partition of a document's shingle set merge exactly (min of "
    "mins) into the whole-set signature.  Each doc's shingles are "
    "split by hash parity, per-part signatures computed and merged, "
    f"and n_match counts agreement with the direct signature over "
    f"{_MM_PERMS} permutations — {_MM_PERMS} for every doc.  This is "
    "why new corpus shards can be signed independently and unioned "
    "with zero recomputation, the same mergeability MapStatus relies "
    "on when size vectors combine per-map (scheduler/MapStatus.scala).",
)
def minhash_merge_property(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import hash64

    sh = shingled_docs(spark, sf_dir).select("doc_id", "sh").filter(
        F.size("sh") > 0
    )
    split = sh.select(
        "doc_id",
        "sh",
        F.filter("sh", lambda s: hash64(s) % 2 == 0).alias("sh_even"),
        F.filter("sh", lambda s: hash64(s) % 2 == 1).alias("sh_odd"),
    )

    def _sig(col: str, i: int):
        return F.array_min(
            F.transform(F.col(col), lambda s: salted_md5(s, i))
        )

    match = None
    for i in range(_MM_PERMS):
        merged = F.least(
            F.coalesce(_sig("sh_even", i), F.lit(_MM_SENTINEL)),
            F.coalesce(_sig("sh_odd", i), F.lit(_MM_SENTINEL)),
        )
        eq = F.when(merged == _sig("sh", i), 1).otherwise(0)
        match = eq if match is None else match + eq
    return split.select(
        "doc_id",
        F.size("sh_even").alias("n_even"),
        F.size("sh_odd").alias("n_odd"),
        match.cast("int").alias("n_match"),
    )


# ---------------------------------------------------------------------------
# hot-band capping: the skew guard for banded self-joins
# ---------------------------------------------------------------------------

# Shared capped banded-LSH candidate stage (r7, ADVICE): signatures
# melt to (doc_id, band_id, band_hash), hot buckets (> BAND_CAP
# members) are demoted BEFORE any pair materializes, and surviving
# buckets self-join into distinct (doc_a < doc_b) candidates.  One
# definition per engine side (the Spark one is
# api._capped_candidate_pairs) — dedup_minhash_capped_pairs and
# dedup_source_overlap_matrix consume BOTH, so the cap semantics
# cannot drift between them.
_CAPPED_CAND_SQL = f"""sigs AS (SELECT doc_id, {_SIG_SQL} FROM shingled),
    bands AS (SELECT doc_id, {_BAND_SQL} FROM sigs),
    melted AS (
      {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_id, band_{j} AS band_hash FROM bands" for j in range(N_BANDS))}
    ),
    keep AS (
      SELECT band_id, band_hash FROM melted
      GROUP BY band_id, band_hash
      HAVING count(*) <= {BAND_CAP}
    ),
    capped AS (
      SELECT m.* FROM melted m
      JOIN keep k ON m.band_id = k.band_id AND m.band_hash = k.band_hash
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )"""


@register(
    "dedup_minhash_capped_pairs",
    oracle=f"""
    WITH {_AUG_SQL}, {_SHINGLE_SQL},
    {_CAPPED_CAND_SQL}
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    """,
    tags=("B24", "B21"),
    doc=f"MinHash pairs with HOT-BAND CAPPING: buckets holding more "
    f"than {BAND_CAP} docs are demoted before the self-join (a "
    "k-member bucket contributes k² candidate pairs, so one viral "
    "boilerplate band can dominate the whole job — the classic "
    "banded-LSH skew failure at corpus scale).  The cap bounds "
    "per-bucket fan-out; demoted content still pairs through its "
    "OTHER bands (each doc has N_BANDS chances), which is why "
    "capping costs little recall in practice.  The count-filter "
    "runs before any pair materializes.",
)
def dedup_minhash_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = api.minhash_pairs(augmented_docs(spark, sf_dir), "doc_id", "text")
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


@register(
    "dedup_source_overlap_matrix",
    oracle=f"""
    WITH {_AUG_SQL}, {_SHINGLE_SQL},
    {_CAPPED_CAND_SQL},
    verified AS (
      SELECT c.doc_a, c.doc_b, sa.source AS src_1, sb.source AS src_2,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
      FROM cand c
      JOIN shingled sa ON sa.doc_id = c.doc_a
      JOIN shingled sb ON sb.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    )
    SELECT least(src_1, src_2) AS src_a,
           greatest(src_1, src_2) AS src_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(jaccard), 6) AS avg_jaccard
    FROM verified GROUP BY 1, 2
    """,
    tags=("B24", "B7", "B13"),
    doc=f"Cross-SOURCE duplication matrix — the corpus-governance view "
    "of near-dup structure: every capped-band verified near-dup pair "
    "rolls up to an unordered (source, source) cell with pair count "
    "and mean Jaccard, answering 'which ingestion sources copy from "
    "which' (mirror detection, license triage, crawl-overlap "
    "budgeting).  Shares the entire capped banded-LSH dataflow of "
    f"dedup_minhash_capped_pairs (BAND_CAP={BAND_CAP} demotion before "
    "any pair materializes), then joins each verified pair to its two "
    "source labels and collapses to at most |sources|^2/2 rows — the "
    "pair space never leaves the executors, only the tiny matrix "
    "does.  At 100 TB this is the report a data-governance pass "
    "publishes weekly; any blow-up is bounded by the same cap the "
    "boilerplate stress (SCALE_STRESS_boilerplate.json) verified.",
)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = (
        shingled_docs(spark, sf_dir)
        .select("doc_id", "source", "sh")
        .localCheckpoint(eager=True)
    )
    cand = _capped_candidate_pairs(sh)
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    verified = (
        cand.join(
            sh.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("src_1"),
                F.col("sh").alias("sh_a"),
            ),
            "doc_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("src_2"),
                F.col("sh").alias("sh_b"),
            ),
            "doc_b",
        )
        .select("src_1", "src_2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )
    return verified.select(
        F.least("src_1", "src_2").alias("src_a"),
        F.greatest("src_1", "src_2").alias("src_b"),
        "jaccard",
    ).groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus (ingestion-time shape)
# ---------------------------------------------------------------------------


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH {_AUG_SQL}, {_SHINGLE_SQL},
    sigs AS (SELECT doc_id, {_SIG_SQL} FROM shingled),
    bands AS (SELECT doc_id, {_BAND_SQL} FROM sigs),
    melted AS (
      {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_id, band_{j} AS band_hash FROM bands" for j in range(N_BANDS))}
    ),
    cand AS (
      SELECT DISTINCT c.doc_id AS corpus_id, n.doc_id AS new_id
      FROM (SELECT * FROM melted WHERE doc_id < 100000) c
      JOIN (SELECT * FROM melted WHERE doc_id >= 100000) n
        ON c.band_id = n.band_id AND c.band_hash = n.band_hash
    ),
    verified AS (
      SELECT cand.new_id, cand.corpus_id,
             CAST(len(list_intersect(sc.sh, sn.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sc.sh, sn.sh))) AS jaccard
      FROM cand
      JOIN shingled sc ON sc.doc_id = cand.corpus_id
      JOIN shingled sn ON sn.doc_id = cand.new_id
      WHERE CAST(len(list_intersect(sc.sh, sn.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(sc.sh, sn.sh))) >= 0.5
    )
    SELECT new_id,
           min(corpus_id) AS dup_of,
           round(max(jaccard), 6) AS max_jaccard
    FROM verified GROUP BY new_id
    """,
    tags=("B24", "B6"),
    doc="INCREMENTAL dedup — the shape ingestion actually runs: a new "
    "batch (the planted arrivals, doc_id >= 100000) checked against "
    "the EXISTING corpus via an asymmetric banded-LSH join, never a "
    "self-join of the whole union.  At 100 TB the delta's band keys "
    "BROADCAST against the corpus's stored signature table (built "
    "once, extended incrementally — minhash_merge_property proves "
    "signatures merge), so each ingest touches corpus bands only "
    "map-side; Jaccard verifies candidates only, and each new doc "
    "resolves to its min-id corpus duplicate.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = (
        shingled_docs(spark, sf_dir)
        .select("doc_id", "sh")
        .localCheckpoint(eager=True)
    )
    melted = _band_melt(sh)
    corpus = melted.filter(F.col("doc_id") < 100000).select(
        F.col("doc_id").alias("corpus_id"), "band_id", "band_hash"
    )
    batch = melted.filter(F.col("doc_id") >= 100000).select(
        F.col("doc_id").alias("new_id"), "band_id", "band_hash"
    )
    # the delta broadcasts; the corpus-side signature table stays put
    cand = (
        corpus.join(F.broadcast(batch), ["band_id", "band_hash"])
        .select("corpus_id", "new_id")
        .distinct()
    )
    sc = sh.select(F.col("doc_id").alias("corpus_id"), F.col("sh").alias("sh_c"))
    sn = sh.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_n"))
    jac = F.size(F.array_intersect("sh_c", "sh_n")).cast("double") / F.size(
        F.array_union("sh_c", "sh_n")
    )
    verified = (
        cand.join(sc, "corpus_id")
        .join(sn, "new_id")
        .select("new_id", "corpus_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )
    return verified.groupBy("new_id").agg(
        F.min("corpus_id").alias("dup_of"),
        F.round(F.max("jaccard"), 6).alias("max_jaccard"),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (r9): MOSS-style local document fingerprinting
# ---------------------------------------------------------------------------

WINNOW_K = SHINGLE_N  # words per gram (shares the family's shingle width)
WINNOW_W = 4          # grams per winnowing window
WINNOW_FP_CAP = 16    # hot-fingerprint demotion bound (cf. BAND_CAP)
WINNOW_MIN_SHARED = 2  # pair threshold: >= 2 shared fingerprints


@register(
    "winnowing_neardup_pairs",
    oracle=f"""
    WITH {_AUG_SQL},
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM aug
      WHERE len(string_split(text, ' ')) >= {WINNOW_K + WINNOW_W - 1}
    ),
    grams AS (
      SELECT doc_id,
             [CAST(('0x' || substr(md5(array_to_string(t[i:i+{WINNOW_K - 1}], ' ')), 1, 15)) AS BIGINT)
              for i in range(1, len(t) - {WINNOW_K - 2})] AS h
      FROM toks
    ),
    fps AS (
      SELECT doc_id,
             list_distinct([list_aggregate(h[p:p+{WINNOW_W - 1}], 'min')
                            for p in range(1, len(h) - {WINNOW_W - 2})]) AS f
      FROM grams
    ),
    melted AS (SELECT doc_id, unnest(f) AS fp FROM fps),
    keep AS (SELECT fp FROM melted GROUP BY fp
             HAVING count(*) <= {WINNOW_FP_CAP}),
    km AS (SELECT m.doc_id, m.fp FROM melted m JOIN keep USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM km a JOIN km b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {WINNOW_MIN_SHARED}
    """,
    tags=("B24", "B13", "B17"),
    doc="Winnowing (MOSS local fingerprinting) near-dup candidates: "
    f"per document, md5 each ordered {WINNOW_K}-word gram, take the "
    f"minimum hash of every {WINNOW_W}-gram sliding window (the "
    "winnowing guarantee: any shared substring of >= k+w-1 words "
    "yields at least one shared fingerprint), dedupe to the distinct "
    "fingerprint set, and pair documents sharing >= "
    f"{WINNOW_MIN_SHARED} fingerprints.  Positional, so it catches "
    "LOCAL overlap (a copied paragraph inside otherwise-different "
    "docs) that whole-document MinHash dilutes away — the complement "
    "of dedup_minhash_pairs in a crawl pipeline.  Scale: gram "
    "hashing and window minima are per-row codegen (transform + "
    "slice + array_min, no explode until fingerprints — ~n/1 grams "
    "collapse to ~n/w distinct fps); candidates come from an "
    f"equi-join on fingerprint with hot fps (> {WINNOW_FP_CAP} docs, "
    "boilerplate) demoted BEFORE the pair space materializes, the "
    "same quadratic-bucket guard as the capped LSH bands.  The "
    "O(n^2) pair space never exists; only same-fingerprint pairs "
    "under the cap do.",
)
def winnowing_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, w = WINNOW_K, WINNOW_W
    aug = augmented_docs(spark, sf_dir).filter(
        F.size(F.split(F.col("text"), " ")) >= k + w - 1
    )
    toks = F.split(F.col("text"), " ")
    # 64-bit integer gram hashes (md5-prefix, the family's hash64):
    # the window minima compare longs instead of 32-char hex strings
    # and the melted/join sides shuffle 8 bytes per fingerprint
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 15),
            16,
            10,
        ).cast("long"),
    )
    # grams MUST be a materialized column before the window pass:
    # slice() inside the window transform would otherwise re-evaluate
    # the whole gram-md5 expression per window position (no CSE inside
    # higher-order lambdas) — O(m·w·m) md5 calls per doc, measured
    # 121s -> ~8s at sf0.1
    hashed = aug.select("doc_id", grams.alias("h"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("h")) - (w - 1)),
            lambda p: F.array_min(F.slice(F.col("h"), p, w)),
        )
    )
    # the melted frame feeds the hot-fp count AND both join sides —
    # materialize once (the dedup family's checkpoint discipline)
    melted = (
        hashed.select("doc_id", F.explode(fps).alias("fp"))
        .localCheckpoint(eager=True)
    )
    keep = melted.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs")).filter(
        F.col("n_docs") <= WINNOW_FP_CAP
    )
    km = melted.join(keep.select("fp"), "fp")
    a = km.select(F.col("doc_id").alias("doc_a"), "fp")
    b = km.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
