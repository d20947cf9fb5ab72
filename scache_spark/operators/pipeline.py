"""Training-data pipeline operators (north-star): document chunking,
PII scrubbing, and duplicate-cluster assignment (connected components).

Chunking and scrubbing are single narrow projections (the 100 TB cost
is one scan).  Cluster assignment is the one genuinely *iterative*
operator in the engine: label propagation over the LSH-verified
duplicate graph, which Spark executes as a bounded loop of
self-joins — the DataFrame rendition of what GraphX/Pregel would do —
and the oracle checks with a recursive CTE.

Reference grounding: the label-propagation loop is the engine's
version of the reference's iterative bookkeeping convergence —
``updateMapBlocksStatus`` counts down per-map blocks until a
completion condition fires (/root/reference
src/main/scala/org/scache/MapOutputTracker.scala:282-292); chunking
and scrubbing generalize its only text processing, the trace-log
regex parsers (sim/train.py:64-131).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scache_spark import api
from scache_spark.catalog import load_table
from scache_spark.functions import tokens, word_shingles
from scache_spark.operators.dedup import (
    _AUG_SQL,
    _BAND_SQL,
    _SHINGLE_SQL,
    _SIG_SQL,
    N_BANDS,
    dedup_minhash_pairs,
)
from scache_spark.registry import register

CHUNK = 50  # tokens per chunk
STRIDE = 40  # tokens between chunk starts (10-token overlap)


@register(
    "text_chunking",
    oracle=f"""
    WITH toks AS (SELECT doc_id,
                         string_split(lower(coalesce(text, '')), ' ') AS t
                  FROM documents),
    chunked AS (
      SELECT doc_id,
             CAST(s / {STRIDE} AS INT) AS chunk_id,
             array_to_string(t[s + 1 : s + {CHUNK}], ' ') AS chunk_text,
             CAST(len(t[s + 1 : s + {CHUNK}]) AS INT) AS n_chunk_tokens
      FROM toks,
           unnest(range(0, greatest(len(t) - {CHUNK - STRIDE}, 1), {STRIDE}))
               AS u(s)
    )
    SELECT doc_id, chunk_id, chunk_text, n_chunk_tokens FROM chunked
    """,
    tags=("B24", "B17"),
    doc=f"Sliding-window chunking: {CHUNK}-token chunks, {STRIDE}-token "
    "stride (overlap keeps context across boundaries) — the "
    "tokenize-and-chunk pass of a training pipeline.  Pure "
    "sequence+slice projection: one scan, no shuffle, no UDF.",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # null-safe (r6 dirty contract): NULL text chunks as the empty doc
    t = F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
    docs = d.select("doc_id", t.alias("t"))
    # starts: 0, STRIDE, 2*STRIDE, ... < max(len - overlap, 1)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("t") - (CHUNK - STRIDE), F.lit(1)) - 1,
        F.lit(STRIDE),
    )
    chunked = docs.select(
        "doc_id", F.explode(starts).alias("s"), "t"
    ).select(
        "doc_id",
        (F.col("s") / STRIDE).cast("int").alias("chunk_id"),
        F.concat_ws(" ", F.expr(f"slice(t, s + 1, {CHUNK})")).alias("chunk_text"),
        F.size(F.expr(f"slice(t, s + 1, {CHUNK})")).cast("int").alias(
            "n_chunk_tokens"
        ),
    )
    return chunked


@register(
    "text_pii_scrub",
    oracle="""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call 555-01' || CAST(doc_id % 100 AS VARCHAR)
                 AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g') AS no_email,
           regexp_replace(
             regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
             '[0-9][0-9-]+', '<NUM>', 'g') AS scrubbed,
           CAST(length(raw) AS INT) AS raw_len
    FROM synth
    """,
    tags=("B24", "B14"),
    doc="PII scrubbing: email/number masking via global regexp_replace "
    "(fixtures carry no PII, so deterministic synthetic PII is "
    "injected first).  Single projection; the regex runs in codegen.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-01"),
        (F.col("doc_id") % 100).cast("string"),
    )
    synth = d.select("doc_id", raw.alias("raw"))
    no_email = F.regexp_replace("raw", r"[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>")
    scrubbed = F.regexp_replace(no_email, r"[0-9][0-9-]+", "<NUM>")
    return synth.select(
        "doc_id",
        no_email.alias("no_email"),
        scrubbed.alias("scrubbed"),
        F.length("raw").cast("int").alias("raw_len"),
    )


_CC_MAX_ITERS = 6  # ≥ graph diameter of dup clusters (stars: 2)


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_AUG_SQL}, {_SHINGLE_SQL},
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
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN shingled sa ON sa.doc_id = c.doc_a
      JOIN shingled sb ON sb.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    cc(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
      WHERE cc.label < e.b
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM cc GROUP BY node
    """,
    tags=("B24",),
    doc="Duplicate-cluster assignment: connected components over the "
    "LSH-verified duplicate graph via min-label propagation — "
    f"bounded loop of {_CC_MAX_ITERS} self-joins (≥ cluster diameter), "
    "each iteration one shuffle on node id; oracle is a recursive CTE. "
    " The iterative-algorithm pattern (GraphX-style Pregel as "
    "DataFrames).",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    ).distinct().persist()
    labels = edges.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_CC_MAX_ITERS):
        propagated = (
            labels.join(edges, labels.node == edges.a)
            .select(F.col("b").alias("node"), "label")
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # checkpoint the lineage each round: without this the plan
        # doubles per iteration (the classic iterative-algorithm trap)
        labels = propagated.localCheckpoint(eager=True)
    # the loop ran eagerly, so the final labels no longer reference
    # edges — release its cached blocks instead of leaking them into
    # the session-wide cache for the rest of a multi-query run
    edges.unpersist()
    return labels.select("node", "label").withColumnsRenamed(
        {"node": "doc_id", "label": "cluster_id"}
    )


# ---------------------------------------------------------------------------
# dedup materialization: apply the dedup decision to the corpus
# ---------------------------------------------------------------------------


@register(
    "dedup_materialize",
    oracle=f"""
    WITH {_AUG_SQL},
    keep AS (
      SELECT md5(text) AS h, min(doc_id) AS keep_id
      FROM aug GROUP BY md5(text)
    )
    SELECT a.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN a.doc_id = k.keep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN a.doc_id = k.keep_id THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped
    FROM aug a JOIN keep k ON md5(a.text) = k.h
    GROUP BY a.source
    """,
    tags=("B24", "B13"),
    doc="END-TO-END dedup application — the operation a pipeline "
    "actually runs: decide survivors (min-id per content hash), keep "
    "them, drop the rest, report per-source retention.  At 100 TB the "
    "decision table is (hash, keep_id) — 24 bytes/distinct doc — and "
    "the corpus joins against it on its OWN hash, so text never "
    "shuffles; in production the same join emits the filtered corpus "
    "instead of counts.",
)
def dedup_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.operators.dedup import augmented_docs

    aug = augmented_docs(spark, sf_dir).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    keep = aug.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    kept_flag = (F.col("doc_id") == F.col("keep_id")).cast("int")
    return (
        aug.join(keep, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(kept_flag).cast("long").alias("n_kept"),
            F.sum(1 - kept_flag).cast("long").alias("n_dropped"),
        )
    )


@register(
    "sample_stratified",
    oracle="""
    WITH hashed AS (
      SELECT source, doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 10 AS bucket
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (WHERE bucket < 2) AS BIGINT) AS n_sampled,
           CAST(min(doc_id) FILTER (WHERE bucket < 2) AS BIGINT)
               AS first_sampled_id
    FROM hashed GROUP BY source
    """,
    tags=("B20", "B24"),
    doc="Stratified deterministic sampling: a fixed ~20%% rate WITHIN "
    "each source stratum via content-hash bucketing — every engine "
    "(and every rerun, at any partition count) selects the identical "
    "rows, unlike rand()-based sample.  The per-stratum guarantee is "
    "what a training-mix spec needs; downstream the same predicate "
    "materializes the sampled corpus.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.functions import hash64

    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "source",
        "doc_id",
        (hash64(F.col("doc_id").cast("string")) % 10).alias("bucket"),
    )
    in_sample = F.col("bucket") < 2
    return hashed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(in_sample.cast("int")).cast("long").alias("n_sampled"),
        F.min(F.when(in_sample, F.col("doc_id"))).cast("long").alias(
            "first_sampled_id"
        ),
    )


@register(
    "mixture_sampling_weights",
    oracle="""
    WITH per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
               AS total_tokens
      FROM documents GROUP BY source),
    target AS (SELECT min(total_tokens) AS tgt FROM per_source)
    SELECT source, n_docs, total_tokens,
           round(CAST(tgt AS DOUBLE) / total_tokens, 6) AS sample_rate,
           CAST(floor(total_tokens
                      * round(CAST(tgt AS DOUBLE) / total_tokens, 6))
                AS BIGINT) AS expected_tokens
    FROM per_source, target
    """,
    tags=("B7", "B20"),
    doc="Training-mixture weighting: per-source token budgets for an "
    "equal-allocation mixture (every source down-sampled to the "
    "smallest source's token count — the balancing step before "
    "temperature mixing).  Token totals reduce map-side to one row "
    "per source; the global target is an unpartitioned window min "
    "over that per-source frame, so the corpus is scanned exactly "
    "once.  The sampling rate is "
    "6dp-rounded on both engines BEFORE the expected-token floor, so "
    "the integer outputs are bit-identical.  At 100 TB this is two "
    "scans of nothing: the per-source frame is KB-sized regardless "
    "of corpus size, and the actual sampler (deterministic_sample) "
    "consumes these rates as a hash threshold.",
)
def mixture_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_source = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split(F.lower("text"), " ")))
            .cast("long")
            .alias("total_tokens"),
        )
    )
    from pyspark.sql.window import Window

    # scalar target via an unpartitioned window over the tiny
    # per-source frame: documents is scanned ONCE (a crossJoin of
    # per_source.agg would re-run the corpus aggregation)
    tgt = F.min("total_tokens").over(Window.partitionBy())
    rate = F.round(tgt.cast("double") / F.col("total_tokens"), 6)
    return per_source.select(
        "source",
        "n_docs",
        "total_tokens",
        rate.alias("sample_rate"),
        F.floor(F.col("total_tokens") * rate).cast("long").alias(
            "expected_tokens"
        ),
    )


@register(
    "temperature_mixture_weights",
    oracle="""
    WITH per_source AS (
      SELECT source,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
               AS total_tokens
      FROM documents GROUP BY source),
    powed AS (
      SELECT source, total_tokens,
             round(pow(CAST(total_tokens AS DOUBLE), 0.7), 4) AS w
      FROM per_source),
    norm AS (SELECT round(sum(w), 4) AS z FROM powed)
    SELECT source, total_tokens,
           round(w / z, 6) AS mix_weight,
           round((w / z) * 100000, 2) AS tokens_per_100k
    FROM powed, norm
    """,
    tags=("B7", "B16", "B20"),
    doc="Temperature-scaled mixture weights (tau=0.7, the multilingual-"
    "corpus rebalancing rule: raise per-source mass to tau and "
    "renormalize, up-weighting small sources without letting any "
    "source dominate).  Same two-aggregate shape as "
    "mixture_sampling_weights: per-source token totals reduce map-"
    "side, the normalizer is a window sum over the per-source frame "
    "— zero extra corpus scans.  "
    "pow and the division are 4dp/6dp-rounded in a fixed order on "
    "both engines so the weights are bit-identical.",
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_source = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.lower("text"), " ")))
            .cast("long")
            .alias("total_tokens")
        )
    )
    powed = per_source.select(
        "source",
        "total_tokens",
        F.round(F.pow(F.col("total_tokens").cast("double"), 0.7), 4).alias(
            "w"
        ),
    )
    from pyspark.sql.window import Window

    z = F.round(F.sum("w").over(Window.partitionBy()), 4)
    powed = powed.withColumn("z", z)
    return powed.select(
        "source",
        "total_tokens",
        F.round(F.col("w") / F.col("z"), 6).alias("mix_weight"),
        F.round((F.col("w") / F.col("z")) * 100000, 2).alias(
            "tokens_per_100k"
        ),
    )


@register(
    "document_quality_gate",
    oracle="""
    WITH sig AS (
      SELECT doc_id, source,
             len(string_split(lower(text), ' ')) AS n_tok,
             CASE WHEN len(string_split(lower(text), ' ')) >= 3 THEN
               1.0 - len(list_distinct(
                       [array_to_string(t[i:i+2], ' ')
                        for i in range(1, len(t) - 1)]))
                     / CAST(len(t) - 2 AS DOUBLE)
             ELSE 0.0 END AS rep,
             CASE WHEN length(text) > 0 THEN
               len(regexp_extract_all(text, '[^a-z ]'))
                 / CAST(length(text) AS DOUBLE)
             ELSE 1.0 END AS nonalpha
      FROM (SELECT doc_id, source, text,
                   string_split(lower(text), ' ') AS t FROM documents)),
    gated AS (
      SELECT doc_id, source, n_tok,
             round(rep, 6) AS rep_ratio,
             round(nonalpha, 6) AS nonalpha_ratio,
             (n_tok < 5)           AS fail_short,
             (n_tok > 2000)        AS fail_long,
             (round(rep, 6) > 0.3) AS fail_repetitive,
             (round(nonalpha, 6) > 0.3) AS fail_symbols
      FROM sig)
    SELECT doc_id, source, CAST(n_tok AS INT) AS n_tok,
           rep_ratio, nonalpha_ratio,
           (NOT (fail_short OR fail_long OR fail_repetitive
                 OR fail_symbols)) AS keep,
           concat_ws(',',
             CASE WHEN fail_short THEN 'short' END,
             CASE WHEN fail_long THEN 'long' END,
             CASE WHEN fail_repetitive THEN 'repetitive' END,
             CASE WHEN fail_symbols THEN 'symbols' END) AS drop_reasons
    FROM gated
    """,
    tags=("B14", "B17", "B19"),
    doc="C4/Gopher-style document quality GATE: the individual "
    "signals (token count, duplicate-3-gram repetition ratio, "
    "non-alpha symbol ratio) fused into one keep/drop verdict with "
    "machine-readable drop reasons — the decision pass an LLM "
    "ingestion pipeline runs before tokenization.  Every rule "
    "threshold compares against the 6dp-rounded signal on both "
    "engines, so the verdict bit is cross-engine exact.  Still one "
    "narrow projection: zero shuffles, one scan at 100 TB, and the "
    "reason string costs nothing downstream (filter pushdown on "
    "`keep` prunes at the parquet reader when this gate is "
    "materialized).",
)
def document_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tokens("text")
    n_tok = F.size(t)
    rep = F.when(
        n_tok >= 3,
        1.0 - F.size(word_shingles(t, 3)) / (n_tok - 2).cast("double"),
    ).otherwise(0.0)
    nonalpha = F.when(
        F.length("text") > 0,
        F.size(F.regexp_extract_all("text", F.lit("[^a-z ]"), F.lit(0)))
        / F.length("text").cast("double"),
    ).otherwise(1.0)
    sig = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        n_tok.cast("int").alias("n_tok"),
        F.round(rep, 6).alias("rep_ratio"),
        F.round(nonalpha, 6).alias("nonalpha_ratio"),
    )
    fail_short = F.col("n_tok") < 5
    fail_long = F.col("n_tok") > 2000
    fail_rep = F.col("rep_ratio") > 0.3
    fail_sym = F.col("nonalpha_ratio") > 0.3
    return sig.select(
        "doc_id",
        "source",
        "n_tok",
        "rep_ratio",
        "nonalpha_ratio",
        (~(fail_short | fail_long | fail_rep | fail_sym)).alias("keep"),
        F.concat_ws(
            ",",
            F.when(fail_short, "short"),
            F.when(fail_long, "long"),
            F.when(fail_rep, "repetitive"),
            F.when(fail_sym, "symbols"),
        ).alias("drop_reasons"),
    )


@register(
    "training_corpus_e2e",
    oracle="""
    WITH sig AS (
      SELECT doc_id, source,
             md5(lower(text)) AS h,
             len(t) AS n_tok,
             (len(t) >= 5 AND len(t) <= 2000
              AND (CASE WHEN len(t) >= 3 THEN
                     1.0 - len(list_distinct(
                             [array_to_string(t[i:i+2], ' ')
                              for i in range(1, len(t) - 1)]))
                          / CAST(len(t) - 2 AS DOUBLE)
                   ELSE 0.0 END) <= 0.3) AS keep
      FROM (SELECT doc_id, source, text,
                   string_split(lower(text), ' ') AS t FROM documents)),
    survivors AS (
      SELECT h, min(doc_id) AS keep_id
      FROM sig WHERE keep GROUP BY h)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality,
           CAST(sum(CASE WHEN s.keep_id = sig.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unique,
           CAST(sum(n_tok) AS BIGINT) AS tok_raw,
           CAST(sum(CASE WHEN s.keep_id = sig.doc_id THEN n_tok ELSE 0 END)
                AS BIGINT) AS tok_final,
           round(sum(CASE WHEN s.keep_id = sig.doc_id THEN n_tok
                          ELSE 0 END)
                 / CAST(sum(n_tok) AS DOUBLE), 6) AS retention
    FROM sig LEFT JOIN survivors s ON sig.h = s.h AND sig.keep
    GROUP BY source
    """,
    tags=("B3", "B7", "B13", "B14", "B17"),
    doc="The END-TO-END ingestion funnel a training pipeline actually "
    "runs, as ONE plan: quality gate (token-count bounds + duplicate-"
    "3-gram repetition filter) -> exact content dedup among the "
    "gate's survivors (min-id per hash) -> per-source retention "
    "report in documents and tokens.  The gate signals and the "
    "content hash are computed in a single narrow projection (one "
    "corpus scan); the dedup decision table is (hash, keep_id) so "
    "text never shuffles; the funnel counts are one aggregation.  "
    "This is the composition proof for the operator suite: gate, "
    "dedup, and reporting are the SAME queries registered "
    "individually (document_quality_gate, dedup_materialize, "
    "mixture_sampling_weights feed on its output in production).",
)
def training_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tokens("text")
    n_tok = F.size(t)
    rep = F.when(
        n_tok >= 3,
        1.0 - F.size(word_shingles(t, 3)) / (n_tok - 2).cast("double"),
    ).otherwise(0.0)
    sig = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.lower("text")).alias("h"),
        n_tok.cast("long").alias("n_tok"),
        ((n_tok >= 5) & (n_tok <= 2000) & (rep <= 0.3)).alias("keep"),
    )
    survivors = (
        sig.filter("keep").groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    )
    joined = sig.join(
        survivors,
        (sig.h == survivors.h) & sig.keep,
        "left",
    ).drop(survivors.h)
    is_surv = F.when(F.col("keep_id") == F.col("doc_id"), 1).otherwise(0)
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias(
            "n_quality"
        ),
        F.sum(is_surv).cast("long").alias("n_unique"),
        F.sum("n_tok").cast("long").alias("tok_raw"),
        F.sum(is_surv * F.col("n_tok")).cast("long").alias("tok_final"),
        F.round(
            F.sum(is_surv * F.col("n_tok"))
            / F.sum("n_tok").cast("double"),
            6,
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# training-sequence packing (fixed token budget per sequence)
# ---------------------------------------------------------------------------

_PACK_CAP = 128  # token budget per packed training sequence


def _nfd_pack(pdf):
    """Next-fit-decreasing within one source shard: docs sorted by
    (tokens desc, doc_id asc); a sequence is closed when the next doc
    would overflow the budget.  Mirrors the oracle's recursive CTE
    state machine exactly (single linear pass, same tie-breaks)."""
    import pandas as pd

    rows = pdf.sort_values(["tok", "doc_id"], ascending=[False, True])
    out = []
    bin_id, fill = 0, 0
    for doc_id, tok in zip(rows["doc_id"], rows["tok"]):
        if fill > 0 and fill + tok > _PACK_CAP:
            bin_id += 1
            fill = 0
        fill += int(tok)
        out.append((pdf["source"].iloc[0], int(doc_id), int(tok), bin_id))
    return pd.DataFrame(out, columns=["source", "doc_id", "tok", "bin"])


@register(
    "sequence_packing_bins",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT source, doc_id,
             CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS tok
      FROM documents
    ),
    ordered AS (
      SELECT source, doc_id, tok,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY tok DESC, doc_id ASC) AS INT) AS rn
      FROM toks
    ),
    pack AS (
      SELECT source, 0 AS rn, CAST(NULL AS BIGINT) AS doc_id,
             CAST(NULL AS BIGINT) AS tok, 0 AS bin, CAST(0 AS BIGINT) AS fill
      FROM (SELECT DISTINCT source FROM ordered)
      UNION ALL
      SELECT o.source, o.rn, o.doc_id, o.tok,
             CASE WHEN p.fill > 0 AND p.fill + o.tok > {_PACK_CAP}
                  THEN p.bin + 1 ELSE p.bin END AS bin,
             CASE WHEN p.fill > 0 AND p.fill + o.tok > {_PACK_CAP}
                  THEN o.tok ELSE p.fill + o.tok END AS fill
      FROM pack p JOIN ordered o ON o.source = p.source AND o.rn = p.rn + 1
    )
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS total_tokens,
           round(CAST(sum(tok) AS DOUBLE) / {_PACK_CAP}, 4) AS fill_ratio
    FROM pack WHERE rn > 0
    GROUP BY source, bin
    """,
    tags=("B23", "B24"),
    doc="Training-sequence packing: pack each source shard's documents "
    f"into {_PACK_CAP}-token sequences with next-fit-decreasing (docs "
    "sorted by token count desc, sequence closed when the next doc "
    "would overflow), reporting per-sequence doc count, token total "
    "and fill ratio.  The sample-efficiency pass every LLM training "
    "pipeline runs before batching.  Same architecture as "
    "lpt_schedule: packing state is tiny and shard-local, so the "
    "grouped-map pandas stage runs one linear pass per source shard "
    "in parallel — at 100 TB sources become (source, shard) salts "
    "and each shard packs independently; the corpus text itself "
    "never moves, only (doc_id, token_count) pairs.  Oracle replays "
    "the identical state machine as a recursive CTE.",
)
def sequence_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        # null-safe (r6): a NULL-text doc packs as the 1-token empty
        # doc, identically in both engines (the unguarded size() fed
        # NaN into the pandas packer)
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .cast("long")
        .alias("tok"),
    )
    packed = docs.groupBy("source").applyInPandas(
        _nfd_pack, "source string, doc_id long, tok long, bin int"
    )
    return packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.round(F.sum("tok").cast("double") / _PACK_CAP, 4).alias("fill_ratio"),
    )


# ---------------------------------------------------------------------------
# leakage-safe train/val/test split
# ---------------------------------------------------------------------------


@register(
    "leakage_safe_split",
    oracle=f"""
    WITH {_AUG_SQL},
    hashed AS (SELECT doc_id, md5(text) AS h FROM aug),
    clusters AS (SELECT h, min(doc_id) AS rep FROM hashed GROUP BY h),
    assign AS (
      SELECT d.doc_id, c.rep,
             CASE WHEN m < 8 THEN 'train' WHEN m = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM hashed d JOIN clusters c ON d.h = c.h,
      LATERAL (SELECT (('0x' || substr(md5(CAST(c.rep AS VARCHAR)), 1, 15))::BIGINT
                       % 10) AS m)
    ),
    leaky AS (
      SELECT CAST(count(*) AS BIGINT) AS n_leaky_clusters
      FROM (SELECT rep FROM assign GROUP BY rep
            HAVING count(DISTINCT split) > 1)
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
           (SELECT n_leaky_clusters FROM leaky) AS n_leaky_clusters
    FROM assign GROUP BY split
    """,
    tags=("B24", "B13"),
    doc="Leakage-safe dataset splitting: duplicate clusters (exact "
    "content hash) are assigned to train/val/test AS A UNIT — the "
    "split key is a seeded hash of the cluster REPRESENTATIVE, not "
    "the document — so a duplicated document can never sit in train "
    "while its copy sits in test.  n_leaky_clusters (clusters "
    "spanning >1 split) is computed in-query and must be 0.  The "
    "contamination guard every eval pipeline needs; at 100 TB it is "
    "one hash aggregate + one broadcast-size cluster map, and the "
    "same shape extends to near-dup clusters (dedup_clusters) as the "
    "cluster key.",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scache_spark.operators.dedup import augmented_docs

    # The cluster representative is api.exact_dedup's survivor rule: a
    # windowed min over the content hash, computed in place by ONE
    # hash-partitioned window (a cluster map joined back would pay a
    # second exchange).  assign checkpoints because it feeds the leak
    # check AND the final split counts, so the corpus hashes once.
    rep = api._hash_rep(F.col("text"), "doc_id")
    m = (
        F.conv(F.substring(F.md5(F.col("rep").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 10
    )
    assign = (
        augmented_docs(spark, sf_dir)
        .select("doc_id", rep.alias("rep"))
        .select(
            "doc_id",
            "rep",
            F.when(m < 8, "train").when(m == 8, "val").otherwise("test").alias(
                "split"
            ),
        )
        .localCheckpoint(eager=True)
    )
    leaky = (
        assign.groupBy("rep")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaky_clusters"))
    )
    return (
        assign.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("rep").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaky))
    )


# ---------------------------------------------------------------------------
# deterministic contrastive negative sampling
# ---------------------------------------------------------------------------

_NEG_K = 4  # negatives drawn per query document


@register(
    "contrastive_negative_sample",
    oracle=f"""
    WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
    bound AS (SELECT max(doc_id) + 1 AS n FROM documents),
    queries AS (SELECT doc_id AS query_id, h AS qh FROM hashed
                WHERE doc_id % 50 = 0),
    cand AS (
      SELECT q.query_id, q.qh, j.j,
             (('0x' || substr(md5(CAST(q.query_id AS VARCHAR) || ':' ||
                                  CAST(j.j AS VARCHAR)), 1, 15))::BIGINT
              % (SELECT n FROM bound)) AS neg_id
      FROM queries q CROSS JOIN
           (SELECT unnest(range(1, {_NEG_K} + 1)) AS j) j
    )
    SELECT c.query_id, CAST(c.j AS INT) AS j, c.neg_id
    FROM cand c JOIN hashed d ON d.doc_id = c.neg_id
    WHERE c.neg_id <> c.query_id AND d.h <> c.qh
    """,
    tags=("B24", "B20"),
    doc="Deterministic negative sampling for contrastive training: "
    f"each query doc draws {_NEG_K} pseudo-random candidate ids from "
    "a seeded md5 stream, keeping those that exist, aren't the query "
    "itself, and aren't an exact-content duplicate of it (the "
    "false-negative guard).  Fully reproducible across runs and "
    "engines — the property unseeded rand-based samplers can't give "
    "(reference anti-pattern: MapOutputTracker.scala:202's unseeded "
    "shuffle).  At 100 TB the candidate join is on the (tiny) query "
    "sample side and the id-existence probe is an equi-join on the "
    "corpus key.",
)
def contrastive_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # hashed feeds the query sample, the id-bound, and the existence
    # probe — checkpoint the lean (doc_id, digest) frame so the corpus
    # hashes once (bound derives from it instead of re-scanning).
    hashed = docs.select("doc_id", F.md5("text").alias("h")).localCheckpoint(
        eager=True
    )
    bound = hashed.agg((F.max("doc_id") + 1).alias("n"))
    queries = hashed.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), F.col("h").alias("qh")
    )
    js = F.explode(F.sequence(F.lit(1), F.lit(_NEG_K))).alias("j")
    cand = (
        queries.crossJoin(F.broadcast(bound))
        .select("query_id", "qh", "n", js)
        .select(
            "query_id",
            "qh",
            "j",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("query_id").cast("string"),
                                F.lit(":"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n")
            ).alias("neg_id"),
        )
    )
    return (
        cand.join(
            hashed.select(F.col("doc_id").alias("neg_id"), F.col("h").alias("nh")),
            "neg_id",
        )
        .filter((F.col("neg_id") != F.col("query_id")) & (F.col("nh") != F.col("qh")))
        .select("query_id", F.col("j").cast("int").alias("j"), "neg_id")
    )


# ---------------------------------------------------------------------------
# content-defined chunking (insertion-robust dedup chunk boundaries)
# ---------------------------------------------------------------------------

_CDC_MOD = 16  # expected chunk length in tokens


@register(
    "content_defined_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    marked AS (
      SELECT doc_id, tok, pos,
             CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT
                       % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM toks
    ),
    chunked AS (
      SELECT doc_id, tok, pos,
             sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
      FROM marked
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           md5(array_to_string(list(tok ORDER BY pos), ' ')) AS chunk_hash
    FROM chunked GROUP BY doc_id, chunk_id
    """,
    tags=("B24", "B11", "B14"),
    doc="Content-defined chunking: chunk boundaries fall where a "
    "token's hash ≡ 0 (mod 16), so boundaries are a function of "
    "CONTENT, not position — inserting a sentence shifts only the "
    "chunks it touches, while fixed-stride chunking (text_chunking, "
    "udtf_chunk_spans) shifts every downstream chunk.  The rsync/"
    "dedup-storage trick applied to corpus dedup: chunk hashes of "
    "edited documents still mostly collide with the original's.  One "
    "shuffle on doc_id for the windowed boundary count, one grouped "
    "ordered-hash per chunk; at 100 TB both are plain keyed "
    "aggregates.",
)
def content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from scache_spark.functions import hash64

    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    marked = toks.withColumn(
        "boundary",
        F.when(hash64(F.col("tok")) % _CDC_MOD == 0, 1).otherwise(0),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = marked.withColumn("chunk_id", F.sum("boundary").over(w))
    return (
        chunked.groupBy("doc_id", F.col("chunk_id").cast("int").alias("chunk_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "tok"))
                        ),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("chunk_hash"),
        )
    )


# ---------------------------------------------------------------------------
# near-dup canonical selection: keep the best-quality doc per cluster
# ---------------------------------------------------------------------------


@register(
    "dedup_canonical_by_quality",
    oracle=f"""
    WITH RECURSIVE {_AUG_SQL}, {_SHINGLE_SQL},
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
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN shingled sa ON sa.doc_id = c.doc_a
      JOIN shingled sb ON sb.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    cc(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a
      WHERE cc.label < e.b
    ),
    clustered AS (SELECT node AS doc_id, min(label) AS cluster_id
                  FROM cc GROUP BY node),
    quality AS (SELECT doc_id, length(text) AS qlen FROM aug),
    canon AS (
      SELECT cl.cluster_id, q.doc_id,
             row_number() OVER (PARTITION BY cl.cluster_id
                                ORDER BY q.qlen DESC, q.doc_id ASC) AS rn
      FROM clustered cl JOIN quality q ON cl.doc_id = q.doc_id
    ),
    cmap AS (SELECT cluster_id, doc_id AS canonical_id FROM canon
             WHERE rn = 1)
    SELECT a.doc_id,
           coalesce(m.canonical_id, a.doc_id) AS canonical_id,
           (coalesce(m.canonical_id, a.doc_id) = a.doc_id) AS is_kept
    FROM aug a
    LEFT JOIN clustered cl ON a.doc_id = cl.doc_id
    LEFT JOIN cmap m ON cl.cluster_id = m.cluster_id
    """,
    tags=("B24", "B13"),
    doc="Near-dup canonicalization — the production follow-up to "
    "dedup_clusters: within each LSH-verified duplicate cluster keep "
    "the BEST document (longest text, doc_id tie-break), not the "
    "arbitrary min-id; singletons keep themselves via the left join. "
    " The decision state is one (doc_id, canonical_id) pair per "
    "clustered doc — the corpus joins against it on its own key, so "
    "text never shuffles for the apply step.",
)
def dedup_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from scache_spark.operators.dedup import augmented_docs

    clusters = dedup_clusters(spark, sf_dir)
    aug = augmented_docs(spark, sf_dir).select(
        "doc_id", F.length("text").alias("qlen")
    )
    wq = Window.partitionBy("cluster_id").orderBy(
        F.col("qlen").desc(), F.col("doc_id").asc()
    )
    cmap = (
        clusters.join(aug, "doc_id")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("canonical_id"))
    )
    return (
        augmented_docs(spark, sf_dir)
        .select("doc_id")
        .join(clusters, "doc_id", "left")
        .join(F.broadcast(cmap), "cluster_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias(
                "canonical_id"
            ),
            (
                F.coalesce(F.col("canonical_id"), F.col("doc_id"))
                == F.col("doc_id")
            ).alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# blocklist term screening (safety-filter pass)
# ---------------------------------------------------------------------------

# term -> policy category; in production this is a governance-owned
# table of thousands of terms — the plan below broadcasts it whatever
# its size class, because it joins against tokenized content.
_BLOCKLIST = {
    "merge": "ops",
    "window": "ops",
    "scan": "read",
    "value": "data",
}


def _sql_blocklist_values() -> str:
    return ", ".join(f"('{t}', '{c}')" for t, c in sorted(_BLOCKLIST.items()))


@register(
    "blocklist_term_screen",
    oracle=f"""
    WITH bl(term, category) AS (VALUES {_sql_blocklist_values()}),
    toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents)
      WHERE tok <> ''
    ),
    hits AS (
      SELECT t.doc_id, bl.term, bl.category
      FROM toks t JOIN bl ON t.tok = bl.term
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           string_agg(DISTINCT category, ',' ORDER BY category) AS categories,
           string_agg(term, ',' ORDER BY term) AS terms
    FROM hits GROUP BY doc_id
    """,
    tags=("B24", "B6", "B14"),
    doc="Blocklist/safety term screening: tokenized content joined "
    "against a governance blocklist (term -> policy category), "
    "emitting per-document hit counts plus sorted category and term "
    "lists — the screening verdict a moderation pipeline attaches "
    "before routing.  Tokens dedup per doc BEFORE the join (the "
    "content never shuffles; distinct (doc, tok) pairs do) and the "
    "blocklist broadcasts — at 100 TB this is a map-side lookup "
    "against a few thousand terms, one small aggregate after.",
)
def blocklist_term_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    bl = spark.createDataFrame(
        sorted(_BLOCKLIST.items()), ["term", "category"]
    )
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    hits = toks.join(F.broadcast(bl), toks["tok"] == bl["term"])
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.array_join(F.array_sort(F.collect_set("category")), ",").alias(
            "categories"
        ),
        F.array_join(F.array_sort(F.collect_list("term")), ",").alias("terms"),
    )
