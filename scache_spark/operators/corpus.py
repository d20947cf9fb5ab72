"""Corpus-rewriting curation operators (north-star LLM-pipeline depth).

Unlike the pairwise dedup family (`dedup.py`, which *reports*
duplicate pairs/clusters), these operators follow the C4/RefinedWeb
convention of REWRITING the corpus: repeated spans are removed from
every document except the first occurrence, and importance weights
re-score every document against a target domain (DSIR, Xie et al.
2023, "Data Selection for Language Models via Importance Resampling"
— public).  Both are the shapes a 100 TB pretraining pipeline runs
corpus-wide, so the plans are pure shuffle-on-key dataflows with
map-side-combinable aggregates and a broadcast-sized model state
(the 256-bucket feature table), never a per-pair or driver-side pass.

Analog in the reference: corpus-wide rewriting is the same
"aggregate once, apply everywhere" shape as the reference's shuffle
statistics plane (MapOutputTracker.scala — per-key sizes aggregated
once, then consulted by every fetch); here the aggregated state is
span frequencies / bucket log-ratios instead of block sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scache_spark import api
from scache_spark.api import DSIR_BUCKETS, PPL_BINS, SEG_N, _span_segments
from scache_spark.catalog import load_table, widen_scan
from scache_spark.functions import sql_hash64, tokens, word_ngrams
from scache_spark.registry import register

_SQL_SEGMENTS = f"""
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
             FROM documents),
    seg AS (
      SELECT doc_id, CAST((s - 1) / {SEG_N} AS BIGINT) AS seg_idx,
             array_to_string(t[s:s+{SEG_N - 1}], ' ') AS seg
      FROM toks, unnest(range(1, len(t) + 1, {SEG_N})) AS u(s)
    )
"""


@register(
    "dedup_span_rewrite",
    oracle=f"""
    WITH {_SQL_SEGMENTS},
    freq AS (
      SELECT seg, count(DISTINCT doc_id) AS nd, min(doc_id) AS keeper
      FROM seg GROUP BY seg
    ),
    marked AS (
      SELECT s.doc_id, s.seg,
             CASE WHEN f.nd >= 2 AND s.doc_id <> f.keeper
                  THEN 1 ELSE 0 END AS removed
      FROM seg s JOIN freq f ON s.seg = f.seg
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(removed) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN removed = 0 THEN len(seg) ELSE 0 END)
                + CASE WHEN sum(1 - removed) > 1
                       THEN sum(1 - removed) - 1 ELSE 0 END
                AS BIGINT) AS kept_chars
    FROM marked GROUP BY doc_id
    """,
    tags=("B24", "B13"),
    doc="C4-style span-level corpus REWRITE: every 5-token span that "
    "occurs in >=2 distinct documents is removed from all but the "
    "lowest-doc_id occurrence (the deterministic 'keep first' rule); "
    "per doc, report span/removal counts and the character length of "
    "the rewritten text.  Differs from the pairwise dedup family: "
    "this is the corpus-wide mutation pass C4/RefinedWeb actually "
    "apply.  At 100 TB: one explode, one span-keyed repartition of "
    "(span, doc) pair rows that serves the pair aggregate and the "
    "span-frequency window (count and keeper per span: a sort, no "
    "second exchange), one per-doc aggregate — no pair space, no "
    "join, no driver state.",
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen_scan: local single-row-group fixture only (no-op at scale);
    # the tokenize is the query's CPU, so it runs on every core.
    d = widen_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    # The removal verdict is identical for every occurrence of a
    # (seg, doc) pair, so collapse to one row per pair FIRST (carrying
    # the occurrence count) and key everything on seg: the seg
    # repartition feeds the pair aggregate, and the per-span count and
    # keeper are a window over that same distribution — one sort, no
    # exchange.  A self-join of per_sd with its own span aggregate
    # would scan and tokenize the corpus once per branch (exchange
    # reuse does not match the two branches).  nd = count(*) over the
    # pair level IS the distinct-doc count (a NULL doc_id is counted
    # there and ignored by min, as the join shape did).
    per_sd = (
        _span_segments(d, "doc_id", "text")
        .repartition("seg")
        .groupBy("seg", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    by_seg = Window.partitionBy("seg")
    marked = per_sd.select(
        "doc_id",
        "n_occ",
        F.length("seg").alias("seg_len"),
        (
            (F.count(F.lit(1)).over(by_seg) >= 2)
            & (F.col("doc_id") != F.min("doc_id").over(by_seg))
        ).alias("removed"),
    )
    kept = F.sum(F.when(F.col("removed"), 0).otherwise(F.col("n_occ")))
    return marked.groupBy("doc_id").agg(
        F.sum("n_occ").cast("long").alias("n_spans"),
        F.sum(F.when(F.col("removed"), F.col("n_occ")).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        (
            F.sum(
                F.when(
                    F.col("removed"), 0
                ).otherwise(F.col("n_occ") * F.col("seg_len"))
            )
            + F.when(kept > 1, kept - 1).otherwise(0)
        )
        .cast("long")
        .alias("kept_chars"),
    )


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    feat AS (
      SELECT doc_id, source,
             {sql_hash64("w")} % {DSIR_BUCKETS} AS bucket
      FROM tok
    ),
    counts AS (
      SELECT bucket,
             sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c_t,
             count(*) AS c_r
      FROM feat GROUP BY bucket
    ),
    totals AS (
      SELECT sum(c_t) AS n_t, sum(c_r) AS n_r FROM counts
    ),
    ratios AS (
      SELECT bucket,
             ln((c_t + 1.0) / (n_t + {DSIR_BUCKETS}))
             - ln((c_r + 1.0) / (n_r + {DSIR_BUCKETS})) AS logratio
      FROM counts, totals
    )
    SELECT doc_id, round(sum(r.logratio), 6) AS log_weight
    FROM feat f JOIN ratios r ON f.bucket = r.bucket
    GROUP BY doc_id
    ORDER BY log_weight DESC, doc_id ASC
    LIMIT 20
    """,
    tags=("B24", "B16"),
    doc="DSIR importance weights (Xie et al. 2023): hashed-unigram "
    f"bucket counts ({DSIR_BUCKETS} buckets) for the target domain "
    "(source='src0') vs the raw corpus, add-one smoothed; each doc "
    "scores sum over tokens of ln(p_target/p_raw), and the top 20 "
    "docs by weight are the importance-resampling shortlist.  At "
    f"100 TB: the model state is ONE {DSIR_BUCKETS}-row log-ratio table "
    "(a broadcast join onto the token stream), bucket counts and the "
    "per-doc sum are both map-side combinable, and the final top-20 "
    "is a TakeOrdered — corpus never passes through a window or a "
    "driver loop.  The r9 single-tokenize shape materializes the "
    f"per-(doc, bucket) count table (<= docs x {DSIR_BUCKETS} rows, in "
    "practice ~docs x distinct-buckets-per-doc) via localCheckpoint — "
    "a footprint LINEAR in corpus doc count, traded for halving the "
    "corpus tokenize passes; if executor storage memory pressures at "
    "scale, checkpoint only the bucket-count model and let the "
    "per-doc frame stay lazy (the pre-r9 shape).  Rounded to 6 "
    "decimals (ln differs by ~1 ulp between libm and the JVM).",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = api.dsir_score(d, "doc_id", "text", F.col("source") == "src0")
    return scored.orderBy(F.col("log_weight").desc(), F.col("doc_id").asc()).limit(
        20
    )


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
              FROM toks GROUP BY tok),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks),
    perdoc AS (
      SELECT doc_id, any_value(lang) AS lang,
             round(avg(-ln(n_tok * 1.0 / n_total)), 6) AS s
      FROM toks JOIN vocab USING (tok), total
      GROUP BY doc_id
    ),
    rng AS (SELECT min(s) AS mn, max(s) AS mx FROM perdoc),
    binned AS (
      SELECT doc_id, lang, s, mx = mn AS deg,
             CAST(least(floor((s - mn)
                              / (greatest(mx - mn, 1e-12) / {PPL_BINS}.0)),
                        {PPL_BINS - 1}) AS INT) AS bin
      FROM perdoc, rng
    ),
    hist AS (SELECT bin, count(*) AS c FROM binned GROUP BY bin),
    cum AS (
      SELECT bin, sum(c) OVER (ORDER BY bin) AS cum,
             (SELECT sum(c) FROM hist) AS n
      FROM hist
    ),
    bmap AS (
      SELECT bin, CASE CAST((3 * cum + n - 1) // n AS INT)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
      FROM cum
    )
    SELECT CASE WHEN d.deg THEN 'head' ELSE b.bucket END AS bucket, d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(d.s), 6) AS mean_surprisal
    FROM binned d JOIN bmap b ON d.bin = b.bin
    GROUP BY 1, d.lang
    """,
    tags=("B24", "B20"),
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020): each "
    "document's unigram-LM surprisal assigns it to the head / middle "
    "/ tail third of the corpus quality distribution, reported per "
    "language — the standard pre-filter that keeps 'head' for "
    "training and drops or downsamples 'tail'.  The tertile "
    "boundaries are computed WITHOUT a global sort: surprisals land "
    f"in {PPL_BINS} deterministic equal-width fine bins (broadcast "
    "min/max), the <=64-row cumulative histogram maps fine bins to "
    "tertiles by integer arithmetic, and docs join the 64-row map "
    "broadcast — the same scan-assign shape as "
    "equi_depth_hist_binning, exact in both engines.  A corpus with "
    "ONE surprisal level (min = max) is all 'head' instead of a 0/0 "
    "bin width.",
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return (
        api.perplexity_buckets(d, "doc_id", "text")
        .groupBy("bucket", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("surprisal"), 6).alias("mean_surprisal"),
        )
    )


@register(
    "tokenizer_fertility_stats",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             len(string_split(lower(text), ' ')) AS n_words,
             list_aggregate([CAST((len(w) + 3) // 4 AS BIGINT)
                             for w in string_split(lower(text), ' ')],
                            'sum') AS n_sub,
             list_aggregate([CAST(len(w) AS BIGINT)
                             for w in string_split(lower(text), ' ')],
                            'sum') AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_sub) AS BIGINT) AS n_subwords,
           round(sum(n_sub) * 1.0 / sum(n_words), 6) AS fertility,
           round(sum(n_chars) * 1.0 / sum(n_sub), 6) AS bytes_per_subword
    FROM per_doc GROUP BY lang
    """,
    tags=("B24", "B14"),
    doc="Tokenizer fertility audit per language: words, subword count "
    "under a fixed-width proxy scheme (ceil(len/4) pieces per word — "
    "the deterministic stand-in for a BPE vocabulary), fertility "
    "(subwords per word) and bytes per subword — the per-language "
    "cost numbers a tokenizer choice is evaluated on before a "
    "pretraining run.  Zero token shuffle: subword and byte counts "
    "fold INSIDE the token array with higher-order functions (one "
    "narrow projection), so the only exchange is the |langs|-row "
    "final aggregate.",
)
def tokenizer_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    per_doc = d.select(
        "lang",
        F.size(toks).alias("n_words"),
        fold(
            F.transform(toks, lambda w: ((F.length(w) + 3) / 4).cast("long"))
        ).alias("n_sub"),
        fold(F.transform(toks, lambda w: F.length(w).cast("long"))).alias(
            "n_chars"
        ),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_sub").cast("long").alias("n_subwords"),
        F.round(F.sum("n_sub") * 1.0 / F.sum("n_words"), 6).alias("fertility"),
        F.round(F.sum("n_chars") * 1.0 / F.sum("n_sub"), 6).alias(
            "bytes_per_subword"
        ),
    )


# ---------------------------------------------------------------------------
# BPE merge training rounds: tokenizer construction as a dataflow
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 2

_SQL_BPE_VOCAB = """
    vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
      GROUP BY w
    ),
    seq0 AS (
      SELECT w, freq,
             array_to_string([w[i] for i in range(1, len(w) + 1)], ' ') AS s
      FROM vocab
    )
"""


def _sql_bpe_round(prev: str, rnd: int) -> str:
    """One unrolled BPE round over the DuckDB seq table ``prev``."""
    return f"""
    pairs{rnd} AS (
      SELECT p AS pair, sum(freq) AS pf FROM (
        SELECT freq, unnest([sy[i] || ' ' || sy[i + 1]
                             for i in range(1, len(sy))]) AS p
        FROM (SELECT freq, string_split(s, ' ') AS sy FROM {prev})
      ) GROUP BY p
    ),
    win{rnd} AS (
      SELECT pair, pf FROM pairs{rnd}
      ORDER BY pf DESC, pair ASC LIMIT 1
    ),
    seq{rnd} AS (
      SELECT v.w, v.freq,
             trim(replace(replace(' ' || v.s || ' ',
                                  ' ' || win{rnd}.pair || ' ',
                                  ' ' || replace(win{rnd}.pair, ' ', '') || ' '),
                          ' ' || win{rnd}.pair || ' ',
                          ' ' || replace(win{rnd}.pair, ' ', '') || ' ')) AS s
      FROM {prev} v, win{rnd}
    )
    """


@register(
    "bpe_merge_rounds",
    oracle=f"""
    WITH {_SQL_BPE_VOCAB},
    {_sql_bpe_round("seq0", 1)},
    {_sql_bpe_round("seq1", 2)}
    SELECT 1 AS round, pair AS merged_pair, CAST(pf AS BIGINT) AS pair_freq
    FROM win1
    UNION ALL
    SELECT 2 AS round, pair AS merged_pair, CAST(pf AS BIGINT) AS pair_freq
    FROM win2
    """,
    tags=("B24", "B7"),
    doc=f"BPE tokenizer training, first {_BPE_ROUNDS} merge rounds, as "
    "a distributed dataflow (Sennrich et al. 2016): the corpus "
    "collapses once to a (word, freq) vocabulary; each round counts "
    "adjacent symbol pairs weighted by word frequency (map-side "
    "combinable — pair space is bounded by vocabulary text, never "
    "corpus size), picks the winner (1-row TakeOrdered, ties broken "
    "lexicographically), and applies the merge with two sentinel-"
    "padded literal replaces (two passes = the greedy left-to-right "
    "BPE application, identical non-overlapping scan semantics in "
    "both engines).  At 100 TB only the initial vocab aggregate "
    "touches the corpus; every round runs on the vocabulary table "
    "with the winning merge broadcast — exactly how distributed BPE "
    "trainers iterate.",
)
def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    # The vocabulary table is the iteration state: each round reads it
    # twice (pair counts + merge rewrite) and the next round builds on
    # the rewrite.  Checkpoint per round — vocab-sized state, and the
    # corpus scan under it runs exactly once (was once per branch).
    seq = vocab.select(
        "w",
        "freq",
        F.expr(
            "array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), ' ')"
        ).alias("s"),
    ).localCheckpoint(eager=True)
    outs = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        pairs = (
            seq.select(
                "freq",
                F.explode(word_ngrams(F.split("s", " "), 2)).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("pf"))
        )
        win = pairs.orderBy(F.col("pf").desc(), F.col("pair").asc()).limit(1)
        outs.append(
            win.select(
                F.lit(rnd).alias("round"),
                F.col("pair").alias("merged_pair"),
                F.col("pf").cast("long").alias("pair_freq"),
            )
        )
        rep = F.concat(
            F.lit(" "), F.regexp_replace(F.col("pair"), " ", ""), F.lit(" ")
        )
        pat = F.concat(F.lit(" "), F.col("pair"), F.lit(" "))
        merged = seq.crossJoin(
            F.broadcast(win.select("pair"))
        ).select(
            "w",
            "freq",
            F.trim(
                F.replace(
                    F.replace(
                        F.concat(F.lit(" "), F.col("s"), F.lit(" ")), pat, rep
                    ),
                    pat,
                    rep,
                )
            ).alias("s"),
        )
        # the final round's rewrite feeds nothing (outs holds only the
        # per-round winners) — don't pay a dead materialization job
        seq = (
            merged.localCheckpoint(eager=True)
            if rnd < _BPE_ROUNDS
            else merged
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# web-crawl URL/domain curation
# ---------------------------------------------------------------------------


@register(
    "url_domain_curation",
    oracle="""
    WITH urls AS (
      -- deterministic render (the eventlog render->parse convention):
      -- each document gets a URL derived from its own columns; the
      -- oracle recomputes host/domain/ref straight from those columns,
      -- so any loss in the URL parse is a mismatch.  source is
      -- sanitized to hostname-safe chars on both sides.
      SELECT doc_id, n_chars,
             -- a source that sanitizes to EMPTY (all non-alphanumeric)
             -- falls back to 'unknown': '-N.example.tld' is not a valid
             -- hostname, so Spark's parse_url (java.net.URI.getHost)
             -- would return NULL while this textual recompute would
             -- not — the r9 advice divergence
             coalesce(nullif(lower(regexp_replace(coalesce(source, 'unknown'),
                                  '[^a-zA-Z0-9]', '', 'g')), ''), 'unknown')
               || '-' || CAST(doc_id % 37 AS VARCHAR) || '.example.'
               || CASE WHEN lang = 'en' THEN 'com' ELSE 'org' END AS host,
             'example.'
               || CASE WHEN lang = 'en' THEN 'com' ELSE 'org' END AS domain,
             coalesce(lang, 'xx') AS ref
      FROM documents
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN ref = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en_refs
    FROM urls GROUP BY domain
    """,
    tags=("B24", "B14", "B7"),
    doc="Web-crawl URL curation: render a deterministic URL per "
    "document (https://<sanitized-source>-<doc_id%37>.example.<tld>"
    "/docs/<id>?ref=<lang>), parse it back with parse_url "
    "(HOST + QUERY param extraction — the curation primitive every "
    "crawl pipeline runs: host-level dedup budgets, per-domain "
    "quality rollups, registered-domain blocklists), take the "
    "registered domain as the last two host labels "
    "(substring_index), and aggregate per domain: doc count, "
    "distinct hosts, total chars, English-ref share.  The oracle "
    "recomputes host/domain straight from the source columns, so the "
    "URL render->parse round trip must be lossless.  Scale shape: "
    "one scan, the render+parse is per-row codegen (parse_url is a "
    "JVM expression, no UDF), one map-side-combinable aggregate; at "
    "100 TB the render is replaced by reading a real url column and "
    "everything downstream is unchanged.",
)
def url_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # empty-sanitized fallback (r9 advice): a source of all
    # non-alphanumeric chars would render host '-N.example.tld',
    # which java.net.URI.getHost rejects (NULL) while the oracle's
    # textual recompute would not — both engines fall back to
    # 'unknown' instead
    safe_src = F.coalesce(
        F.nullif(
            F.lower(
                F.regexp_replace(
                    F.coalesce(F.col("source"), F.lit("unknown")),
                    "[^a-zA-Z0-9]",
                    "",
                )
            ),
            F.lit(""),
        ),
        F.lit("unknown"),
    )
    tld = F.when(F.col("lang") == "en", "com").otherwise("org")
    url = F.concat(
        F.lit("https://"),
        safe_src,
        F.lit("-"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit(".example."),
        tld,
        F.lit("/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref="),
        F.coalesce(F.col("lang"), F.lit("xx")),
    )
    parsed = d.select(
        "n_chars",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref"),
    ).select(
        "n_chars",
        "host",
        "ref",
        F.substring_index(F.col("host"), ".", -2).alias("domain"),
    )
    return parsed.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.when(F.col("ref") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_en_refs"),
    )


# ---------------------------------------------------------------------------
# PII detection / redaction audit (r9)
# ---------------------------------------------------------------------------

# Patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, \b anchors and
# non-capturing groups only — no backreferences, no lookaround.
_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


@register(
    "pii_redaction_audit",
    oracle=f"""
    WITH rendered AS (
      -- render->detect convention (cf. url_domain_curation): PII is
      -- synthesized deterministically from row columns, so the
      -- detector's hits are exactly checkable
      SELECT doc_id, source,
             coalesce(text, '')
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com now' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || '-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS body
      FROM documents),
    hits AS (
      SELECT doc_id, source,
             regexp_extract_all(body, '{_PII_EMAIL}') AS emails,
             regexp_extract_all(body, '{_PII_IPV4}') AS ips,
             regexp_extract_all(body, '{_PII_PHONE}') AS phones
      FROM rendered)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN len(emails) + len(ips) + len(phones) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
           CAST(sum(len(emails)) AS BIGINT) AS n_emails,
           CAST(sum(len(ips)) AS BIGINT) AS n_ipv4,
           CAST(sum(len(phones)) AS BIGINT) AS n_phones,
           CAST(sum(coalesce(list_aggregate([length(x) for x in emails], 'sum'), 0)
                  + coalesce(list_aggregate([length(x) for x in ips], 'sum'), 0)
                  + coalesce(list_aggregate([length(x) for x in phones], 'sum'), 0))
                AS BIGINT) AS redacted_chars
    FROM hits GROUP BY source
    """,
    tags=("B24", "B14", "B20"),
    doc="PII detection/redaction audit — the governance pass every "
    "released training corpus needs: per-row regex detection of "
    "emails, IPv4 addresses and phone numbers (patterns restricted "
    "to the Java-regex ∩ RE2 dialect so both engines match byte-for-"
    "byte), rolled up per source as doc counts, per-class hit counts "
    "and the total characters a redaction pass would mask.  The "
    "fixture corpus carries no real PII, so the audit follows the "
    "family's render->detect convention: deterministic synthetic PII "
    "is appended from row columns (doc_id % 7/11/13 legs), making "
    "every detector hit exactly checkable — on real data the render "
    "disappears and the detector runs unchanged.  Scale: detection "
    "is per-row codegen (regexp_extract_all, no UDF), the rollup is "
    "ONE map-side-combinable aggregate keyed by source; a redaction "
    "WRITE would be the same scan emitting regexp_replace'd text — "
    "zero shuffles either way.",
)
def pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                ((F.col("doc_id") * 7) % 256).cast("string"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad(((F.col("doc_id") * 3) % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    matched_len = lambda arr: F.aggregate(  # noqa: E731
        F.transform(arr, F.length), F.lit(0), lambda acc, x: acc + x
    )
    hits = d.select(
        "source",
        F.regexp_extract_all(body, F.lit(_PII_EMAIL), 0).alias("emails"),
        F.regexp_extract_all(body, F.lit(_PII_IPV4), 0).alias("ips"),
        F.regexp_extract_all(body, F.lit(_PII_PHONE), 0).alias("phones"),
    )
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(
                F.size("emails") + F.size("ips") + F.size("phones") > 0, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_docs_with_pii"),
        F.sum(F.size("emails")).cast("long").alias("n_emails"),
        F.sum(F.size("ips")).cast("long").alias("n_ipv4"),
        F.sum(F.size("phones")).cast("long").alias("n_phones"),
        F.sum(
            matched_len(F.col("emails"))
            + matched_len(F.col("ips"))
            + matched_len(F.col("phones"))
        )
        .cast("long")
        .alias("redacted_chars"),
    )


# ---------------------------------------------------------------------------
# canonical-URL dedup (r9) — the crawl-frontier dedup BEFORE content dedup
# ---------------------------------------------------------------------------

# Deterministic messy-URL render (render→canonicalize convention, as
# url_domain_curation): each document's URL carries the five noise
# classes a crawl frontier actually sees — case-varied host, explicit
# default port, tracking params in varying order, trailing slash, and
# a fragment — while its CANONICAL identity is (host, page-id, page
# param) derived from doc columns, so distinct documents legitimately
# collide on the canonical form (the duplicates the canonicalizer
# exists to find).
_SQL_URL_RENDER = """
      SELECT doc_id,
             'https://'
             || CASE WHEN doc_id % 2 = 0
                     THEN upper(coalesce(source, 'unknown'))
                     ELSE coalesce(source, 'unknown') END
             || '.example.'
             || CASE WHEN lang = 'en' THEN 'com' ELSE 'org' END
             || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
             || '/p/' || CAST(coalesce(n_chars, 0) % 50 AS VARCHAR)
             || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
             || CASE WHEN doc_id % 2 = 1
                     THEN '?utm_source=feed&page='
                          || CAST(doc_id % 2 AS VARCHAR)
                          || '&utm_campaign=w' || CAST(doc_id % 4 AS VARCHAR)
                     ELSE '?page=' || CAST(doc_id % 2 AS VARCHAR) END
             || CASE WHEN doc_id % 7 = 0
                     THEN '#sec' || CAST(doc_id % 9 AS VARCHAR)
                     ELSE '' END AS url
      FROM documents
      WHERE source IS NOT NULL
"""


@register(
    "url_canonical_dedup",
    oracle=f"""
    WITH urls AS ({_SQL_URL_RENDER}),
    canon AS (
      SELECT doc_id,
             lower(regexp_replace(split_part(
                 replace(regexp_replace(url, '#.*$', ''), ':443/', '/'),
                 '?', 1), '/$', ''))
             || '?page='
             || regexp_extract(regexp_replace(url, '#.*$', ''),
                               '[?&]page=([0-9]+)', 1) AS canonical_url
      FROM urls
    ),
    per_canon AS (
      SELECT canonical_url,
             regexp_extract(canonical_url, 'example[.](com|org)', 0)
               AS domain,
             CAST(count(*) AS BIGINT) AS n_variants
      FROM canon GROUP BY 1, 2
    )
    SELECT domain,
           CAST(sum(n_variants) AS BIGINT) AS n_raw_urls,
           CAST(count(*) AS BIGINT) AS n_canonical,
           round(1.0 - CAST(count(*) AS DOUBLE) / sum(n_variants), 6)
               AS dup_rate,
           CAST(max(n_variants) AS BIGINT) AS max_variants,
           CAST(sum(CASE WHEN n_variants > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_groups
    FROM per_canon GROUP BY domain
    """,
    tags=("B24", "B14", "B13", "B7"),
    doc="Canonical-URL dedup — the crawl-frontier dedup that runs "
    "BEFORE any content dedup: normalize scheme/host case, strip the "
    "default :443 port, drop the fragment, drop tracking params "
    "(param-allowlist canonicalization: only `page` survives, "
    "order-independent), strip the trailing slash, then roll up raw "
    "vs canonical counts, dup rate, largest variant group and dup "
    "group count per registered domain.  The render plants all five "
    "noise classes deterministically, so the dedup finds REAL "
    "collisions — the canonical identity is (source host, lang TLD, "
    "n_chars%50 page id, doc parity page param), coarse enough that "
    "distinct documents genuinely share it; both "
    "engines canonicalize the same rendered string with the same "
    "regex pipeline (Java-regex ∩ RE2 dialect), so any divergence in "
    "the string algebra is a mismatch.  NULL-source docs are "
    "frontier rejects (no host — filtered identically on both "
    "sides).  Scale shape: per-row codegen string ops, a map-side-"
    "combinable (canonical_url, domain) count, then a per-domain "
    "rollup of the already-collapsed frame — two narrow exchanges, "
    "no window, no join; at 100 TB the render is replaced by a real "
    "url column and the canonicalizer is unchanged.",
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    host = F.concat(
        F.coalesce(F.col("source"), F.lit("unknown")),
        F.lit(".example."),
        F.when(F.col("lang") == "en", "com").otherwise("org"),
    )
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.upper(host)).otherwise(host),
        F.when(F.col("doc_id") % 3 == 0, ":443").otherwise(""),
        F.lit("/p/"),
        (F.coalesce(F.col("n_chars"), F.lit(0)) % 50).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, "/").otherwise(""),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(
                F.lit("?utm_source=feed&page="),
                (F.col("doc_id") % 2).cast("string"),
                F.lit("&utm_campaign=w"),
                (F.col("doc_id") % 4).cast("string"),
            ),
        ).otherwise(
            F.concat(F.lit("?page="), (F.col("doc_id") % 2).cast("string"))
        ),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("#sec"), (F.col("doc_id") % 9).cast("string")),
        ).otherwise(""),
    )
    nofrag = F.regexp_replace(url, "#.*$", "")
    noport = F.regexp_replace(nofrag, ":443/", "/")
    base = F.regexp_replace(
        F.lower(F.substring_index(noport, "?", 1)), "/$", ""
    )
    canon = F.concat(
        base,
        F.lit("?page="),
        F.regexp_extract(nofrag, r"[?&]page=([0-9]+)", 1),
    )
    per_canon = (
        d.select(canon.alias("canonical_url"))
        .select(
            "canonical_url",
            F.regexp_extract(
                F.col("canonical_url"), r"example[.](com|org)", 0
            ).alias("domain"),
        )
        .groupBy("canonical_url", "domain")
        .agg(F.count(F.lit(1)).cast("long").alias("n_variants"))
    )
    return per_canon.groupBy("domain").agg(
        F.sum("n_variants").cast("long").alias("n_raw_urls"),
        F.count(F.lit(1)).cast("long").alias("n_canonical"),
        F.round(
            1.0 - F.count(F.lit(1)).cast("double") / F.sum("n_variants"), 6
        ).alias("dup_rate"),
        F.max("n_variants").cast("long").alias("max_variants"),
        F.sum((F.col("n_variants") > 1).cast("int")).cast("long").alias(
            "n_dup_groups"
        ),
    )
