"""Scale-stress harness (r4 verdict item 2): exercise the engine's
scale CONSTANTS — broadcast admission, capped hot bands, checkpoint
sizes, histogram bins, skew splits — at a scale factor the shipped
fixtures don't reach, and its input contracts on planted
pathological rows.

The box carries no sf1 fixture, so this stages a ×F replica derived
from sf0.1 by KEY-SHIFTED replication: fact tables are unioned F
times with primary/foreign keys shifted per copy (orders+lineitem
share the orderkey shift so joins stay consistent); dimension tables
and every VALUE column are byte-identical to the fixture — purely
structural scaling, no synthesized data.  Note the semantic shift
that replication implies: every document/embedding appears F times
verbatim, so dedup queries see F-way exact-duplicate groups and ANN
ground truth has F-way score ties — a deliberately adversarial
regime for the bucketed operators (hot LSH bands, tie-broken top-k).
DuckDB writes the staged parquet AND serves as the oracle on the
same staged dir, so the comparison stays engine-vs-engine on
identical inputs at every factor.

Run:  python tools/scale_stress.py [--factor 10] [--base /root/testdata/sf0.1]
                                   [name-substr ...]
Writes SCALE_STRESS_x{F}.json at the repo root.

Every protocol has one shape: stage a replica (``_stage_replica``
with a per-table SELECT), run a query pool through
``tests.conftest.check_queries`` (each query against its DuckDB oracle
on the same staged files), and write one artifact
(``write_artifact``).  Name substrings scope every protocol's pool
(``select_names``); a scoped run writes a suffixed artifact and leaves
the full one untouched.

Other protocols (each its own flag, mutually exclusive):
  --timed           TIMED x10 bench (r9 verdict item 2): per-query
                    seconds on the uniform xF replica for the
                    structurally-optimized paths + the streaming four,
                    bench.py's estimator (untimed warm pass, then
                    TIMED_REPS interleaved reps, per-query MIN),
                    honoring $SPARK_GRAFT_CPUS — the sf0.1 box cannot
                    show parallelism (fixed driver cost dominates
                    sub-2s queries), so this is where plan-shape
                    claims get timed at a scale where they bind.  No
                    oracle compare (the x10 MATCH sweeps are
                    separate); writes SCALE_STRESS_timed_x{F}_c{cpus}.json.
  --rest            the x10 pool complement (everything not in
                    DEFAULT_QUERIES, minus disclosed REST_EXCLUDE)
  --skew N          hot-key replica (one user holds N copies)
  --boilerplate     hot-SHINGLE skew (shared preamble; BAND_CAP proof)
  --checksum        SF-proportional-output queries via XOR checksums,
                    merged into SCALE_STRESS_x{F}_rest.json

The dirty axes are one AXES entry each (planted rows per table, query
pool, mode text); an axis's flag is its name with dashes, its artifact
SCALE_STRESS_<name>.json:
  --dirty           pathological DOCUMENT + EMBEDDING rows (SCALE.md §13)
  --dirty-events    pathological EVENT rows (§14)
  --dirty-catalog   pathological part/supplier/customer strings (§16)
  --dirty-orders    pathological fact dates & numerics (§17)
  --dirty-trace     pathological rows hitting the trace/eventlog
                    render samples (§18)
  --dirty-binary    pathological binary payloads hitting the multimodal
                    decode contract (§19)
  --dirty-embeddings
                    pathological vector rows hitting the vector_ready
                    ingest contract (§20)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

from scache_spark.catalog import TABLES, staged_key


# (table, key columns to shift). orders/lineitem share the orderkey
# shift so the FK survives; dims are copied verbatim.
_SHIFTED: dict[str, list[str]] = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# Queries whose plans carry explicit scale constants; every name must
# resolve in the registry (the runner asserts it).
DEFAULT_QUERIES = [
    "flagship_revenue_by_region",   # broadcast dims
    "bucketed_join_revenue",        # write-time bucket layout
    "broadcast_decision_audit",     # SizeEstimator admission
    "agg_battery",                  # map-side combine
    "window_analytics",             # per-key windows
    "topk_per_group",               # TakeOrdered
    "stats_summary",
    "partition_stats",
    "skew_split_plan",              # AQE-style split planning
    "token_budget_selection",       # distributed prefix sum
    "funnel_session_conversion",
    "dedup_exact_hash",
    "dedup_minhash_pairs",          # capped hot bands, F-way dup groups
    "dedup_embedding_lsh",
    "dedup_semantic_cells",         # broadcast-K assignment
    "dedup_clusters",               # connected components
    "text_tfidf_top_terms",         # checkpointed tf
    "text_bm25_topk",
    "hybrid_rrf_retrieval",
    "ann_ivf_nprobe_recall",        # exact arm + IVF shortlists
    "pq_adc_topk",
    "retrieval_rerank_two_stage",
    "kmeans_two_rounds",
    "lpt_schedule_locality_swap",   # grouped-map heapq
    # tranche 2 (r5): window-heavy / iterative operators where the
    # replica's manufactured (user_id, ts) ties and 10x graph density
    # are the adversarial input — the family the tie-class findings
    # came from
    "asof_join_last_click",
    "asof_join_next_click",
    "session_feature_vector",
    "session_path_mining",
    "gaps_islands_streaks",
    "gap_fill_daily_revenue",
    "ewma_anomaly_flags",
    "cohort_retention",
    "attribution_linear_split",
    "pagerank_event_graph",
    "bfs_levels_event_graph",
    "kcore_peeling",
    "triangle_count_transitions",
    "window_distribution",
    "window_range_frame",
    # tranche 3 (r5): corpus-statistics operators whose estimates are
    # frequency-derived — the 10x verbatim duplication multiplies
    # every count while leaving the underlying distribution shape
    # identical, a regime that breaks any constant sized to "docs
    # seen" instead of "vocabulary"
    "ccnet_perplexity_buckets",
    "dsir_importance_weights",
    "zipf_slope_fit",
    "heaps_law_fit",
    "bpe_merge_rounds",
    "corpus_ngram_novelty",
    "text_pii_scrub",
    "text_langid",
    "tokenizer_fertility_stats",
    "text_token_entropy",
    "text_fingerprint",
    "text_repetition_signals",
    "event_log_parse",
]


# Normal queries re-run under heavy INPUT skew (one hot key): per-key
# windows, sessionizers, per-user state, graph ops on a hot vertex —
# the paths where a 1000x key would first OOM a sort or a state store.
SKEW_QUERIES = [
    "window_analytics",            # per-user window over the hot user
    "funnel_session_conversion",   # hot user's giant session chain
    "asof_join_last_click",
    "session_feature_vector",
    "gaps_islands_streaks",
    "ewma_anomaly_flags",
    "cohort_retention",
    "attribution_linear_split",
    "pagerank_event_graph",        # hot vertex degree
    "triangle_count_transitions",
    "topk_per_group",
    "agg_battery",
    "skew_diagnosis_report",       # should now REPORT the planted whale
    # streaming under the whale (r5 verdict item 8): per-user keyed
    # state where one key receives most of the stream, and the CMS's
    # adversarial case (one user = majority of all events)
    "stream_stateful_user_totals",
    "stream_update_mode_totals",
    "stream_cms_heavy_users",
]


# --boilerplate (r5 verdict item 1): hot-SHINGLE skew — a shared
# preamble appended to a fraction of documents, the real-corpus
# failure mode for banded LSH (every boilerplated doc's minhash is
# dominated by the shared shingles, so one band bucket holds most of
# the corpus).  Severity is split by DESIGN, disclosed here and in
# the artifact:
#   * GUARDED pool at the full 60%%-of-docs / 200-token severity —
#     operators carrying an explicit skew guard (the BAND_CAP bucket
#     demotion, the streaming bucket cap) must survive the worst case;
#   * UNGUARDED pool at 1%% — the plain banded self-joins have no cap,
#     and a 60%% shared preamble makes the TRUE answer itself
#     quadratic (~1.4e9 near-dup pairs at x10: every boilerplated pair
#     really is >=0.5 Jaccard), which no engine, oracle included, can
#     list.  1%% keeps the true pair set ~1e5 rows while still
#     planting band buckets ~100x over the uniform case, so AQE
#     skew-split handling is exercised with a verifiable output.
BOILERPLATE_WORDS = 200
BOILERPLATE = " ".join(f"bp{i}" for i in range(BOILERPLATE_WORDS))
BOILERPLATE_GUARDED = [
    "dedup_exact_hash",            # hash-groupBy control: skew-immune
    "dedup_minhash_capped_pairs",  # BAND_CAP demotion is the guard
    "stream_neardup_suppress",     # capped keyed state is the guard
    # the MITIGATION leg: at extreme severity the cap costs recall, so
    # the production pipeline strips boilerplate upstream with the
    # C4-style span rewrite — a linear pass (span-keyed pair agg +
    # per-span window; state = distinct spans, never pairs), verified
    # here on the worst-case corpus itself
    "dedup_span_rewrite",
    # r9: winnowing's FP_CAP demotes the preamble's shared
    # fingerprints before the pair space materializes — same guard
    # class as BAND_CAP, verified at the same severity
    "winnowing_neardup_pairs",
]
BOILERPLATE_UNGUARDED = [
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "dedup_incremental_batch",
]
BOILERPLATE_PCT_GUARDED = 60
BOILERPLATE_PCT_UNGUARDED = 1


def drop_replica(out: str) -> None:
    """Remove the staged dir ``out`` and every cache DERIVED from it
    (the avro/csv/orc alt-format stagings, the streaming source
    copies) — they key on the dir path, not its contents."""
    shutil.rmtree(out, ignore_errors=True)
    for root in (".alt_src", ".stream_src"):
        for d in glob.glob(os.path.join(REPO, root, f"*{staged_key(out)}*")):
            shutil.rmtree(d, ignore_errors=True)


def _stage_replica(base: str, name: str, select, marker: dict) -> str:
    """The one stager: write ``<repo>/.scale_stress/<base key>_<name>``
    with one parquet file per table, each the DuckDB query
    ``select(con, table, src)`` over the table's source scan ``src``,
    then a ``_STAGED`` marker holding ``base`` and ``marker``.  A dir
    that has its marker is reused as it is; otherwise ``drop_replica``
    clears it and its derived caches before staging afresh."""
    out = os.path.join(REPO, ".scale_stress", f"{staged_key(base)}_{name}")
    marker_path = os.path.join(out, "_STAGED")
    if os.path.exists(marker_path):
        return out
    drop_replica(out)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        sel = select(con, t, f"read_parquet('{base}/{t}.parquet')")
        con.execute(
            f"COPY ({sel}) TO '{out}/{t}.parquet' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE 262144)"
        )
        print(f"  staged {t}", flush=True)
    with open(marker_path, "w") as f:
        f.write(json.dumps({"base": base, **marker}))
    return out


def _shifted(con, base: str, t: str, src: str, factor: int) -> str:
    """``src`` unioned ``factor`` times with its key columns shifted
    per copy; dims verbatim."""
    shifts = _SHIFTED.get(t)
    if not shifts:
        return f"SELECT * FROM {src}"
    # one shift constant per base table family; orders and lineitem
    # both shift by the ORDERS key range
    shift_src = f"read_parquet('{base}/orders.parquet')" if t == "lineitem" else src
    shift_col = "o_orderkey" if t == "lineitem" else shifts[0]
    (span,) = con.execute(f"SELECT max({shift_col}) + 1 FROM {shift_src}").fetchone()
    repl = ", ".join(f"s.{c} + t.i * {span} AS {c}" for c in shifts)
    return f"SELECT s.* REPLACE ({repl}) FROM {src} s CROSS JOIN range({factor}) t(i)"


def stage(base: str, factor: int) -> str:
    """Stage the uniform xF key-shifted replica of ``base``."""
    return _stage_replica(
        base,
        f"x{factor}",
        lambda con, t, src: _shifted(con, base, t, src, factor),
        {"factor": factor},
    )


def stage_skew(base: str, hot_copies: int) -> str:
    """Stage a skewed replica: the smallest user_id's events and the
    smallest o_custkey's orders (+their lineitems) are replicated
    ``hot_copies`` extra times with shifted event/order keys, values
    untouched — one key ends up owning most of its table, which is
    what a viral user / hot SKU looks like at 100 TB."""
    orders = f"read_parquet('{base}/orders.parquet')"

    def select(con, t, src):
        one = lambda q: con.execute(q).fetchone()[0]  # noqa: E731
        if t == "events":
            key, span = "event_id", one(f"SELECT max(event_id) + 1 FROM {src}")
            hot = f"s.user_id = {one(f'SELECT min(user_id) FROM {src}')}"
        elif t in ("orders", "lineitem"):
            span = one(f"SELECT max(o_orderkey) + 1 FROM {orders}")
            hotc = one(f"SELECT min(o_custkey) FROM {orders}")
            if t == "orders":
                key, hot = "o_orderkey", f"s.o_custkey = {hotc}"
            else:
                key = "l_orderkey"
                hot = (
                    f"s.l_orderkey IN (SELECT o_orderkey FROM {orders} "
                    f"WHERE o_custkey = {hotc})"
                )
        else:
            return f"SELECT * FROM {src}"
        return (
            f"SELECT * FROM {src} UNION ALL "
            f"SELECT s.* REPLACE (s.{key} + (t.i + 1) * {span} AS {key}) "
            f"FROM {src} s CROSS JOIN range({hot_copies}) t(i) WHERE {hot}"
        )

    return _stage_replica(base, f"skew{hot_copies}", select, {"hot_copies": hot_copies})


def stage_boilerplate(base: str, factor: int, pct: int) -> str:
    """Stage a xF replica where ``pct`` percent of documents carry a
    shared BOILERPLATE preamble appended to their text; every other
    table is staged exactly as :func:`stage`.  Both engines read the
    same staged parquet, so the compare stays engine-vs-engine."""

    def select(con, t, src):
        sel = _shifted(con, base, t, src, factor)
        if t != "documents":
            return sel
        return (
            f"SELECT * REPLACE (CASE WHEN doc_id % 100 < {pct} "
            f"THEN text || ' {BOILERPLATE}' ELSE text END AS text) "
            f"FROM ({sel})"
        )

    return _stage_replica(
        base, f"x{factor}_bp{pct}", select, {"factor": factor, "boilerplate_pct": pct}
    )


# --dirty (r6): DIRTY-CORPUS stress — the pathological document rows a
# 100 TB web crawl certainly contains and the clean fixtures never
# exercise: empty text, whitespace-only, NULL text, single tokens
# (below the shingle width), a 500-char single token, unicode/emoji,
# pure digits+punctuation, all-stopword uppercase, control characters,
# massive single-word repetition.  Both engines read the same staged
# parquet, so any disagreement is a real divide-by-zero / empty-array
# / null-propagation semantics divergence in an operator or its
# oracle.  Runs at BASE scale (edge cases don't need volume), over
# every oracle-paired query whose oracle reads the documents table.
# Pathological EMBEDDINGS (r6b): the vector-side analog — a zero
# vector (dead encoder output: cosine is undefined, norms divide by
# zero), a NULL embedding, a large-magnitude vector, and a NULL
# label.  Dimension matches the fixture (64): dimension-MISMATCHED
# vectors are excluded by schema contract (a fixed-dim embedding
# column is a table invariant, not a row-level accident), and
# magnitudes stay within float32-square range (beyond it, engines
# legitimately differ in where they promote to double — an
# arithmetic-order artifact, not a correctness contract; any real
# pipeline normalizes embeddings at ingest).
_DIRTY_VECS_SQL = """
    SELECT CAST(t.vec_id AS BIGINT) AS vec_id,
           CAST(t.embedding AS FLOAT[]) AS embedding,
           CAST(t.label AS INT) AS label
    FROM (VALUES
      (990001, [0.0 for i in range(64)], 0),
      (990002, NULL, 1),
      (990003, [1000.0 for i in range(64)], 2),
      (990004, [CAST(i AS DOUBLE) / 64 for i in range(64)], NULL)
    ) t(vec_id, embedding, label)
"""

_DIRTY_ROWS_SQL = """
    SELECT CAST(t.doc_id AS BIGINT) AS doc_id, t.text,
           t.lang, t.source,
           CAST(coalesce(length(t.text), 0) AS INT) AS n_chars
    FROM (VALUES
      (90001, '', 'en', 'dirty'),
      (90002, '   ', 'en', 'dirty'),
      (90003, 'word', 'en', 'dirty'),
      (90004, 'two words', 'en', 'dirty'),
      (90005, repeat('x', 500), 'en', 'dirty'),
      (90006, 'héllo wörld ☃ 汉字 🤖', 'xx', 'dirty'),
      (90007, rtrim(repeat('spam ', 101)), 'en', 'dirty'),
      (90008, '123 456 !!! ???', 'en', 'dirty'),
      (90009, NULL, 'en', 'dirty'),
      (90010, 'THE A OF AND TO', 'en', 'dirty'),
      (90011, 'a' || chr(9) || 'b' || chr(10) || 'c', 'en', 'dirty'),
      (90012, ' leading  and trailing ', 'en', 'dirty'),
      (90013, 'source sanitizes to empty', 'en', '***!!!***')
    ) t(doc_id, text, lang, source)
"""


# --dirty-events (r7): DIRTY-EVENTS stress — the pathological event
# rows a real firehose certainly carries and the clean fixture never
# exercises: NULL event time, NULL/empty grouping keys, malformed /
# truncated / non-object / NULL props JSON, out-of-INT-range and
# float-valued JSON numbers, negative and absorbing-magnitude values,
# duplicate timestamps ON window boundaries, a pre-epoch straggler, a
# microsecond-precision tail event, and a full-row duplicate of an
# existing event.  Both engines read the same staged parquet, so any
# disagreement is a real null-propagation / JSON-strictness /
# window-boundary semantics divergence in an operator or its oracle.
# Note on watermark DROP timing: the availableNow replay stages the
# whole corpus as one file-source batch, so rows are never dropped as
# late mid-run — the late-arrival contract is pinned separately by
# stream_late_data_filter's explicit filter; what IS observable here
# is everything the watermark machinery does to NULL event times and
# boundary timestamps (emission, state keying, dedup identity).
_DIRTY_EVENTS_SQL = """
    SELECT CAST(t.event_id AS BIGINT) AS event_id,
           CAST(t.ts AS TIMESTAMP) AS ts,
           CAST(t.user_id AS BIGINT) AS user_id,
           t.event_type,
           CAST(t.value AS DOUBLE) AS value,
           t.props
    FROM (VALUES
      (9900001, NULL,                          7,    'click',    1.0,  '{"k": 1}'),
      (9900002, TIMESTAMP '2024-01-15 00:00:00', NULL, 'view',   2.0,  '{"k": 2}'),
      (9900003, TIMESTAMP '2024-01-15 00:00:00', 8,   NULL,      3.0,  '{"k": 3}'),
      (9900004, TIMESTAMP '2024-01-15 00:05:00', 8,   '',        4.0,  '{"k": 4}'),
      (9900005, TIMESTAMP '2024-01-15 00:05:00', 8,   'purchase', NULL, '{"k": 5}'),
      (9900006, TIMESTAMP '2024-01-10 12:00:00.000001', 9, 'click', -273.15, '{}'),
      (9900007, TIMESTAMP '2024-01-10 12:00:00.000001', 9, 'click', 1e308,
                '{"k": 99999999999999999999}'),
      (9900008, TIMESTAMP '2024-01-10 12:03:00', 9,   'click',   5.0,  '{"k": '),
      (9900009, TIMESTAMP '2024-01-10 12:04:00', 10,  'view',    6.0,  'not json at all'),
      (9900010, TIMESTAMP '2024-01-10 12:04:30', 10,  'view',    7.0,  NULL),
      (9900011, TIMESTAMP '2023-12-31 23:59:59', 11,  'signup',  8.0,  '{"k": -5}'),
      (9900012, TIMESTAMP '2024-01-30 23:59:59.999999', 12, 'purchase', 9.0,
                '{"k": 3.7}')
    ) t(event_id, ts, user_id, event_type, value, props)
"""


# --dirty-catalog (r7): DIRTY-CATALOG stress — pathological rows in the
# relational STRING columns (part/supplier/customer names, market
# segments) that every upstream master-data feed eventually delivers
# and the clean TPC-H-shaped fixtures never exercise: NULL / empty /
# whitespace-only names, exact-duplicate and case-variant names,
# unicode, a very long name, a single-token name, NULL balances, and
# NULL / empty / lowercase / padded / unicode market segments.  Keys
# stay unique and valid (PK violations are a schema contract, not a
# row-level accident).  Both engines read the same staged parquet, so
# any disagreement is a real NULL-ordering / collation / split /
# open-domain-pivot divergence in an operator or its oracle.  Pool:
# every oracle-paired query whose oracle reads a planted column.
_DIRTY_PART_SQL = """
    SELECT CAST(t.p_partkey AS BIGINT) AS p_partkey, t.p_name,
           t.p_brand, t.p_type,
           CAST(t.p_size AS INT) AS p_size,
           CAST(t.p_retailprice AS DOUBLE) AS p_retailprice
    FROM (VALUES
      (9900001, NULL,                    'Brand#1', 'ECONOMY', 1, 1.0),
      (9900002, '',                      'Brand#1', 'ECONOMY', 1, 2.0),
      (9900003, '   ',                   'Brand#1', 'SMALL',   2, 3.0),
      (9900004, 'small  ring',           'Brand#2', 'SMALL',   2, 4.0),
      (9900005, 'SMALL RING',            'Brand#2', 'MEDIUM',  3, 5.0),
      (9900006, 'pequeño añillo ☃',      'Brand#3', 'MEDIUM',  3, 6.0),
      (9900007, rtrim(repeat('x ', 50)), 'Brand#3', 'LARGE',   4, 7.0),
      (9900008, 'small ring',            'Brand#4', 'LARGE',   4, 8.0),
      (9900009, 'ring',                  'Brand#4', 'ECONOMY', 5, 9.0)
    ) t(p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
"""

_DIRTY_SUPPLIER_SQL = """
    SELECT CAST(t.s_suppkey AS BIGINT) AS s_suppkey, t.s_name,
           CAST(t.s_nationkey AS INT) AS s_nationkey,
           CAST(t.s_acctbal AS DOUBLE) AS s_acctbal
    FROM (VALUES
      (9900001, NULL,                 0, 0.0),
      (9900002, '',                   0, NULL),
      (9900003, 'Supplier#000000001', 1, -999.99),
      (9900004, 'Supplier#00000000',  1, 1.0),
      (9900005, 'SUPPLIER#000000001', 2, 2.0),
      (9900006, 'Suppliér#000000001', 2, 3.0)
    ) t(s_suppkey, s_name, s_nationkey, s_acctbal)
"""

_DIRTY_CUSTOMER_SQL = """
    SELECT CAST(t.c_custkey AS BIGINT) AS c_custkey, t.c_name,
           CAST(t.c_nationkey AS INT) AS c_nationkey,
           CAST(t.c_acctbal AS DOUBLE) AS c_acctbal, t.c_mktsegment
    FROM (VALUES
      (9900001, NULL,         0, NULL, NULL),
      (9900002, '',           0, 0.0,  ''),
      (9900003, 'Customer#X', 1, -5.0, 'automobile'),
      (9900004, 'Customer#Y', 1, 5.0,  ' BUILDING '),
      (9900005, 'Customer#Z', 2, 5.0,  'ünïcode')
    ) t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
"""

_DIRTY_CATALOG_COLS = (
    "p_name", "s_name", "c_name", "c_mktsegment", "p_brand", "p_type",
)


# --dirty-orders (r7): DIRTY-ORDERS stress — pathological rows in the
# FACT tables' dates and numerics: NULL / epoch / far-future order and
# ship dates, zero / negative / absurd-magnitude prices and
# quantities, a 100% and a negative discount, a 100% tax, NULL / empty
# status and priority strings.  Keys stay unique and referentially
# valid (planted lineitems reference planted orders and existing
# part/supplier keys).  This is the input class the temporal + TPC-H +
# mining families consume and no prior axis dirtied: NULL ordering
# keys inside windows, date arithmetic on NULL/boundary timestamps,
# ANSI division on zero quantities, sign-sensitive money rollups.
_DIRTY_ORDERS_SQL = """
    SELECT CAST(t.o_orderkey AS BIGINT) AS o_orderkey,
           CAST(t.o_custkey AS BIGINT) AS o_custkey,
           t.o_orderstatus,
           CAST(t.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(t.o_orderdate AS TIMESTAMP) AS o_orderdate,
           t.o_orderpriority
    FROM (VALUES
      (99000001, 0, 'O', 0.0,     TIMESTAMP '1970-01-01 00:00:00', '1-URGENT'),
      (99000002, 0, 'F', -1e9,    TIMESTAMP '2099-12-31 23:59:59', '5-LOW'),
      (99000003, 1, 'O', 1e12,    NULL,                            '3-MEDIUM'),
      (99000004, 1, NULL, NULL,   TIMESTAMP '2024-02-29 12:00:00', NULL),
      (99000005, 2, '',  123.45,  TIMESTAMP '2024-01-01 00:00:00', '')
    ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        o_orderpriority)
"""

_DIRTY_LINEITEM_SQL = """
    SELECT CAST(t.l_orderkey AS BIGINT) AS l_orderkey,
           CAST(t.l_partkey AS BIGINT) AS l_partkey,
           CAST(t.l_suppkey AS BIGINT) AS l_suppkey,
           CAST(t.l_linenumber AS INT) AS l_linenumber,
           CAST(t.l_quantity AS DOUBLE) AS l_quantity,
           CAST(t.l_extendedprice AS DOUBLE) AS l_extendedprice,
           CAST(t.l_discount AS DOUBLE) AS l_discount,
           CAST(t.l_tax AS DOUBLE) AS l_tax,
           t.l_returnflag, t.l_linestatus,
           CAST(t.l_shipdate AS TIMESTAMP) AS l_shipdate
    FROM (VALUES
      (99000001, 0, 0, 1, 0.0,  0.0,    0.0,  0.0, 'N', 'O',
       TIMESTAMP '1970-01-01 00:00:00'),
      (99000001, 1, 1, 2, -5.0, -100.0, 1.0,  1.0, 'R', 'F',
       TIMESTAMP '2099-12-31 23:59:59'),
      (99000002, 2, 2, 1, 1e6,  1e12,   -0.1, 0.5, NULL, NULL, NULL),
      (99000003, 3, 0, 1, NULL, NULL,   NULL, NULL, 'A', 'F',
       TIMESTAMP '2024-02-29 12:00:00'),
      (99000004, 4, 1, 1, 1.0,  50.0,   0.05, 0.08, '', '',
       TIMESTAMP '2024-01-01 00:00:00')
    ) t(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
        l_shipdate)
"""

_DIRTY_ORDERS_COLS = (
    "o_orderdate", "o_totalprice", "o_orderstatus", "o_orderpriority",
    "l_shipdate", "l_quantity", "l_discount", "l_extendedprice",
    "l_returnflag", "l_linestatus", "l_tax",
)


# --dirty-trace (r8): DIRTY-TRACE stress — the trace/eventlog parse
# family renders its log lines FROM lineitem (sampled
# l_orderkey % 50 = 0) and its monitor samples from events
# (event_id % 20 = 0), so planted rows that hit those samples flow
# into the rendered lines as exactly the garbage real logs carry:
# "null" tokens where format_string meets a NULL metric (the NA
# variant beyond blank — a non-numeric time/size field the parser
# must coerce), negative durations (TaskEnd before TaskStart:
# out-of-order spans), an absurd 1e13-second duration (the row that
# blows up an uncapped bucket explode), a fin==start attempt (zero
# task wall time -> 0/0 shuffle fraction), negative and NULL host
# ordinals (hosts the `host-(\d+)` parse cannot resolve and that have
# no monitor samples), NULL task ids, duplicate attempt ids with
# conflicting (-1 vs valid) metrics, and negative/NULL block sizes.
# The reference's own parsers are the fragile part (sim/train.py:64-
# 131, sim/util.py:21-51, deal_na_int at sim/sim.py:21-25).  Both
# engines read the same staged parquet; the oracles recompute the
# SAME quantities straight from lineitem, so every divergence is a
# real render->parse contract gap.
_DIRTY_TRACE_LINEITEM_SQL = """
    SELECT CAST(t.l_orderkey AS BIGINT) AS l_orderkey,
           CAST(t.l_partkey AS BIGINT) AS l_partkey,
           CAST(t.l_suppkey AS BIGINT) AS l_suppkey,
           CAST(t.l_linenumber AS INT) AS l_linenumber,
           CAST(t.l_quantity AS DOUBLE) AS l_quantity,
           CAST(t.l_extendedprice AS DOUBLE) AS l_extendedprice,
           CAST(t.l_discount AS DOUBLE) AS l_discount,
           CAST(t.l_tax AS DOUBLE) AS l_tax,
           t.l_returnflag, t.l_linestatus,
           CAST(t.l_shipdate AS TIMESTAMP) AS l_shipdate
    FROM (VALUES
      -- NULL quantity: run-time renders as the literal "null" token
      (99000050, 10, 3, 2, NULL, 500.0, 0.05, 0.02, 'N', 'O',
       TIMESTAMP '2024-01-01 00:00:00'),
      -- negative quantity: negative duration, TaskEnd before TaskStart
      (99000100, 11, 4, 2, -50.0, 600.0, 0.1, 0.01, 'N', 'O',
       TIMESTAMP '2024-01-02 00:00:00'),
      -- absurd quantity: 1e13-second span (the bucket-explode bomb)
      (99000150, 12, 2, 2, 1e12, 700.0, 0.0, 0.0, 'N', 'O',
       TIMESTAMP '2024-01-03 00:00:00'),
      -- negative suppkey: host "host--3..." the \\d+ parse rejects,
      -- and a span host absent from the monitor table
      (99000200, 13, -3, 2, 20.0, 800.0, 0.02, 0.03, 'N', 'O',
       TIMESTAMP '2024-01-04 00:00:00'),
      -- NULL suppkey: host "host-null...", NA rack/host ordinals
      (99000250, 14, NULL, 2, 30.0, 900.0, 0.01, 0.0, 'N', 'O',
       TIMESTAMP '2024-01-05 00:00:00'),
      -- duplicate attempt id, valid metrics ...
      (99000300, 15, 1, 2, 15.0, 111.0, 0.0, 0.0, 'N', 'O',
       TIMESTAMP '2024-01-06 00:00:00'),
      -- ... vs the same attempt id with a NULL-quantity retry record
      (99000300, 16, 1, 2, NULL, 222.0, 0.0, 0.0, 'N', 'O',
       TIMESTAMP '2024-01-06 00:00:00'),
      -- negative price: negative block size / shuffle-bytes tokens
      (99000350, 17, 1, 1, 40.0, -12345.67, 0.0, 0.0, 'N', 'O',
       TIMESTAMP '2024-01-07 00:00:00'),
      -- NULL price: "null" size token
      (99000400, 18, 0, 1, 50.0, NULL, 0.0, 0.0, 'N', 'O',
       TIMESTAMP '2024-01-08 00:00:00'),
      -- NULL partkey: "null" task/block-id fields
      (99000450, NULL, 2, 2, 12.0, 100.0, 0.01, 0.02, 'N', 'O',
       TIMESTAMP '2024-01-09 00:00:00'),
      -- NULL linenumber: NULL task id end to end
      (99000500, 19, 3, NULL, 8.0, 200.0, 0.0, 0.0, 'N', 'O',
       TIMESTAMP '2024-01-10 00:00:00'),
      -- NULL discount+tax: sort/finish legs go NA mid-record
      (99000550, 20, 4, 2, 10.0, 300.0, NULL, NULL, 'N', 'O',
       TIMESTAMP '2024-01-11 00:00:00'),
      -- fin == start: zero wall time, 0/0 shuffle fraction
      (99000600, 21, 1, 2, -2.0, 400.0, 0.0, 0.0, 'N', 'O',
       TIMESTAMP '2024-01-12 00:00:00')
    ) t(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
        l_shipdate)
"""

# Monitor-leg plants (event_id % 20 = 0 hits the sampled monitor):
# NULL host, negative host (Spark and DuckDB agree on signed %), NULL
# and negative utilization samples.
_DIRTY_TRACE_EVENTS_SQL = """
    SELECT CAST(t.event_id AS BIGINT) AS event_id,
           CAST(t.ts AS TIMESTAMP) AS ts,
           CAST(t.user_id AS BIGINT) AS user_id,
           t.event_type,
           CAST(t.value AS DOUBLE) AS value,
           t.props
    FROM (VALUES
      (9900020, TIMESTAMP '2024-01-15 01:00:00', NULL, 'monitor', 55.5, '{}'),
      (9900040, TIMESTAMP '2024-01-15 01:01:00', -7,   'monitor', 60.0, '{}'),
      (9900060, TIMESTAMP '2024-01-15 01:02:00', 13,   'monitor', NULL, '{}'),
      (9900080, TIMESTAMP '2024-01-15 01:03:00', 14,   'monitor', -5.0, '{}')
    ) t(event_id, ts, user_id, event_type, value, props)
"""

# The render->parse family: every query that consumes rendered log
# lines or the parsed attempt trace.
DIRTY_TRACE_QUERIES = [
    "event_log_parse",
    "task_host_utilization_align",
    "hadoop_attempt_trace_parse",
    "blockmanager_added_log_parse",
    "schedule_race_from_trace",
]


# --dirty-binary (r9, VERDICT item 3): DIRTY-BINARY stress — the binary
# twin of the trace axis.  The multimodal family decodes opaque binary
# payloads in mapInPandas; one hostile blob that crashes the decode UDF
# kills the whole task (and, at 100 TB, the job) — the exact class the
# r8 trace axis fixed for text.  The plants cover every failure class
# of the _safe_decode contract (scache_spark/operators/multimodal.py):
# a NULL payload, zero-byte and framed-zero-length assets, a bad-magic
# frame AND a bare magic prefix, a truncated frame (declared length !=
# actual), an oversize declared frame and an oversize RAW payload (the
# decode-budget bound that keeps one record from OOMing an executor),
# plus VALID framed assets on the audio and video legs proving the ok
# path decodes payload bytes (frames/windows come from the BODY, not
# the raw frame).  Doc ids are chosen so every mime leg (doc_id % 3)
# sees both a degraded and a healthy plant.  Both engines read the
# same staged parquet; the oracles mirror _safe_decode in SQL
# (_SQL_DECODE), so any disagreement is a real contract divergence.
_DIRTY_BINARY_ROWS_SQL = """
    SELECT CAST(t.doc_id AS BIGINT) AS doc_id, t.text,
           t.lang, t.source,
           CAST(coalesce(length(t.text), 0) AS INT) AS n_chars
    FROM (VALUES
      (91001, 'SCB1:10:short', 'en', 'binplant'),
      (91002, 'SCB9:5:hello', 'en', 'binplant'),
      (91003, 'SCB1:2000000:x', 'en', 'binplant'),
      (91004, 'SCB1:5:hello', 'en', 'binplant'),
      (91005, 'SCB', 'en', 'binplant'),
      (91006, NULL, 'en', 'binplant'),
      (91007, 'SCB1:256:' || repeat('ab', 128), 'en', 'binplant'),
      (91008, repeat('z', 1000001), 'en', 'binplant'),
      (91009, 'SCB1:200:' || repeat('xyzku', 40), 'en', 'binplant'),
      (91010, '', 'en', 'binplant'),
      (91011, 'SCB1:0:', 'en', 'binplant'),
      (91012, 'SCB1:72:' || repeat('☃', 24), 'en', 'binplant')
    ) t(doc_id, text, lang, source)
"""

# expected statuses, pinned by tests/test_scale_stress.py:
#   91001 truncated(video)   91002 bad_magic(image)  91003 oversize(audio)
#   91004 ok-framed(video)   91005 bad_magic(image)  91006 null_payload(audio)
#   91007 ok-framed(video,4 frames from body)        91008 oversize(image,raw)
#   91009 ok-framed(audio,3 windows from body)       91010 empty(video)
#   91011 empty(image,framed-zero-length)
#   91012 ok-framed(audio, MULTIBYTE body: 24 snowmen = 72 UTF-8 bytes,
#         so declared length, window count (72//64 = 1) and RMS values
#         are all BYTE-derived — the char-vs-byte regression plant for
#         the r9 audio-oracle fix; 24 chars would yield ZERO windows)

DIRTY_BINARY_QUERIES = [
    "multimodal_meta",
    "multimodal_features",
    "multimodal_feature_agg",
    "multimodal_frame_sample",
    "multimodal_phash_neardup",
    "multimodal_audio_energy",
    "multimodal_decode_audit",
]


# --dirty-embeddings (r9, this session): the vector-column corruption
# classes the r6 --dirty axis did NOT plant — wrong dimension
# (truncated/concatenated encoder write), NULL element (columnar
# partial flush), NaN (0/0 normalization upstream), +/-Inf (fp16
# overflow at encode), a float32-edge magnitude (1e20: its SQUARE
# overflows float32, so the row proves every dot/norm folds in
# DOUBLE), and a healthy vector under a corrupt NEGATIVE id (the
# seed-hijack probe for the "first K ids" IVF/k-means seed rule).
# Both engines read the same staged parquet; the contract under test
# is functions.vector_ready / SQL_VECTOR_READY at every embeddings
# load site, with embedding_ingest_audit counting each planted class.
_DIRTY_EMB_ROWS_SQL = """
    SELECT CAST(95001 AS BIGINT) AS vec_id,
           CAST(NULL AS FLOAT[]) AS embedding, CAST(1 AS INT) AS label
    UNION ALL SELECT 95002, CAST([] AS FLOAT[]), 2
    UNION ALL SELECT 95003,
      [CAST(0.01 * j AS FLOAT) for j in range(1, 33)], 3
    UNION ALL SELECT 95004,
      [CAST(0.01 * j AS FLOAT) for j in range(1, 129)], 4
    UNION ALL SELECT 95005,
      [CASE WHEN j = 7 THEN NULL ELSE CAST(0.01 * j AS FLOAT) END
       for j in range(1, 65)], 5
    UNION ALL SELECT 95006,
      [CASE WHEN j = 9 THEN CAST('nan' AS FLOAT)
            ELSE CAST(0.01 * j AS FLOAT) END for j in range(1, 65)], 6
    UNION ALL SELECT 95007,
      [CASE WHEN j = 11 THEN CAST('inf' AS FLOAT)
            ELSE CAST(0.01 * j AS FLOAT) END for j in range(1, 65)], 7
    UNION ALL SELECT 95008,
      [CASE WHEN j = 13 THEN CAST('-inf' AS FLOAT)
            ELSE CAST(0.01 * j AS FLOAT) END for j in range(1, 65)], 8
    UNION ALL SELECT 95009,
      [CAST(1.0e20 * (CASE WHEN j % 2 = 0 THEN 1 ELSE -1 END) AS FLOAT)
       for j in range(1, 65)], 9
    UNION ALL SELECT 95010,
      [CAST(0.02 * j AS FLOAT) for j in range(1, 65)], NULL
    UNION ALL SELECT -95011,
      [CAST(0.03 * j AS FLOAT) for j in range(1, 65)], 1
"""
# expected embedding_ingest_audit classes for the plants:
#   95001 null_vec    95002+95003+95004 wrong_dim   95005 null_elem
#   95006 nan_elem    95007+95008 inf_elem
#   95009 mag_outlier (finite float32-edge magnitude: flows the
#         order-mirrored dot/cosine folds — the double-fold proof —
#         but is excluded from the cross-dimension signed mean, the
#         avg-cancellation finding in SCALE.md §20 #8)
#   95010 ok (NULL label exercises the label-join paths)
#   -95011 ok (must NOT become an IVF/k-means seed despite id < K)
# (the r6 --dirty axis already plants zero_norm as vec 990001)


@dataclass(frozen=True)
class Axis:
    """One dirty axis.  ``plants`` maps a table to the SQL of the rows
    planted into it (it may name the table's source scan as the
    literal ``{src}``); ``n_rows`` is the planted-row count the staging
    marker records; ``pool`` is a fixed query list or a predicate over
    oracle SQL (every registered query whose oracle satisfies it);
    ``mode`` describes the axis in its artifact.  The axis stages to
    ``<base key>_<name>``, runs under ``flag`` and writes
    SCALE_STRESS_<name>.json."""

    name: str
    plants: dict[str, str]
    n_rows: int
    pool: list[str] | Callable[[str], bool]
    mode: str

    @property
    def flag(self) -> str:
        return "--" + self.name.replace("_", "-")


AXES = {
    a.name: a
    for a in (
        Axis(
            "dirty",
            {"documents": _DIRTY_ROWS_SQL, "embeddings": _DIRTY_VECS_SQL},
            13,
            lambda o: "documents" in o or "embeddings" in o,
            "dirty-corpus (13 planted pathological document rows)",
        ),
        Axis(
            "dirty_events",
            {
                "events": _DIRTY_EVENTS_SQL
                + " UNION ALL SELECT * FROM {src} WHERE event_id = 42"
            },
            13,
            lambda o: "events" in o,
            "dirty-events (12 planted pathological event rows "
            "+ 1 full-row duplicate of event_id 42)",
        ),
        Axis(
            "dirty_catalog",
            {
                "part": _DIRTY_PART_SQL,
                "supplier": _DIRTY_SUPPLIER_SQL,
                "customer": _DIRTY_CUSTOMER_SQL,
            },
            9 + 6 + 5,
            lambda o: any(c in o for c in _DIRTY_CATALOG_COLS),
            "dirty-catalog (20 planted pathological part/supplier/"
            "customer rows: NULL/empty/dup/case/unicode names, NULL "
            "balances, NULL/empty/lowercase/padded segments)",
        ),
        Axis(
            "dirty_orders",
            {"orders": _DIRTY_ORDERS_SQL, "lineitem": _DIRTY_LINEITEM_SQL},
            5 + 5,
            lambda o: any(c in o for c in _DIRTY_ORDERS_COLS),
            "dirty-orders (10 planted pathological orders/lineitem "
            "rows: NULL/epoch/future dates, zero/negative/1e12 money, "
            "100%/negative discounts, NULL/empty statuses)",
        ),
        Axis(
            "dirty_trace",
            {"lineitem": _DIRTY_TRACE_LINEITEM_SQL, "events": _DIRTY_TRACE_EVENTS_SQL},
            13 + 4,
            DIRTY_TRACE_QUERIES,
            "dirty-trace (13 planted lineitem rows hitting the "
            "l_orderkey%50 trace sample + 4 monitor events: 'null' "
            "tokens in time/size/host/id fields, negative and 1e13-second "
            "durations, out-of-order spans, fin==start 0/0 fractions, "
            "unparseable host ordinals, duplicate attempt ids with "
            "conflicting metrics)",
        ),
        Axis(
            "dirty_binary",
            {"documents": _DIRTY_BINARY_ROWS_SQL},
            12,
            DIRTY_BINARY_QUERIES,
            "dirty-binary (12 planted binary-payload rows: NULL / "
            "zero-byte / framed-zero-length assets, bad-magic and "
            "bare-magic frames, a truncated frame, oversize declared and "
            "oversize raw payloads past the 1 MB decode budget, valid "
            "framed audio/video assets proving body-byte decode, and a "
            "MULTIBYTE framed audio asset whose declared length and "
            "window count are UTF-8-byte-derived — the r9 char-vs-byte "
            "audio-oracle regression plant)",
        ),
        Axis(
            "dirty_embeddings",
            {"embeddings": _DIRTY_EMB_ROWS_SQL},
            11,
            lambda o: "embeddings" in o,
            "dirty-embeddings (11 planted vector rows: NULL / empty / "
            "short-32 / long-128 vectors, NULL / NaN / +Inf / -Inf "
            "elements, a 1e20 float32-edge magnitude vector, a healthy "
            "NULL-label vector, and a healthy vector under a negative id "
            "probing the seed-id-range rule)",
        ),
    )
}


def stage_axis(base: str, name: str) -> str:
    """Stage ``base`` with axis ``name``'s rows appended to their
    tables; every other table is copied verbatim."""
    axis = AXES[name]

    def select(con, t, src):
        sel = f"SELECT * FROM {src}"
        if t in axis.plants:
            # .replace, not .format: plant SQL legitimately contains
            # literal braces (JSON props, struct literals)
            sel += " UNION ALL " + axis.plants[t].replace("{src}", src)
        return sel

    return _stage_replica(base, name, select, {"dirty_rows": axis.n_rows})


def axis_pool(name: str) -> list[str]:
    """Axis ``name``'s query pool: its fixed list (asserted
    registered) or, sorted, every registered query whose oracle
    satisfies its predicate."""
    from scache_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    pool = AXES[name].pool
    if callable(pool):
        return sorted(
            n for n, s in REGISTRY.items() if s.oracle is not None and pool(s.oracle)
        )
    missing = [n for n in pool if n not in REGISTRY]
    assert not missing, f"{name} pool names not registered: {missing}"
    return list(pool)


def run_axis(base: str, name: str, subs: list[str]) -> None:
    """Stage axis ``name``, check its (scoped) pool against the DuckDB
    oracles on the staged files and write its artifact."""
    from scache_spark.session import get_session
    from tests.conftest import check_queries

    names = select_names(axis_pool(name), subs)
    tag = name.replace("_", "-")
    print(f"staging {tag} replica from {base} ...", flush=True)
    sf_dir = stage_axis(base, name)
    spark = get_session(f"scale-stress-{tag}")
    results = check_queries(spark, sf_dir, names)
    write_artifact(name, subs, {"base": base, "mode": AXES[name].mode, **_summary(results)})


def hot_band_stats(sf_dir: str) -> dict:
    """Diagnostic: size of the largest (band_id, band_hash) bucket and
    the number of buckets the BAND_CAP guard demotes, computed on the
    staged dir with the SAME band pipeline the queries use — this is
    what proves the stress actually planted hot bands and the cap
    actually triggered."""
    from scache_spark.operators.dedup import (
        _AUG_SQL,
        _BAND_SQL,
        _SHINGLE_SQL,
        _SIG_SQL,
        BAND_CAP,
        N_BANDS,
    )

    from tests.conftest import oracle_con

    con = oracle_con(sf_dir, ["documents"])
    melted = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_id, band_{j} AS band_hash FROM bands"
        for j in range(N_BANDS)
    )
    row = con.execute(
        f"""
        WITH {_AUG_SQL}, {_SHINGLE_SQL},
        sigs AS (SELECT doc_id, {_SIG_SQL} FROM shingled),
        bands AS (SELECT doc_id, {_BAND_SQL} FROM sigs),
        melted AS ({melted}),
        buckets AS (SELECT band_id, band_hash, count(*) AS n
                    FROM melted GROUP BY band_id, band_hash)
        SELECT max(n), count(*) FILTER (n > {BAND_CAP}) FROM buckets
        """
    ).fetchone()
    return {
        "max_bucket_docs": int(row[0]),
        "buckets_over_cap": int(row[1]),
        "band_cap": BAND_CAP,
    }


# --timed pool: every path structurally changed in the r9/r10
# optimization rounds (whose local wins were noise-bound or argued
# from plan shape) plus the streaming four (whose cost is availableNow
# machinery that should AMORTIZE, not grow, at x10).
TIMED_QUERIES = [
    # r9 structural rewrites
    "tpch_q21_waiting_suppliers",
    "tpch_q17_small_quantity_revenue",
    "dedup_span_rewrite",
    "heavy_hitters_cms",
    "dsir_importance_weights",
    "leakage_safe_split",
    "matryoshka_truncation_recall",
    "cooccurrence_brand_pairs",
    "dedup_minhash_pairs",
    "dedup_minhash_capped_pairs",
    "dedup_source_overlap_matrix",
    "dedup_incremental_batch",
    "dedup_minhash_signature",
    "dedup_substring_pairs",
    "winnowing_neardup_pairs",
    "kmeans_two_rounds",
    # r10 structural rewrites
    "text_bm25_topk",
    "hybrid_rrf_retrieval",
    "ann_ivf_nprobe_recall",
    "community_label_propagation",
    "classifier_auc_rank",
    # the streaming four (bench headliners)
    "stream_tumbling_window",
    "stream_cms_heavy_users",
    "stream_neardup_suppress",
    "stream_transform_with_state_mix",
]


# --timed interleaved reps per query (after the untimed warm pass)
TIMED_REPS = 3


def run_timed(base: str, factor: int, subs: list[str]) -> None:
    """Timed x10 bench over TIMED_QUERIES: bench.py's sum-of-min
    estimator on the uniform replica.  Intentionally mirrors bench.py
    (untimed warm pass first; each rep rebuilds fn() inside the timed
    region, checkpoints included; interleaved passes; per-query MIN)
    so the numbers are comparable to the sf0.1 bench modulo scale."""
    from scache_spark.registry import REGISTRY, _ensure_loaded
    from scache_spark.session import get_session

    _ensure_loaded()
    missing = [n for n in TIMED_QUERIES if n not in REGISTRY]
    assert not missing, f"timed pool names not registered: {missing}"
    names = select_names(TIMED_QUERIES, subs)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    print(f"staging x{factor} from {base} ...", flush=True)
    sf_dir = stage(base, factor)
    spark = get_session(f"scale-stress-timed-c{cpus}")
    spark.range(1000).count()
    if any(n.startswith("stream_") for n in names):
        from scache_spark.streaming.windows import (
            _staged_documents_dir,
            _staged_events_dir,
        )

        _staged_events_dir(spark, sf_dir, copies=1)
        _staged_documents_dir(spark, sf_dir)
    samples: dict[str, list[float]] = {n: [] for n in names}
    rows: dict[str, int] = {}
    for rep in range(TIMED_REPS + 1):  # rep 0 = untimed warm
        for name in names:
            t0 = time.time()
            rows[name] = REGISTRY[name].fn(spark, sf_dir).count()
            dt = time.time() - t0
            if rep > 0:
                samples[name].append(dt)
            print(
                f"  pass {rep}/{TIMED_REPS} {name:32s} {dt:6.1f}s "
                f"({rows[name]} rows)",
                flush=True,
            )
    timings = {n: round(min(ts), 3) for n, ts in samples.items()}
    out = {
        "base": base,
        "mode": f"timed uniform x{factor}",
        "metric": "per_query_min_sec",
        "factor": factor,
        "cpus": int(cpus),
        "reps": TIMED_REPS,
        "total_sec": round(sum(timings.values()), 3),
        "queries": timings,
        "samples": {n: [round(x, 3) for x in ts] for n, ts in samples.items()},
        "rows": rows,
    }
    print(f"\ntotal {out['total_sec']}s over {len(timings)} queries")
    write_artifact(f"timed_x{factor}_c{cpus}", subs, out)


# Excluded from the --rest sweep, each for a stated reason — never
# silently (the no-silent-caps rule):
REST_EXCLUDE = {
    # brute-force validator, quadratic BY DESIGN over the replicated
    # documents table (x10 verbatim copies => 100x pair space); it
    # exists to validate the bucketed operators, which ARE swept.
    # (fuzzy_match_levenshtein left the list in r7: it reads only the
    # part DIM, which the replica copies verbatim, so its x10 cost is
    # its sf0.1 cost.)
    "dedup_ngram_jaccard",
    # LSH parameter-sweep harness whose MEASURED-pairs leg is uncapped
    # by design (it evaluates cap-free banding at a grid of (bands,
    # rows) configs).  x10 attempt, r7: the replica's 10-way verbatim
    # duplication puts >=10 members in EVERY band bucket at EVERY grid
    # point — the oracle side alone burned >50 min of CPU before the
    # run was cut.  Quadratic amplification here is a property of the
    # duplicated REPLICA, not of the operator (whose capped production
    # siblings are x10- and boilerplate-stress-verified); stays
    # sf0.1-only.
    "lsh_design_curve",
    # output is SF-proportional (6M rows at x10), so the pandas frame
    # COMPARE, not the engine, is the cost — these two are x10-verified
    # by --checksum instead (count + order-independent XOR checksum on
    # both engines, r5 verdict item 4)
    "math_funcs",
    "merge_upsert_orders",
}

# --checksum (r5 verdict item 4): the two SF-proportional-output
# queries, verified at x10 by reducing BOTH engines' result sets to
# (row count, XOR of per-row md5-derived 60-bit hashes) — O(1) compare
# payload regardless of result size.  Doubles are rendered at fixed
# %.6f precision on both sides (raw cast-to-string float rendering is
# not engine-portable).
CHECKSUM_QUERIES = ["merge_upsert_orders", "math_funcs"]
_NULL_TOKEN = "\x00NULL"


def _spark_checksum(df) -> tuple[int, int]:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    parts = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            s = F.format_string("%.6f", c.cast("double"))
        else:
            s = c.cast("string")
        parts.append(F.coalesce(s, F.lit(_NULL_TOKEN)))
    row_hash = F.conv(
        F.substring(F.md5(F.concat_ws(chr(31), *parts)), 1, 15), 16, 10
    ).cast("long")
    n, x = df.agg(
        F.count(F.lit(1)).cast("long"), F.bit_xor(row_hash).cast("long")
    ).first()
    return int(n), int(x or 0)


def _duckdb_checksum(con, oracle: str) -> tuple[int, int]:
    cols = con.execute(f"DESCRIBE SELECT * FROM ({oracle}) q").fetchall()
    parts = []
    for name, typ, *_ in cols:
        if typ.upper() in ("DOUBLE", "FLOAT", "REAL"):
            s = f"printf('%.6f', CAST(\"{name}\" AS DOUBLE))"
        else:
            s = f'CAST("{name}" AS VARCHAR)'
        parts.append(f"coalesce({s}, chr(0) || 'NULL')")
    concat = " || chr(31) || ".join(parts)
    row = con.execute(
        f"""SELECT CAST(count(*) AS BIGINT),
                   CAST(bit_xor(CAST('0x' || substr(md5({concat}), 1, 15)
                        AS BIGINT)) AS BIGINT)
            FROM ({oracle}) q"""
    ).fetchone()
    return int(row[0]), int(row[1] or 0)


def select_names(pool: list[str], subs: list[str]) -> list[str]:
    """The names in ``pool`` containing any of the substrings ``subs``
    (the whole pool when there are none)."""
    return [n for n in pool if not subs or any(s in n for s in subs)]


def _summary(results: dict) -> dict:
    return {
        "n_queries": len(results),
        "n_fail": sum(r["status"] == "FAIL" for r in results.values()),
        "total_sec": round(sum(r.get("sec") or 0 for r in results.values()), 1),
        "queries": results,
    }


def write_artifact(
    stem: str, subs: list[str], out: dict, *, ok: bool = True, merge: bool = False
) -> None:
    """Write ``out`` to SCALE_STRESS_<stem>.json at the repo root — a
    run scoped by name substrings ``subs`` writes a suffixed file, so
    it never clobbers the full artifact.  With ``merge`` the run's
    queries join those already in that file.  A protocol that checks
    queries (``out`` has ``n_fail``) then reports and exits 1 on a
    failure of this run or when not ``ok``."""
    suffix = "" if not subs else "_" + "_".join(subs)[:40]
    path = os.path.join(REPO, f"SCALE_STRESS_{stem}{suffix}.json")
    n_fail = out.get("n_fail")
    if merge and os.path.exists(path):
        with open(path) as f:
            old = json.load(f)
        out = {**old, **_summary({**old["queries"], **out["queries"]})}
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    if n_fail is None:
        print(f"wrote {path}")
        return
    print(f"\n{'ALL MATCH' if n_fail == 0 else f'{n_fail} FAILURES'} — wrote {path}")
    sys.exit(1 if n_fail or not ok else 0)


def run_boilerplate(base: str, factor: int, subs: list[str]) -> None:
    """The hot-shingle protocol: guarded operators at full severity,
    unguarded banded self-joins at the mild severity (rationale at the
    BOILERPLATE constants above), one disclosed artifact."""
    from scache_spark.session import get_session
    from tests.conftest import check_queries

    spark = get_session("scale-stress-boilerplate")
    out: dict = {"base": base, "factor": factor, "pools": {}}
    n_fail = 0
    for label, pct, full_pool in (
        ("guarded", BOILERPLATE_PCT_GUARDED, BOILERPLATE_GUARDED),
        ("unguarded", BOILERPLATE_PCT_UNGUARDED, BOILERPLATE_UNGUARDED),
    ):
        pool = select_names(full_pool, subs)
        if not pool:
            continue
        print(f"staging x{factor} bp{pct} from {base} ...", flush=True)
        sf_dir = stage_boilerplate(base, factor, pct)
        print("  computing hot-band stats ...", flush=True)
        stats = hot_band_stats(sf_dir)
        print(f"  {stats}", flush=True)
        results = check_queries(spark, sf_dir, pool)
        n_fail += sum(r["status"] == "FAIL" for r in results.values())
        out["pools"][label] = {
            "boilerplate_pct": pct,
            "boilerplate_words": BOILERPLATE_WORDS,
            "hot_band_stats": stats,
            "queries": results,
        }
    g = out["pools"].get("guarded", {}).get("hot_band_stats")
    # the stress is only meaningful if the cap actually triggered
    out["cap_triggered"] = bool(g and g["buckets_over_cap"] > 0)
    out["n_fail"] = n_fail
    write_artifact("boilerplate", subs, out, ok=out["cap_triggered"])


def run_checksum(base: str, factor: int, subs: list[str]) -> None:
    """x10-verify the SF-proportional-output queries by checksum and
    MERGE the rows into SCALE_STRESS_x{F}_rest.json so the rest-sweep
    artifact carries every query (the r5 exclusion note pointed here)."""
    from scache_spark.registry import REGISTRY, _ensure_loaded
    from scache_spark.session import get_session
    from tests.conftest import oracle_con

    _ensure_loaded()
    from __spark_entry__ import oracle_sql

    oracles = oracle_sql()
    print(f"staging x{factor} from {base} ...", flush=True)
    sf_dir = stage(base, factor)
    spark = get_session("scale-stress-checksum")
    con = oracle_con(sf_dir)
    results: dict[str, dict] = {}
    for name in select_names(CHECKSUM_QUERIES, subs):
        t0 = time.time()
        try:
            sn, sx = _spark_checksum(REGISTRY[name].fn(spark, sf_dir))
            on, ox = _duckdb_checksum(con, oracles[name])
            ok = (sn, sx) == (on, ox)
            err = None if ok else f"spark=({sn},{sx}) oracle=({on},{ox})"
        except Exception as ex:  # noqa: BLE001 - triage artifact
            ok, err, sn = False, str(ex)[:300], None
        results[name] = {
            "status": "MATCH" if ok else "FAIL",
            "sec": round(time.time() - t0, 1),
            "rows": sn,
            "err": err,
            "compare": "count+xor_checksum(%.6f doubles)",
        }
        print(f"  {name:32s} {results[name]['status']}  {results[name]['sec']}s "
              f"({sn} rows)", flush=True)
    out = {"base": base, "mode": f"uniform x{factor}", "factor": factor}
    write_artifact(f"x{factor}_rest", subs, {**out, **_summary(results)}, merge=True)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    factor, base, skew = 10, "/root/testdata/sf0.1", None
    if "--factor" in args:
        i = args.index("--factor")
        factor = int(args[i + 1])
        del args[i : i + 2]
    if "--skew" in args:
        i = args.index("--skew")
        skew = int(args[i + 1])
        del args[i : i + 2]
    if "--base" in args:
        i = args.index("--base")
        base = args[i + 1]
        del args[i : i + 2]
    # Exclusive protocol flags: each runs its own staging + pool, so AT
    # MOST ONE may be set (r9: collected into a table — the previous
    # per-flag guard ladder had to enumerate every earlier flag and a
    # missed term would silently let two stagers share an artifact).
    protocols = {
        "--timed": lambda: run_timed(base, factor, subs),
        "--boilerplate": lambda: run_boilerplate(base, factor, subs),
        "--checksum": lambda: run_checksum(base, factor, subs),
        **{a.flag: (lambda n=n: run_axis(base, n, subs)) for n, a in AXES.items()},
    }
    chosen = [f for f in protocols if f in args]
    for f in chosen:
        args.remove(f)
    rest = "--rest" in args
    if rest:
        args.remove("--rest")
    subs = args
    if len(chosen) > 1:
        sys.exit(f"scale_stress: {' '.join(chosen)} are mutually exclusive "
                 "protocols; run them separately")
    # flag validation (r5 advice): the --rest pool is defined against
    # the uniform replica, and a skew factor below 1 replicates nothing
    if rest and skew is not None:
        sys.exit("scale_stress: --rest cannot be combined with --skew; run separately")
    if skew is not None and skew < 1:
        sys.exit("scale_stress: --skew requires a hot-copy count >= 1")
    if chosen and (rest or skew is not None):
        sys.exit(f"scale_stress: {chosen[0]} is its own protocol and cannot "
                 "be combined with --rest/--skew")
    if chosen:
        protocols[chosen[0]]()
        return

    from scache_spark.registry import REGISTRY, _ensure_loaded
    from scache_spark.session import get_session
    from tests.conftest import check_queries

    _ensure_loaded()
    if rest:
        from scache_spark.plans import SHAPE_SKIP_PREFIXES

        pool = sorted(
            n
            for n in REGISTRY
            if not n.startswith(SHAPE_SKIP_PREFIXES)
            and n not in DEFAULT_QUERIES
            and n not in REST_EXCLUDE
        )
    elif skew:
        pool = SKEW_QUERIES
    else:
        pool = DEFAULT_QUERIES
    names = select_names(pool, subs)
    missing = [n for n in names if n not in REGISTRY]
    assert not missing, f"unknown queries: {missing}"

    if skew:
        print(f"staging skew x{skew} hot-key replica from {base} ...", flush=True)
        sf_dir = stage_skew(base, skew)
    else:
        print(f"staging x{factor} from {base} ...", flush=True)
        sf_dir = stage(base, factor)

    spark = get_session("scale-stress")
    results = check_queries(spark, sf_dir, names)
    tag = f"skew{skew}" if skew else f"x{factor}"
    out = {
        "base": base,
        "mode": f"skew hot_copies={skew}" if skew else f"uniform x{factor}",
        "factor": factor,
        **_summary(results),
    }
    write_artifact(f"{tag}_rest" if rest else tag, subs, out)


if __name__ == "__main__":
    main()
