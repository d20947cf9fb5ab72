"""Property-fuzzed dirty-input contracts (r6 verdict item 5).

The r6/r7 dirty-corpus and dirty-events passes fixed 52 wrong-answer
divergences against FIXED planted fixtures; this suite fuzzes the same
contract classes per-CI: hypothesis generates corpora with random
NULL / empty / whitespace / unicode / control-char text, zero-norm and
NULL embeddings, and events with NULL timestamps, NULL/empty keys,
malformed props JSON and absorbing magnitudes — then asserts engine ==
oracle on every generated corpus for the contract-critical queries.

Runtime discipline: few examples, small corpora, one shared Spark
session — the value is in the GENERATOR (each CI run walks a different
corner of the contract space), not in example count.
"""

from __future__ import annotations

import datetime

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# --- row strategies -------------------------------------------------------

_WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india".split()

_clean_text = st.lists(
    st.sampled_from(_WORDS), min_size=5, max_size=30
).map(" ".join)

_dirty_text = st.one_of(
    st.none(),
    st.just(""),
    st.text(alphabet=" \t\n", min_size=1, max_size=8),          # whitespace
    st.text(alphabet="é☃🎉中文", min_size=1, max_size=12),       # unicode
    st.text(alphabet="\x00\x01\x07", min_size=1, max_size=4),   # control
    st.sampled_from(_WORDS),                                    # sub-shingle
    st.lists(st.sampled_from(_WORDS[:2]), min_size=2, max_size=4).map(
        " ".join
    ),  # short, high-collision
)

_doc_text = st.one_of(_clean_text, _dirty_text)

_DIM = 64  # the fixture dimension — embedding_dim_stats contracts it

# a 64-float literal per example is too large a base example for
# hypothesis to shrink; generate a SEED and expand it deterministically
_vec_token = st.one_of(
    st.integers(min_value=0, max_value=2**31 - 1),  # seed -> clean vector
    st.integers(min_value=0, max_value=2**31 - 1),
    st.none(),      # NULL embedding (ingest reject)
    st.just(-1),    # dead encoder -> zero vector
    # r9 vector_ready classes (SCALE.md §20): each draws ONE malformed
    # shape the well-formedness clause must reject in both engines
    st.just(-2),    # truncated write -> short vector
    st.just(-3),    # concatenated write -> long vector
    st.just(-4),    # partial columnar flush -> NULL element
    st.just(-5),    # 0/0 normalization upstream -> NaN element
    st.just(-6),    # fp16 overflow at encode -> +Inf element
    st.just(-7),    # empty list
    st.just(-8),    # float32-edge magnitude (well-formed; double-fold)
)


def _expand_vec(tok):
    if tok is None:
        return None
    if tok == -1:
        return [0.0] * _DIM
    if tok == -2:
        return [0.5] * (_DIM // 2)
    if tok == -3:
        return [0.5] * (_DIM * 2)
    if tok == -4:
        return [0.5] * (_DIM - 1) + [None]
    if tok == -5:
        return [float("nan")] + [0.5] * (_DIM - 1)
    if tok == -6:
        return [0.5] * (_DIM - 1) + [float("inf")]
    if tok == -7:
        return []
    if tok == -8:
        return [1.0e20 if i % 2 else -1.0e20 for i in range(_DIM)]
    import numpy as np

    rs = np.random.RandomState(tok)
    return [float(x) for x in rs.uniform(-4, 4, _DIM).astype("float32")]

_BASE_TS = datetime.datetime(2024, 1, 10, 12, 0, 0)
_event_ts = st.one_of(
    st.none(),
    st.integers(min_value=0, max_value=3 * 24 * 3600).map(
        lambda s: _BASE_TS + datetime.timedelta(seconds=s)
    ),
    # duplicate boundary timestamps with a microsecond tail
    st.sampled_from(
        [
            _BASE_TS,
            _BASE_TS + datetime.timedelta(microseconds=1),
            datetime.datetime(2023, 12, 31, 23, 59, 59),
        ]
    ),
)
_event_props = st.one_of(
    st.integers(min_value=-5, max_value=99).map(lambda k: f'{{"k": {k}}}'),
    st.none(),
    st.sampled_from(
        [
            '{"k": ',
            "not json at all",
            "{}",
            '{"k": 99999999999999999999}',
            '{"k": 3.7}',
            '{"k": -0.0}',
            "[1, 2]",
        ]
    ),
)
_event_value = st.one_of(
    st.floats(min_value=-100.0, max_value=100.0, allow_nan=False),
    st.none(),
    st.sampled_from([1e308, -1e308, -273.15, 0.0]),
)
_event_type = st.one_of(
    st.sampled_from(["click", "view", "purchase", "signup"]),
    st.none(),
    st.just(""),
)
_user_id = st.one_of(st.integers(min_value=0, max_value=9), st.none())


# --- corpus staging -------------------------------------------------------


def _stage(tmp, docs=None, vecs=None, events=None) -> str:
    """Write generated rows as the fixture parquet layout (DuckDB COPY
    with explicit casts, the scale_stress staging convention) so both
    engines read identical files."""
    con = duckdb.connect()
    if docs is not None:
        pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
        pdf["lang"] = "en"
        pdf["source"] = (["web", "books", "code"] * (len(pdf) // 3 + 1))[
            : len(pdf)
        ]
        pdf["n_chars"] = [len(t) if t is not None else 0 for t in pdf["text"]]
        con.register("d", pdf)
        con.execute(
            f"""COPY (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                        CAST(text AS VARCHAR) AS text, lang,
                        source, CAST(n_chars AS BIGINT) AS n_chars FROM d)
                TO '{tmp}/documents.parquet' (FORMAT PARQUET)"""
        )
    if vecs is not None:
        pdf = pd.DataFrame(vecs, columns=["vec_id", "embedding", "label"])
        con.register("v", pdf)
        con.execute(
            f"""COPY (SELECT CAST(vec_id AS BIGINT) AS vec_id,
                        CAST(embedding AS FLOAT[]) AS embedding,
                        CAST(label AS INT) AS label FROM v)
                TO '{tmp}/embeddings.parquet' (FORMAT PARQUET)"""
        )
    if events is not None:
        pdf = pd.DataFrame(
            events, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        con.register("e", pdf)
        con.execute(
            f"""COPY (SELECT CAST(event_id AS BIGINT) AS event_id,
                        CAST(ts AS TIMESTAMP) AS ts,
                        CAST(user_id AS BIGINT) AS user_id,
                        event_type, CAST(value AS DOUBLE) AS value, props
                FROM e)
                TO '{tmp}/events.parquet' (FORMAT PARQUET)"""
        )
    return str(tmp)


def _check(spark, sf_dir: str, names: list[str], tables: list[str]) -> None:
    from __spark_entry__ import oracle_sql
    from scache_spark.registry import REGISTRY, _ensure_loaded
    from tests.conftest import assert_frames_match, oracle_con

    _ensure_loaded()
    oracles = oracle_sql()
    con = oracle_con(sf_dir, tables)
    for name in names:
        spdf = REGISTRY[name].fn(spark, sf_dir).toPandas()
        odf = con.execute(oracles[name]).df()
        assert_frames_match(spdf, odf, name)


# --- properties -----------------------------------------------------------

_SETTINGS = settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_SETTINGS
@given(texts=st.lists(_doc_text, min_size=20, max_size=40))
def test_document_contracts_fuzzed(spark, tmp_path_factory, texts):
    """Ingest + shingle-participation + fingerprint contracts hold for
    ANY mix of NULL/blank/unicode/control/sub-shingle documents."""
    tmp = tmp_path_factory.mktemp("fuzz_docs")
    # guarantee at least one exact-duplicate pair and one clean doc
    texts = texts + ["alpha bravo charlie delta echo foxtrot"] * 2
    docs = [(i, t) for i, t in enumerate(texts)]
    sf = _stage(tmp, docs=docs)
    _check(
        spark,
        sf,
        [
            "dedup_exact_hash",
            "dedup_normalized_exact",
            "text_fingerprint",
            "dedup_minhash_pairs",
            # window-formulated skyline vs its brute-force NOT-EXISTS
            # oracle: fuzzing proves the two-window dominance algebra
            # on arbitrary dirty corpora, not just the fixture
            "pareto_frontier_docs",
            # rank-sum AUC: fuzzing exercises the midrank tie algebra
            # and (when no generated doc reaches 60 tokens) the
            # single-class NULL-AUC guard in both engines at once
            "classifier_auc_rank",
        ],
        ["documents"],
    )


def test_classifier_auc_single_class_corpus(spark, tmp_path_factory):
    """Degenerate-corpus contract, pinned (not left to fuzzer luck):
    a corpus where NO document reaches the proxy-positive bar
    (n_tok >= 60) is single-class, so the Mann-Whitney denominator
    np*nn is zero — both engines must return NULL auc/gini/tpr rows
    rather than divide by zero, and must agree."""
    tmp = tmp_path_factory.mktemp("auc_single_class")
    docs = [(i, f"short doc number {i}") for i in range(20)]
    docs += [(20, None), (21, ""), (22, "   ")]
    sf = _stage(tmp, docs=docs)
    _check(spark, sf, ["classifier_auc_rank"], ["documents"])
    from scache_spark.registry import REGISTRY

    rows = REGISTRY["classifier_auc_rank"].fn(spark, sf).collect()
    assert rows, "decile rows must still materialize"
    assert all(r.auc is None and r.gini is None and r.tpr is None for r in rows)


@_SETTINGS
@given(toks=st.lists(_vec_token, min_size=20, max_size=40))
def test_vector_contracts_fuzzed(spark, tmp_path_factory, toks):
    """The vector_ready / cosine_ready contracts (NULL / zero-norm /
    wrong-dim / non-finite / NULL-element exclusion, SCALE.md §20)
    hold for ANY mix of corruption classes — including the audit that
    counts them, so the census precedence algebra is fuzzed too."""
    tmp = tmp_path_factory.mktemp("fuzz_vecs")
    vecs = [(i, _expand_vec(t), i % 3) for i, t in enumerate(toks)]
    sf = _stage(tmp, vecs=vecs)
    _check(
        spark,
        sf,
        [
            "dedup_embedding_cosine",
            "embedding_dim_stats",
            "embedding_ingest_audit",
            "knn_brute_cosine",
        ],
        ["embeddings"],
    )


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(_event_ts, _user_id, _event_type, _event_value, _event_props),
        min_size=30,
        max_size=60,
    )
)
def test_event_contracts_fuzzed(spark, tmp_path_factory, rows):
    """The untrusted-props, timed-operator, and overflow contracts hold
    for ANY mix of NULL ts/keys, malformed JSON, and absorbing values."""
    tmp = tmp_path_factory.mktemp("fuzz_events")
    events = [
        (i, ts, uid, et, val, props)
        for i, (ts, uid, et, val, props) in enumerate(rows)
    ]
    sf = _stage(tmp, events=events)
    _check(
        spark,
        sf,
        [
            "json_funcs",
            "json_schema_parse_agg",
            "histogram_event_values",
            "ewma_anomaly_flags",
            "funnel_session_conversion",
        ],
        ["events"],
    )


# --- catalog fuzz (r7: the dirty-catalog contract class) -------------------

_supplier_name = st.one_of(
    st.integers(min_value=0, max_value=30).map(lambda i: f"Supplier#{i:09d}"),
    st.none(),
    st.just(""),
    st.just("   "),
    st.integers(min_value=0, max_value=30).map(
        lambda i: f"SUPPLIER#{i:09d}"  # case variant
    ),
    st.integers(min_value=0, max_value=30).map(
        lambda i: f"Suppliér#{i:09d}"  # multibyte substitution
    ),
)

_ADJ = ["small", "red", "blue", "hot", "SMALL"]
_NOUN = ["ring", "bolt", "gear", "añillo"]
_part_name = st.one_of(
    st.tuples(st.sampled_from(_ADJ), st.sampled_from(_NOUN)).map(" ".join),
    st.none(),
    st.just(""),
    st.just("ring"),           # single token
    st.just("small  ring"),    # double space
)

_segment = st.one_of(
    st.sampled_from(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    ),
    st.none(),
    st.just(""),
    st.just("automobile"),
    st.just(" BUILDING "),
)


def _stage_catalog(tmp, suppliers, parts, customers) -> str:
    con = duckdb.connect()
    pdf = pd.DataFrame(suppliers, columns=["s_suppkey", "s_name"])
    pdf["s_nationkey"] = [k % 3 for k in pdf["s_suppkey"]]
    pdf["s_acctbal"] = [float(k) - 5.0 for k in pdf["s_suppkey"]]
    con.register("s", pdf)
    # every string column is CAST explicitly: an all-None fuzzed
    # column otherwise infers a numeric pandas dtype and writes an
    # INT32 parquet column Spark refuses to read as string
    con.execute(
        f"""COPY (SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
                    CAST(s_name AS VARCHAR) AS s_name,
                    CAST(s_nationkey AS INT) AS s_nationkey,
                    CAST(s_acctbal AS DOUBLE) AS s_acctbal FROM s)
            TO '{tmp}/supplier.parquet' (FORMAT PARQUET)"""
    )
    pdf = pd.DataFrame(parts, columns=["p_partkey", "p_name"])
    pdf["p_brand"] = [f"Brand#{k % 4}" for k in pdf["p_partkey"]]
    pdf["p_type"] = [
        ["ECONOMY", "SMALL", "MEDIUM"][k % 3] for k in pdf["p_partkey"]
    ]
    pdf["p_size"] = [k % 10 for k in pdf["p_partkey"]]
    pdf["p_retailprice"] = [float(k) for k in pdf["p_partkey"]]
    con.register("p", pdf)
    con.execute(
        f"""COPY (SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
                    CAST(p_name AS VARCHAR) AS p_name,
                    p_brand, p_type, CAST(p_size AS INT) AS p_size,
                    CAST(p_retailprice AS DOUBLE) AS p_retailprice FROM p)
            TO '{tmp}/part.parquet' (FORMAT PARQUET)"""
    )
    pdf = pd.DataFrame(customers, columns=["c_custkey", "c_mktsegment"])
    pdf["c_name"] = [f"Customer#{k:09d}" for k in pdf["c_custkey"]]
    pdf["c_nationkey"] = [k % 3 for k in pdf["c_custkey"]]
    pdf["c_acctbal"] = [float(k) * 1.5 for k in pdf["c_custkey"]]
    con.register("c", pdf)
    con.execute(
        f"""COPY (SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
                    CAST(c_nationkey AS INT) AS c_nationkey,
                    CAST(c_acctbal AS DOUBLE) AS c_acctbal,
                    CAST(c_mktsegment AS VARCHAR) AS c_mktsegment
                  FROM c)
            TO '{tmp}/customer.parquet' (FORMAT PARQUET)"""
    )
    return str(tmp)


@_SETTINGS
@given(
    snames=st.lists(_supplier_name, min_size=10, max_size=25),
    pnames=st.lists(_part_name, min_size=10, max_size=25),
    segs=st.lists(_segment, min_size=10, max_size=25),
)
def test_catalog_contracts_fuzzed(spark, tmp_path_factory, snames, pnames, segs):
    """The dirty-catalog contracts (SCALE.md §16) hold for ANY mix of
    NULL/empty/case-variant/unicode names and segments: byte-defined
    levenshtein, NULL-as-empty array set ops, explode_outer's null
    row, SNM windows, collated grouping, closed-domain transpose."""
    tmp = tmp_path_factory.mktemp("fuzz_catalog")
    # guarantee one near-dup supplier pair and one duplicate part name
    snames = snames + ["Supplier#000000001", "Supplier#000000002"]
    pnames = pnames + ["small ring", "small ring"]
    sf = _stage_catalog(
        tmp,
        [(i, n) for i, n in enumerate(snames)],
        [(i, n) for i, n in enumerate(pnames)],
        [(i, s) for i, s in enumerate(segs)],
    )
    _check(
        spark,
        sf,
        [
            "fastss_edit1_pairs",
            "snm_neighbor_pairs",
            "array_set_ops",
            "explode_outer_nulls",
            "collated_group_dedup",
            "transpose_segment_stats",
        ],
        ["supplier", "part", "customer"],
    )


# --- fact-table fuzz (r7: the dirty-orders contract class) ------------------

_order_date = st.one_of(
    st.integers(min_value=0, max_value=1000).map(
        lambda d: datetime.datetime(2023, 1, 1) + datetime.timedelta(days=d)
    ),
    st.none(),
    st.sampled_from(
        [
            datetime.datetime(1970, 1, 1),
            datetime.datetime(2099, 12, 31, 23, 59, 59),
            datetime.datetime(2024, 2, 29, 12, 0, 0),  # noon, leap day
        ]
    ),
)
_money = st.one_of(
    st.floats(min_value=1.0, max_value=500000.0, allow_nan=False),
    st.none(),
    st.sampled_from([0.0, -1e9, 1e12, 123.45, -0.01]),
)
_status = st.one_of(st.sampled_from(["O", "F", "P"]), st.none(), st.just(""))
_priority = st.one_of(
    st.sampled_from(["1-URGENT", "3-MEDIUM", "5-LOW"]),
    st.none(),
    st.just(""),
    st.just("URGENT"),  # single token — no '-' to split on
)
_qty = st.one_of(
    st.floats(min_value=1.0, max_value=50.0, allow_nan=False),
    st.none(),
    st.sampled_from([0.0, -5.0, 1e6]),
)
_discount = st.one_of(
    st.floats(min_value=0.0, max_value=0.1, allow_nan=False),
    st.none(),
    st.sampled_from([1.0, -0.1]),
)


def _stage_facts(tmp, orders, lineitems) -> str:
    con = duckdb.connect()
    pdf = pd.DataFrame(
        orders,
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    )
    con.register("o", pdf)
    con.execute(
        f"""COPY (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                    CAST(o_custkey AS BIGINT) AS o_custkey,
                    CAST(o_orderstatus AS VARCHAR) AS o_orderstatus,
                    CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                    CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
                    CAST(o_orderpriority AS VARCHAR) AS o_orderpriority FROM o)
            TO '{tmp}/orders.parquet' (FORMAT PARQUET)"""
    )
    pdf = pd.DataFrame(
        lineitems,
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    )
    con.register("l", pdf)
    con.execute(
        f"""COPY (SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                    CAST(l_partkey AS BIGINT) AS l_partkey,
                    CAST(l_suppkey AS BIGINT) AS l_suppkey,
                    CAST(l_linenumber AS INT) AS l_linenumber,
                    CAST(l_quantity AS DOUBLE) AS l_quantity,
                    CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
                    CAST(l_discount AS DOUBLE) AS l_discount,
                    CAST(l_tax AS DOUBLE) AS l_tax,
                    CAST(l_returnflag AS VARCHAR) AS l_returnflag,
                    CAST(l_linestatus AS VARCHAR) AS l_linestatus,
                    CAST(l_shipdate AS TIMESTAMP) AS l_shipdate FROM l)
            TO '{tmp}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    return str(tmp)


@_SETTINGS
@given(
    orows=st.lists(
        st.tuples(_order_date, _money, _status, _priority),
        min_size=15,
        max_size=30,
    ),
    lrows=st.lists(
        st.tuples(_qty, _money, _discount, _status),
        min_size=15,
        max_size=30,
    ),
)
def test_orders_contracts_fuzzed(spark, tmp_path_factory, orows, lrows):
    """The dirty-orders contracts (SCALE.md §17) hold for ANY mix of
    NULL/boundary dates, zero/negative/absurd money and quantities,
    and NULL/empty/malformed statuses: explicit NULL window ordering,
    ln/sqrt domain guards, declared binning domains, total partial
    merges, tolerant element access, positive Benford domain."""
    tmp = tmp_path_factory.mktemp("fuzz_orders")
    orders = [
        (i, i % 5, s, tp, d, p)
        for i, (d, tp, s, p) in enumerate(orows)
    ]
    lineitems = [
        (i, i % 7, i % 3, 1, q, ep, dc, 0.05, rf, "O",
         datetime.datetime(2024, 1, 1))
        for i, (q, ep, dc, rf) in enumerate(lrows)
    ]
    sf = _stage_facts(tmp, orders, lineitems)
    _check(
        spark,
        sf,
        [
            "window_analytics",
            "scd2_status_history",
            "benford_digit_audit",
            "string_split_parse",
            "psi_drift_bins",
        ],
        ["orders"],
    )
    _check(
        spark,
        sf,
        [
            "math_funcs",
            "variance_partial_merge",
            "equi_depth_binning",
        ],
        ["lineitem"],
    )


# --- dirty-TRACE property fuzz (r8, SCALE.md §18) --------------------------
# The trace/eventlog family renders its log lines FROM lineitem rows
# sampled at l_orderkey % 50 = 0 (and monitor samples from events at
# event_id % 20 = 0); the generator emits ONLY sample-hitting keys so
# every generated row flows into the rendered lines: NULL/negative/
# absurd durations, unparseable host ordinals, NULL ids, zero-wall
# attempts, duplicate attempt ids.

_trace_qty = st.one_of(
    st.none(),
    st.floats(min_value=-100, max_value=100, allow_nan=False),
    st.just(-2.0),   # fin == start (0/0 shuffle fraction)
    st.just(1e12),   # the bucket-explode bomb
)
_trace_price = st.one_of(
    st.none(), st.floats(min_value=-1e6, max_value=1e6, allow_nan=False)
)
_trace_supp = st.one_of(st.none(), st.integers(min_value=-5, max_value=20))
_trace_part = st.one_of(st.none(), st.integers(min_value=0, max_value=50))
_trace_ln = st.one_of(st.none(), st.just(1), st.just(2))
_trace_rate = st.one_of(
    st.none(), st.sampled_from([0.0, 0.05, -0.1, 1.0])
)
_mon_user = st.one_of(st.none(), st.integers(min_value=-7, max_value=20))
_mon_val = st.one_of(
    st.none(), st.floats(min_value=-100, max_value=100, allow_nan=False)
)


@_SETTINGS
@given(
    lrows=st.lists(
        st.tuples(_trace_part, _trace_supp, _trace_ln, _trace_qty,
                  _trace_price, _trace_rate, _trace_rate),
        min_size=20,
        max_size=40,
    ),
    mrows=st.lists(
        st.tuples(_mon_user, _mon_val), min_size=5, max_size=15
    ),
)
def test_trace_contracts_fuzzed(spark, tmp_path_factory, lrows, mrows):
    """The dirty-trace contracts (SCALE.md §18) hold for ANY mix of
    NULL/negative/absurd durations, unparseable hosts, NULL ids and
    zero-wall attempts: try_cast parse layer, deal_na_int coalesce,
    non-negative host ordinals, physical-span alignment guard,
    try_divide shuffle fractions."""
    tmp = tmp_path_factory.mktemp("fuzz_trace")
    lineitems = []
    for i, (pk, sk, ln, q, ep, dc, tx) in enumerate(lrows):
        ok = 50 * (i + 1)  # hit the l_orderkey % 50 = 0 trace sample
        lineitems.append(
            (ok, pk, sk, ln, q, ep, dc, tx, "N", "O",
             datetime.datetime(2024, 1, 1))
        )
    # a guaranteed duplicate attempt id with conflicting metrics
    if lineitems:
        dup = list(lineitems[0])
        dup[4] = None  # NULL quantity retry record vs the original
        lineitems.append(tuple(dup))
    events = [
        (20 * (i + 1), _BASE_TS + datetime.timedelta(minutes=i), u,
         "monitor", v, "{}")
        for i, (u, v) in enumerate(mrows)
    ]
    sf = _stage_facts(tmp, [(1, 1, "O", 1.0,
                             datetime.datetime(2024, 1, 1), "1-URGENT")],
                      lineitems)
    _stage(tmp, events=events)
    _check(
        spark,
        sf,
        [
            "event_log_parse",
            "hadoop_attempt_trace_parse",
            "blockmanager_added_log_parse",
            "schedule_race_from_trace",
        ],
        ["lineitem"],
    )
    _check(
        spark,
        sf,
        ["task_host_utilization_align"],
        ["lineitem", "events"],
    )


# --- monitor-host join universe fuzz (r9, VERDICT item 6) ------------------
# §18 covered durations/ids/rates; the HOST UNIVERSE itself was only
# fixed-case planted.  This generator draws the two host sets
# independently — span hosts (l_suppkey remainders, including the
# negative remainders whose rendered 'host--N' token must NOT parse)
# and monitor hosts (user_id % 5, negative remainders join nothing) —
# so spans-without-monitor-coverage, monitor-without-spans, partial
# overlap and the all-disjoint case are all generated, not planted.
# Contracts under test: the left-side task stats survive zero monitor
# coverage (n_aligned_samples 0 / NULL util), monitor-only hosts emit
# no rows (the output is grouped over SPANS), and signed hosts resolve
# identically in both engines.

_span_host = st.integers(min_value=-2, max_value=4)   # suppkey: % 5 keeps sign
_mon_host = st.integers(min_value=-2, max_value=4)    # user_id: % 5 keeps sign


@_SETTINGS
@given(
    span_hosts=st.sets(_span_host, min_size=1, max_size=7),
    mon_hosts=st.sets(_mon_host, min_size=0, max_size=7),
    n_tasks=st.integers(min_value=2, max_value=12),
    n_samples=st.integers(min_value=0, max_value=12),
    qty=st.sampled_from([0.5, 5.0, 30.0]),
)
def test_trace_monitor_host_universe_fuzzed(
    spark, tmp_path_factory, span_hosts, mon_hosts, n_tasks, n_samples, qty
):
    """task_host_utilization_align matches its oracle for ANY pair of
    span-host / monitor-host universes, including disjoint ones."""
    tmp = tmp_path_factory.mktemp("fuzz_hosts")
    shs = sorted(span_hosts)
    lineitems = [
        (
            50 * (i + 1),              # hit the l_orderkey % 50 sample
            1,                          # partkey
            shs[i % len(shs)],          # suppkey: % 5 IS the host draw
            1,                          # linenumber
            qty,                        # quantity -> run_time
            100.0, 0.0, 0.0, "N", "O",
            datetime.datetime(2024, 1, 1),
        )
        for i in range(n_tasks)
    ]
    mhs = sorted(mon_hosts)
    events = [
        (
            20 * (i + 1),              # hit the event_id % 20 sample
            _BASE_TS + datetime.timedelta(minutes=i),
            mhs[i % len(mhs)],          # user_id: % 5 IS the host draw
            "monitor",
            float(i),
            "{}",
        )
        for i in range(n_samples if mhs else 0)
    ]
    # one never-sampled filler so the events parquet is never empty
    events.append((1, _BASE_TS, 0, "click", 1.0, "{}"))
    sf = _stage_facts(
        tmp,
        [(1, 1, "O", 1.0, datetime.datetime(2024, 1, 1), "1-URGENT")],
        lineitems,
    )
    _stage(tmp, events=events)
    _check(
        spark,
        sf,
        ["task_host_utilization_align"],
        ["lineitem", "events"],
    )


# --- binary decode fuzz (r9: the dirty-BINARY axis had fixed plants only) --

# Payload shapes drawn over the _safe_decode surface (SCALE.md §19):
# raw bodies (incl. multibyte — octet_length vs char-length asymmetry),
# well-framed SCB1 headers whose declared length exactly equals the
# body's UTF-8 byte length, random declared lengths (which sometimes
# happen to match — the generator does not avoid the ok path),
# leading-zero declared lengths, bare/bad magic, header truncations,
# framed-zero-length, and oversize declarations past the decode budget.
_bin_body = st.text(alphabet=st.sampled_from(list("ab0:ж☃xyz ")), max_size=24)
_bin_payload = st.one_of(
    st.none(),
    st.just(""),
    _bin_body,
    _bin_body.map(lambda b: f"SCB1:{len(b.encode('utf-8'))}:{b}"),
    st.tuples(_bin_body, st.integers(min_value=0, max_value=40)).map(
        lambda t: f"SCB1:{t[1]}:{t[0]}"
    ),
    st.just("SCB"),
    st.just("SCBX:5:hello"),
    st.just("SCB1:"),
    st.just("SCB1:12"),
    st.just("SCB1:0:"),
    st.just("SCB1:007:abcdefg"),
    _bin_body.map(lambda b: f"SCB1:2000000:{b}"),
)


@_SETTINGS
@given(payloads=st.lists(_bin_payload, min_size=12, max_size=30))
def test_binary_decode_contract_fuzzed(spark, tmp_path_factory, payloads):
    """The _safe_decode ↔ _SQL_DECODE status precedence and the
    body-byte fan-outs (frames / audio windows / pHash) agree for ANY
    payload mix — the property form of the fixed dirty-binary plants,
    closing the same fixed-case-only gap the r8 trace fuzzer closed
    for the log-parse family."""
    tmp = tmp_path_factory.mktemp("fuzz_bin")
    docs = [(i, p) for i, p in enumerate(payloads)]
    sf = _stage(tmp, docs=docs)
    _check(
        spark,
        sf,
        [
            "multimodal_meta",
            "multimodal_features",
            "multimodal_decode_audit",
            "multimodal_feature_agg",
            "multimodal_frame_sample",
            "multimodal_audio_energy",
            "multimodal_phash_neardup",
        ],
        ["documents"],
    )
