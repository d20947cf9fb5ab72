"""CI smoke for the scale-stress harness (tools/scale_stress.py) —
the staging transform must stay correct or the x10 artifacts stop
being reproducible.  Stages a tiny x2 replica from sf0.001 and checks
the structural invariants the full run relies on, plus one real
query-vs-oracle compare on the replica; then the boilerplate replica
and every dirty axis (one AXES entry each) against their oracles."""

from __future__ import annotations

import re

import duckdb
import pytest

from scache_spark.catalog import TABLES
from tests.conftest import SF_DIR, check_queries
from tools import scale_stress
from tools.scale_stress import (
    AXES,
    DEFAULT_QUERIES,
    DIRTY_BINARY_QUERIES,
    DIRTY_TRACE_QUERIES,
    axis_pool,
    drop_replica,
    stage,
    stage_axis,
)


@pytest.fixture(scope="module")
def x2_dir():
    out = stage("/root/testdata/sf0.001", 2)
    yield out
    drop_replica(out)


def test_stage_scales_facts_and_copies_dims(x2_dir):
    con = duckdb.connect()
    n = lambda d, t: con.execute(  # noqa: E731
        f"SELECT count(*) FROM read_parquet('{d}/{t}.parquet')"
    ).fetchone()[0]
    base = "/root/testdata/sf0.001"
    for t in TABLES:
        factor = 2 if t in ("orders", "lineitem", "events", "documents", "embeddings") else 1
        assert n(x2_dir, t) == factor * n(base, t), t


def test_stage_preserves_keys_and_fk(x2_dir):
    con = duckdb.connect()
    dup = con.execute(
        f"SELECT count(*) - count(DISTINCT o_orderkey) FROM read_parquet('{x2_dir}/orders.parquet')"
    ).fetchone()[0]
    assert dup == 0
    orphans = con.execute(
        f"""SELECT count(*) FROM read_parquet('{x2_dir}/lineitem.parquet') l
            LEFT JOIN read_parquet('{x2_dir}/orders.parquet') o
              ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL"""
    ).fetchone()[0]
    assert orphans == 0


def test_default_queries_resolve():
    from scache_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    missing = [q for q in DEFAULT_QUERIES if q not in REGISTRY]
    assert missing == []


def test_one_query_matches_oracle_on_replica(spark, x2_dir):
    """End-to-end: the engine and DuckDB agree on the staged replica
    (the same compare the full x10 run performs, one cheap query)."""
    name = "flagship_revenue_by_region"
    got = check_queries(spark, x2_dir, [name])[name]
    assert got["status"] == "MATCH", got["err"]
    assert got["rows"] > 0


# ---------------------------------------------------------------------------
# hot-shingle boilerplate stress (r5 verdict item 1)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bp_dir():
    from tools.scale_stress import BOILERPLATE_PCT_GUARDED, stage_boilerplate

    out = stage_boilerplate("/root/testdata/sf0.001", 2, BOILERPLATE_PCT_GUARDED)
    yield out
    drop_replica(out)


def test_boilerplate_plants_hot_bands_and_cap_triggers(bp_dir):
    """The stress is only a stress if the shared preamble actually
    produces band buckets over BAND_CAP — i.e. the demotion guard in
    dedup_minhash_capped_pairs fires on this input (r5 verdict: 'a
    test asserting the cap actually triggers')."""
    from tools.scale_stress import hot_band_stats

    stats = hot_band_stats(bp_dir)
    assert stats["buckets_over_cap"] > 0
    assert stats["max_bucket_docs"] > stats["band_cap"]


def test_capped_dedup_matches_oracle_under_boilerplate(spark, bp_dir):
    """The guarded operator must return the oracle answer on the
    hot-shingle corpus — demotion happens identically in both engines,
    so parity here proves the cap semantics, not just survival."""
    name = "dedup_minhash_capped_pairs"
    got = check_queries(spark, bp_dir, [name])[name]
    assert got["status"] == "MATCH", got["err"]


# ---------------------------------------------------------------------------
# dirty axes: each AXES replica staged once per module, its regression
# list checked against the oracles (the full pools run in the
# SCALE_STRESS_dirty*.json artifacts at sf0.1)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def axis_dir():
    """``axis_dir(name)``: axis ``name``'s sf0.001 replica, staged on
    first use and removed after the module."""
    dirs: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in dirs:
            dirs[name] = stage_axis(SF_DIR, name)
        return dirs[name]

    yield get
    for d in dirs.values():
        drop_replica(d)


# The 16 queries the dirty stress originally broke (ANSI div-by-zero,
# pandas None-crashes, null-vs-skip checksum divergence, null/empty
# semantic drift) — each now carries an explicit dirty-input contract.
_DIRTY_REGRESSIONS = [
    "dedup_exact_hash",
    "dedup_materialize",
    "dedup_ngram_jaccard",
    "leakage_safe_split",
    "multimodal_feature_agg",
    "multimodal_features",
    "multimodal_phash_neardup",
    "multimodal_frame_sample",
    "quality_calibration_ece",
    "sequence_packing_bins",
    "table_checksum_manifest",
    "text_chunking",
    "text_fingerprint",
    "text_quality_score",
    "text_repetition_ratio",
    "udtf_chunk_spans",
    # r9 advice: plant 90013's source sanitizes to EMPTY — both
    # engines must fall back to 'unknown' instead of Spark's
    # parse_url returning NULL host on '-N.example.tld'
    "url_domain_curation",
    # vector pass (r6b): cosine contract + explicit NULL-embedding
    # universe
    "knn_brute_cosine",
    "knn_batch_topk",
    "cosine_threshold_sweep",
    "hybrid_rrf_retrieval",
    "retrieval_ndcg_at_k",
    "mmr_diverse_rerank",
    "dedup_embedding_cosine",
    "dedup_embedding_lsh",
    "dedup_semantic_cells",
    "embedding_dim_stats",
    "posexplode_embedding_head",
]


# The 5 queries the dirty-catalog stress originally broke (NULL name
# NULLing downstream array set ops, len(NULL)!=0 dropping the
# explode_outer null row, CSV destroying the NULL-vs-'' distinction,
# byte-vs-codepoint levenshtein, transpose minting data-dependent
# columns) — each now carries an explicit dirty-catalog contract
# (SCALE.md §16); fuzzy_match_levenshtein joins as the latent
# byte-distance case the artifact proved only accidentally green.
_DIRTY_CATALOG_REGRESSIONS = [
    "array_set_ops",
    "csv_source_agg",
    "explode_outer_nulls",
    "fastss_edit1_pairs",
    "transpose_segment_stats",
    "fuzzy_match_levenshtein",
    "snm_neighbor_pairs",
    "collated_group_dedup",
]


# The 20 queries the dirty-orders stress originally broke (NULL window
# keys under divergent engine NULL-ordering defaults, ln/sqrt domain
# errors, ANSI overflow/div-by-zero vs DuckDB promotion/inf, Benford's
# '-' digit, out-of-bounds split access, inner-join shard merges
# dropping one-sided and NULL groups, Python UDF None crashes, a
# presence-masked timestamp-vs-date cast) — each now an explicit
# engine+oracle contract (SCALE.md §17).  stream_scd2_pit_enrich is
# covered by the full --dirty-orders artifact, not here (streaming in
# the shared-session suite is slow); the two latent binning twins
# (ks_drift_binned, equi_depth_hist_binning) joined the domain-guard
# contract preemptively and are guarded too.
_DIRTY_ORDERS_REGRESSIONS = [
    "autocorrelation_daily",
    "avro_source_roundtrip",
    "benford_digit_audit",
    "cusum_changepoint",
    "equi_depth_binning",
    "equi_depth_hist_binning",
    "kll_sketch_ks_drift",
    "ks_drift_binned",
    "ks_drift_statistic",
    "math_funcs",
    "pit_dimension_join",
    "psi_drift_bins",
    "scd2_status_history",
    "string_split_parse",
    "tpch_q2_min_cost_supplier",
    "try_arithmetic_battery",
    "udf_arrow_scalar",
    "variance_partial_merge",
    "window_analytics",
    "window_distribution",
    "woe_iv_binning",
]


# The per-axis regression lists: --dirty-binary and --dirty-trace
# guard their whole pools; --dirty-embeddings a representative slice
# of the vector family (its full 31-query pool runs at sf0.1);
# stream_neardup_suppress (--dirty) is covered by the full artifact,
# not here (streaming in the shared-session suite is slow);
# --dirty-events has no in-suite list (tests/test_dirty_properties.py
# fuzzes its event contracts).
_REGRESSIONS = {
    "dirty": _DIRTY_REGRESSIONS,
    "dirty_catalog": _DIRTY_CATALOG_REGRESSIONS,
    "dirty_orders": _DIRTY_ORDERS_REGRESSIONS,
    "dirty_trace": DIRTY_TRACE_QUERIES,
    "dirty_binary": DIRTY_BINARY_QUERIES,
    "dirty_embeddings": [
        "embedding_ingest_audit",
        "knn_brute_cosine",
        "ann_lsh_buckets",
        "embedding_int8_quantize",
        "embedding_dim_stats",
        "array_explode_agg",
        "kmeans_two_rounds",
        "posexplode_embedding_head",
    ],
}


def test_axes_table_is_complete():
    """No Spark: every AXES pool is non-empty and registered, holds its
    regression list, and the derived --dirty* flags are exactly the
    ones the module docstring documents."""
    from scache_spark.registry import REGISTRY

    for name in AXES:
        pool = axis_pool(name)
        assert pool and set(pool) <= set(REGISTRY), name
        assert set(_REGRESSIONS.get(name, [])) <= set(pool), name
    assert set(_REGRESSIONS) <= set(AXES)
    documented = set(re.findall(r"^  (--dirty[\w-]*)", scale_stress.__doc__, re.M))
    assert documented == {a.flag for a in AXES.values()}


@pytest.mark.parametrize("axis", [n for n in AXES if n in _REGRESSIONS])
def test_dirty_axis_contracts_hold(spark, axis_dir, axis):
    """Every query on the axis's regression list must match its oracle
    on the planted rows — the in-suite guard for the axis's
    SCALE_STRESS_<axis>.json contracts."""
    results = check_queries(spark, axis_dir(axis), _REGRESSIONS[axis])
    bad = {n: r["err"] for n, r in results.items() if r["status"] != "MATCH"}
    assert bad == {}


def test_dirty_binary_plant_statuses_pinned(spark, axis_dir):
    """Each planted payload must land on its EXACT decode status (the
    _safe_decode precedence contract), the valid framed plants must
    decode their BODY bytes (4 video frames from a 256-byte payload,
    3 audio windows from a 200-byte payload), and no degraded plant
    may leak into the fan-out outputs."""
    from scache_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    dirty_binary_dir = axis_dir("dirty_binary")
    feats = (
        REGISTRY["multimodal_features"]
        .fn(spark, dirty_binary_dir)
        .filter("asset_id >= 91001 AND asset_id <= 91012")
        .toPandas()
        .set_index("asset_id")
    )
    expected = {
        91001: "truncated",
        91002: "bad_magic",
        91003: "oversize",
        91004: "ok",
        91005: "bad_magic",
        91006: "null_payload",
        91007: "ok",
        91008: "oversize",
        91009: "ok",
        91010: "empty",
        91011: "empty",
        # multibyte framed audio: 24 snowmen = 72 UTF-8 bytes; the
        # declared length and every downstream window count are
        # BYTE-derived (r9 char-vs-byte audio-oracle regression plant)
        91012: "ok",
    }
    got = feats["decode_status"].to_dict()
    assert got == expected, got
    # valid framed assets decode BODY bytes, not the raw frame
    assert feats.loc[91004, "n_bytes"] == 5
    assert feats.loc[91007, "n_bytes"] == 256
    assert feats.loc[91009, "n_bytes"] == 200
    assert feats.loc[91012, "n_bytes"] == 72  # bytes, not 24 chars
    frames = (
        REGISTRY["multimodal_frame_sample"]
        .fn(spark, dirty_binary_dir)
        .filter("asset_id >= 91001 AND asset_id <= 91011")
        .toPandas()
    )
    assert sorted(frames["asset_id"].unique()) == [91007]
    assert len(frames) == 4  # 256 // 64
    wins = (
        REGISTRY["multimodal_audio_energy"]
        .fn(spark, dirty_binary_dir)
        .filter("asset_id >= 91001 AND asset_id <= 91012")
        .toPandas()
    )
    assert sorted(wins["asset_id"].unique()) == [91009, 91012]
    # 200 // 64 = 3 ASCII windows; 72 bytes // 64 = 1 multibyte window
    # (a char-counting decode would emit ZERO windows for 91012)
    assert len(wins) == 4


def test_dirty_embeddings_plant_classes_pinned(spark, axis_dir):
    """Each planted vector must land on its EXACT audit class (the
    census precedence contract), the negative-id healthy plant must
    NOT hijack a k-means/IVF seed, and the magnitude outlier must be
    excluded from the cross-dimension signed mean but present in the
    cosine universe (SCALE.md §20 #8)."""
    from scache_spark.functions import cosine_ready, moment_ready
    from scache_spark.catalog import load_table
    from scache_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    dirty_embeddings_dir = axis_dir("dirty_embeddings")
    e = load_table(spark, dirty_embeddings_dir, "embeddings")
    plant_ids = {95001, 95002, 95003, 95004, 95005, 95006, 95007, 95008,
                 95009, 95010, -95011}
    audit = (
        REGISTRY["embedding_ingest_audit"]
        .fn(spark, dirty_embeddings_dir)
        .toPandas()
        .set_index("status")
    )
    # clean sf0.001 embeddings are all 'ok', so every degraded class
    # count is exactly its plant count
    assert int(audit.loc["null_vec", "n_vecs"]) == 1
    assert int(audit.loc["wrong_dim", "n_vecs"]) == 3
    assert int(audit.loc["null_elem", "n_vecs"]) == 1
    assert int(audit.loc["nan_elem", "n_vecs"]) == 1
    assert int(audit.loc["inf_elem", "n_vecs"]) == 2
    assert int(audit.loc["mag_outlier", "n_vecs"]) == 1
    assert int(audit.loc["mag_outlier", "min_vec_id"]) == 95009
    # healthy plants (NULL-label 95010, negative-id -95011) are 'ok'
    assert int(audit.loc["ok", "max_vec_id"]) == 95010
    assert int(audit.loc["ok", "min_vec_id"]) == -95011
    # seed-id-range rule: -95011 passes vector_ready yet must not seed
    from scache_spark.operators.clustering import _centroids

    cells = {r.cell for r in _centroids(spark, dirty_embeddings_dir).collect()}
    assert -95011 not in cells and all(c >= 0 for c in cells)
    # the magnitude outlier flows the cosine universe (order-mirrored
    # folds) but not the moment universe (signed-sum cancellation)
    cos_ids = {
        r.vec_id
        for r in cosine_ready(e).select("vec_id").collect()
        if r.vec_id in plant_ids
    }
    mom_ids = {
        r.vec_id
        for r in moment_ready(e).select("vec_id").collect()
        if r.vec_id in plant_ids
    }
    assert cos_ids == {95009, 95010, -95011}
    assert mom_ids == {95010, -95011}
