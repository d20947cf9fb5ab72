"""Coverage beyond the oracle gate: approximate aggregates, seeded
sampling, caching/storage levels, ML regression parity, ANN recall,
pandas-UDF batch mechanics, bucketed-write shuffle elimination."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from scache_spark import api, plans
from scache_spark.catalog import load_table
from scache_spark.operators.blocks import block_view
from scache_spark.operators.similarity import DIM, N_PLANES
from scache_spark.sources import write_bucketed, write_parquet


def test_approx_count_distinct_within_bound(spark, sf_dir):
    """approx_count_distinct (HLL) is the 100 TB path for B7; assert
    ≤5% error vs exact (can't oracle-match: estimator differs from
    DuckDB's)."""
    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] <= 0.05


def test_approx_quantile_within_bound(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.agg(F.percentile("l_extendedprice", 0.5)).first()[0]
    approx = li.approxQuantile("l_extendedprice", [0.5], 0.01)[0]
    assert abs(approx - exact) / exact <= 0.02


def test_seeded_sample_deterministic(spark, sf_dir):
    """Seeded Bernoulli sample is reproducible over a stable-order
    source (file scan, no shuffle upstream — shuffle output order is
    nondeterministic and a pinning sortWithinPartitions gets removed
    by EliminateSorts).  Gotcha: pass fraction/seed as KEYWORDS —
    ``sample(0.1, seed=42)`` mis-binds and ignores the seed."""
    def sampled():
        li = load_table(spark, sf_dir, "lineitem")
        return sorted(
            (r[0], r[1])
            for r in li.sample(fraction=0.1, seed=42)
            .select("l_orderkey", "l_linenumber")
            .collect()
        )

    a, b = sampled(), sampled()
    assert a == b and len(a) > 0


def test_seeded_rand_deterministic(spark, sf_dir):
    """rand(seed) is per-partition deterministic; sum after pinning
    layout+order is stable.  (rand must be projected before
    aggregating — Spark rejects nondeterministic args to aggregates.)"""
    def total():
        li = (
            load_table(spark, sf_dir, "lineitem")
            .repartition(4, "l_orderkey")
            .sortWithinPartitions("l_orderkey", "l_linenumber")
        )
        return (
            li.select(F.rand(seed=7).alias("r"))
            .agg(F.sum("r").alias("s"))
            .first()["s"]
        )

    assert total() == total()


def test_persist_storage_levels_roundtrip(spark, sf_dir):
    """B22: the reference's storage tiers (MEMORY_ONLY / MEMORY_AND_DISK
    / DISK_ONLY / replication-2, storage/StorageLevel.scala:151-162)
    map 1:1 onto pyspark StorageLevel; results identical under each."""
    li = load_table(spark, sf_dir, "lineitem")
    expected = li.count()
    for level in (
        StorageLevel.MEMORY_ONLY,
        StorageLevel.MEMORY_AND_DISK,
        StorageLevel.DISK_ONLY,
        StorageLevel.MEMORY_AND_DISK_2,
    ):
        df = load_table(spark, sf_dir, "lineitem").persist(level)
        try:
            assert df.count() == expected
            assert df.storageLevel.useMemory == level.useMemory
            assert df.storageLevel.useDisk == level.useDisk
        finally:
            df.unpersist(blocking=True)


def test_cache_read_through(spark, sf_dir):
    """getOrElseUpdate analog (storage/BlockManager.scala:746-785):
    second action reads from cache — verified via InMemoryTableScan in
    the executed plan."""
    df = load_table(spark, sf_dir, "nation").cache()
    try:
        df.count()  # populate
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    finally:
        df.unpersist(blocking=True)


def test_ml_linear_regression_matches_closed_form(spark, sf_dir):
    """B26: pyspark.ml LinearRegression on (map → size) reproduces the
    closed-form regr_slope fit (sim/train.py:11-29 analog)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    per_block = (
        block_view(spark, sf_dir)
        .groupBy("shuffle", "map", "reduce")
        .agg(F.sum("size").alias("sz"))
        .filter(F.col("shuffle") == 0)
    )
    closed = per_block.agg(
        F.regr_slope("sz", "reduce").alias("slope"),
        F.regr_intercept("sz", "reduce").alias("icept"),
    ).first()
    data = VectorAssembler(inputCols=["reduce"], outputCol="features").transform(
        per_block.select(F.col("reduce").cast("double"), F.col("sz").cast("double"))
    )
    model = LinearRegression(featuresCol="features", labelCol="sz", regParam=0.0).fit(
        data
    )
    assert abs(model.coefficients[0] - closed["slope"]) <= abs(closed["slope"]) * 1e-4 + 1e-6
    assert abs(model.intercept - closed["icept"]) <= abs(closed["icept"]) * 1e-4 + 1e-6


def test_ann_lsh_recall_on_near_duplicates(spark, sf_dir):
    """LSH contract, stated honestly: random gaussians in 64-dim are
    near-orthogonal, so single-bucket recall of cosine top-k is ~0 BY
    CONSTRUCTION (P[0.4-cos neighbor shares 8 sign bits] ≈ 0.6³̇⁸≈2%) —
    the operator's real job is near-DUPLICATE retrieval, where cosine
    ≈ 1 ⇒ same bucket almost surely.  Assert: (a) scaled copies of a
    vector land in its bucket (recall 1.0 on dups), (b) the bucket is
    a small fraction of the corpus (the scan-reduction claim)."""
    e = load_table(spark, sf_dir, "embeddings")
    lsh_bucket = lambda c: api.lsh_cosine_bucket(c, dim=DIM, n_planes=N_PLANES)  # noqa: E731
    # planted dup: scale by 1.5 — cosine-invariant, must hash identically
    dup = e.filter(F.col("vec_id") % 25 == 0).select(
        "vec_id", F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding")
    )
    orig_buckets = {
        r["vec_id"]: r["b"]
        for r in e.filter(F.col("vec_id") % 25 == 0)
        .select("vec_id", lsh_bucket(F.col("embedding")).alias("b"))
        .collect()
    }
    dup_buckets = {
        r["vec_id"]: r["b"]
        for r in dup.select("vec_id", lsh_bucket(F.col("embedding")).alias("b")).collect()
    }
    assert orig_buckets == dup_buckets, "scaled copies changed bucket"
    # scan-reduction: largest bucket ≪ corpus
    counts = (
        e.select(lsh_bucket(F.col("embedding")).alias("b")).groupBy("b").count().collect()
    )
    n_total = e.count()
    assert max(c["count"] for c in counts) < n_total * 0.25


def test_multimodal_batch_shape(spark, sf_dir):
    """mapInPandas contract: Arrow batches respect
    maxRecordsPerBatch; output schema is the declared FEATURE_SCHEMA;
    features are deterministic across runs."""
    from scache_spark.operators.multimodal import FEATURE_SCHEMA, multimodal_features

    df = multimodal_features(spark, sf_dir)
    assert df.schema == FEATURE_SCHEMA
    a = df.orderBy("asset_id").limit(5).collect()
    b = multimodal_features(spark, sf_dir).orderBy("asset_id").limit(5).collect()
    assert a == b
    r = a[0]
    assert r["n_bytes"] > 0 and len(r["feat_head"].split(",")) == 4


def test_bucketed_write_eliminates_join_shuffle(spark, sf_dir, tmp_path):
    """B21/sources: joining two tables bucketed on the join key runs
    with ZERO shuffle exchanges — the durable form of the reference's
    pre-scheduled co-location (MapOutputTracker.scala:199-213)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    write_bucketed(
        orders, "b_orders", ["o_orderkey"], 8, str(tmp_path / "b_orders")
    )
    write_bucketed(
        li, "b_lineitem", ["l_orderkey"], 8, str(tmp_path / "b_lineitem")
    )
    joined = (
        spark.table("b_lineitem")
        .join(
            spark.table("b_orders").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.sum("l_quantity").alias("q"))
    )
    # the join itself introduces no exchange; only the final agg may
    n = plans.exchange_count(joined)
    assert n <= 1, plans.formatted_plan(joined)
    assert joined.count() > 0


def test_parquet_roundtrip_partitioned(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_part")
    orders = load_table(spark, sf_dir, "orders")
    write_parquet(
        orders.withColumn("yr", F.year("o_orderdate")),
        out,
        partition_by=["yr"],
    )
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # partition pruning: filter on the partition column reads a subset
    pruned = back.filter(F.col("yr") == 1995)
    assert pruned.count() == orders.filter(F.year("o_orderdate") == 1995).count()


# ---------------------------------------------------------------------------
# round-2 additions: completeness / invariant properties
# ---------------------------------------------------------------------------


def test_setjoin_prefix_filter_is_complete(spark, sf_dir):
    """Prefix filtering must be a ZERO-false-negative candidate
    filter: every doc pair with shingle-Jaccard >= t found by the
    brute-force all-pairs join (small corpus) must be in the output."""
    from scache_spark.operators.dedup import (
        setjoin_prefix_filter,
        shingled_docs,
        _PF_T,
    )

    got = {
        (r["doc_a"], r["doc_b"])
        for r in setjoin_prefix_filter(spark, sf_dir).collect()
    }
    sh = shingled_docs(spark, sf_dir).select("doc_id", "sh")
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - inter
    )
    brute = {
        (r["doc_a"], r["doc_b"])
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(jac >= _PF_T)
        .select("doc_a", "doc_b")
        .collect()
    }
    assert brute == got


def test_bloom_bitmap_has_no_false_negatives(spark, sf_dir):
    """A Bloom filter may over-claim, never under-claim: every true
    member must be claimed, so n_claimed >= n_true and n_false_pos
    is exactly n_claimed - n_true."""
    from scache_spark.operators.extra import bloom_bitmap_membership

    row = bloom_bitmap_membership(spark, sf_dir).first()
    assert row["n_claimed"] >= row["n_true"]
    assert row["n_false_pos"] == row["n_claimed"] - row["n_true"]
    assert row["n_true"] > 0  # probe set genuinely overlaps the build set
    assert row["fp_rate"] < 0.25  # 31744 bits / k=2 at this load factor


def test_sequence_packing_invariants(spark, sf_dir):
    """No packed sequence exceeds the token budget unless it holds a
    single oversized doc, and bins are numbered contiguously from 0
    within each source."""
    from scache_spark.operators.pipeline import (
        sequence_packing_bins,
        _PACK_CAP,
    )

    rows = sequence_packing_bins(spark, sf_dir).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        assert r["total_tokens"] <= _PACK_CAP or r["n_docs"] == 1
        by_source.setdefault(r["source"], []).append(r["bin"])
    for src, bins in by_source.items():
        assert sorted(bins) == list(range(len(bins))), src


def test_int8_quantize_bounds(spark, sf_dir):
    """Quantization error is bounded by half a step: max_abs_err
    <= (hi - lo) / 255 / 2 (+ float slack) for every dimension, and
    all 256 codes are available (codes_used <= 256)."""
    from scache_spark.operators.similarity import embedding_int8_quantize

    for r in embedding_int8_quantize(spark, sf_dir).collect():
        step = (r["hi"] - r["lo"]) / 255.0
        assert r["max_abs_err"] <= step / 2 + 1e-9
        assert 1 <= r["codes_used"] <= 256


def test_multiprobe_dominates_single_probe(spark, sf_dir):
    """Multi-probe LSH probes a strict superset of buckets, so its
    candidate set contains single-probe's, and its top-10 overlap
    with brute-force cosine top-10 is >= single-probe's."""
    from scache_spark.operators.similarity import (
        ann_lsh_multiprobe,
        ann_lsh_probe,
        knn_brute_cosine,
    )

    multi = {r["vec_id"] for r in ann_lsh_multiprobe(spark, sf_dir).collect()}
    single = {r["vec_id"] for r in ann_lsh_probe(spark, sf_dir).collect()}
    brute = {r["vec_id"] for r in knn_brute_cosine(spark, sf_dir).collect()}
    assert len(multi & brute) >= len(single & brute)
    assert len(multi) >= len(single)


def test_repetition_signals_agree_with_inarray_sibling(spark, sf_dir):
    """Two independent computations of the duplicate-trigram fraction
    — text_repetition_ratio's zero-shuffle in-array form and
    text_repetition_signals' explode+groupBy form — must agree
    exactly on every document."""
    from scache_spark.operators.text import (
        text_repetition_ratio,
        text_repetition_signals,
    )

    a = (
        text_repetition_ratio(spark, sf_dir)
        .select("doc_id", "rep_ratio")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    b = (
        text_repetition_signals(spark, sf_dir)
        .select("doc_id", "dup_trigram_frac")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(a) == len(b)
    # rep_ratio is 6dp-rounded; the signals column is the exact ratio
    diff = (a["rep_ratio"] - b["dup_trigram_frac"]).abs()
    assert float(diff.max()) < 1e-6, diff.sort_values().tail()


def test_ivf_nprobe_recall_monotone(spark, sf_dir):
    """More probed cells can only help: hits and candidate counts must
    be nondecreasing in nprobe, and nprobe=16 (all cells) would be
    exact — at nprobe=4 recall must already be positive."""
    from scache_spark.operators.clustering import ann_ivf_nprobe_recall

    rows = {
        r["nprobe"]: r
        for r in ann_ivf_nprobe_recall(spark, sf_dir).collect()
    }
    assert sorted(rows) == [1, 2, 4]
    assert rows[1]["hits"] <= rows[2]["hits"] <= rows[4]["hits"]
    assert rows[1]["n_candidates"] < rows[2]["n_candidates"] < rows[4]["n_candidates"]
    assert rows[4]["hits"] > 0


def test_span_rewrite_conservation(spark, sf_dir):
    """Span accounting invariants: removals never exceed spans, kept
    chars never exceed the original text length, docs with zero
    removals keep exactly their (lowercased) text length, and at least
    one doc has a span removed (the fixture vocabulary guarantees
    cross-doc repeats)."""
    import pyspark.sql.functions as F

    from scache_spark.catalog import load_table
    from scache_spark.operators.corpus import dedup_span_rewrite

    out = dedup_span_rewrite(spark, sf_dir)
    orig = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length(F.lower(F.col("text"))).alias("orig_chars")
    )
    j = out.join(orig, "doc_id").cache()
    assert j.filter(F.col("n_removed") > F.col("n_spans")).count() == 0
    assert j.filter(F.col("kept_chars") > F.col("orig_chars")).count() == 0
    assert (
        j.filter(
            (F.col("n_removed") == 0)
            & (F.col("kept_chars") != F.col("orig_chars"))
        ).count()
        == 0
    )
    assert j.filter(F.col("n_removed") > 0).count() > 0
    j.unpersist()


def test_dsir_weights_enrich_planted_domain(spark):
    """On a corpus with a REAL domain signal (the fixture vocabulary is
    uniform across sources, so the registered query's ordering there is
    oracle-checked but statistically flat), DSIR weights must rank
    target-vocabulary docs above background docs: plant 30 'science'
    docs and 70 'sports' docs, mark 10 science docs as the target
    sample, and require the top-20 by weight to be science-heavy."""
    import pyspark.sql.functions as F

    from scache_spark.api import dsir_score

    sci = "atom laser quark photon tensor orbit plasma neutron"
    spo = "goal match pitch score team league keeper striker"
    rows = [
        (i, f"{sci} {sci} atom tensor", i < 10)  # 0-29 science; 0-9 target
        if i < 30
        else (i, f"{spo} {spo} goal team", False)
        for i in range(100)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, is_target boolean"
    )
    top = (
        dsir_score(docs, "doc_id", "text", F.col("is_target"))
        .orderBy(F.col("log_weight").desc(), F.col("doc_id").asc())
        .limit(20)
        .collect()
    )
    science_in_top = sum(1 for r in top if r["doc_id"] < 30)
    assert science_in_top == 20, science_in_top


def test_observation_metrics_ride_the_flagship_plan(spark, sf_dir):
    """In-flight pipeline monitoring with zero extra passes: a
    DataFrame Observation attached to the flagship query's lineage
    collects row count and revenue total DURING the action — at 100 TB
    this replaces a second audit scan of the fact table.  The observed
    numbers must equal a recomputation."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from scache_spark.operators.relational import flagship_revenue_by_region

    df = flagship_revenue_by_region(spark, sf_dir)
    obs = Observation("flagship_audit")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("groups"),
        F.round(F.sum("revenue"), 2).alias("revenue_total"),
    )
    n = observed.count()
    got = obs.get
    assert got["groups"] == n
    expect = df.agg(F.round(F.sum("revenue"), 2).alias("t")).collect()[0]["t"]
    assert abs(got["revenue_total"] - expect) < 1e-6


def test_kcore_profile_shrinks_monotonically(spark, sf_dir):
    # peeling can only remove: (nodes, edges) must be non-increasing
    # round over round, and an unchanged consecutive pair proves the
    # 2-core converged exactly (the in-result contract the doc states)
    from scache_spark.operators.graph import kcore_peeling

    rows = kcore_peeling(spark, sf_dir).collect()
    for a, b in zip(rows, rows[1:]):
        assert b.n_nodes <= a.n_nodes
        assert b.n_edges <= a.n_edges


def test_assortativity_is_negative_for_star_topology(spark):
    # star-per-cell construction is hub-spoke by design: high-degree
    # centers attach to degree-1 leaves, so Newman's coefficient must
    # come out negative on any sf dir with real cell structure
    from scache_spark.operators.graph import degree_assortativity

    row = degree_assortativity(spark, "/root/testdata/sf0.01").collect()[0]
    assert row.assortativity is not None and row.assortativity < 0


def test_embedding_dim_stats_shape(spark, sf_dir):
    """64 dims, exactly 16 kept, rank is a permutation of 1..64, and
    kept dims dominate dropped ones on (rounded) variance."""
    from scache_spark.operators.similarity import embedding_dim_stats

    pdf = embedding_dim_stats(spark, sf_dir).toPandas()
    assert len(pdf) == 64
    assert sorted(pdf["var_rank"]) == list(range(1, 65))
    kept = pdf[pdf["keep"]]
    assert len(kept) == 16
    assert kept["var_c"].min() >= pdf[~pdf["keep"]]["var_c"].max()
    assert (pdf["n"] == pdf["n"].iloc[0]).all()


def test_ivm_join_view_delta_equals_recompute(spark, sf_dir):
    """The incrementally-maintained join view equals a full Spark
    recompute of the new snapshot (the oracle already proves this
    cross-engine; this proves the bilinear-delta algebra in-engine,
    so a future refactor can't silently drift both sides)."""
    from pyspark.sql import functions as F

    from scache_spark.catalog import load_table
    from scache_spark.operators.extra import ivm_join_view_delta

    inc = {
        (r["nation"]): (r["n_orders"], r["revenue_cents"])
        for r in ivm_join_view_delta(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    surv = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_custkey").alias("k"),
        F.floor(
            F.col("o_totalprice")
            * F.when(F.col("o_orderkey") % 11 == 0, 1.05).otherwise(1.0)
            * 100
        )
        .cast("long")
        .alias("cents"),
    )
    ins = o.filter(F.col("o_orderkey") % 17 == 0).select(
        F.col("o_custkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_custkey") % 19 == 0, (F.col("c_nationkey") + 1) % 25)
        .otherwise(F.col("c_nationkey"))
        .cast("int")
        .alias("nation"),
    )
    full = {
        (r["nation"]): (r["n_orders"], r["revenue_cents"])
        for r in surv.unionByName(ins)
        .join(c, "k")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .collect()
    }
    assert inc == full
