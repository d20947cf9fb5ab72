"""The composable API (scache_spark.api) must work on ARBITRARY
DataFrames — these tests build their own frames instead of loading
the fixture tables, proving the operators aren't fixture-bound."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from scache_spark import api


def test_exact_dedup_keeps_min_id_per_content(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb"), (4, "aaa"), (5, "ccc")],
        ["id", "body"],
    )
    out = api.exact_dedup(df, "body", "id").toPandas()
    assert sorted(out["id"]) == [1, 3, 5]


def test_minhash_pairs_finds_planted_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base), (2, base), (3, "totally different words entirely here now")]
    df = spark.createDataFrame(rows, ["doc", "text"])
    out = api.minhash_pairs(df, "doc", "text").toPandas()
    assert [(r.id_a, r.id_b) for r in out.itertuples()] == [(1, 2)]
    assert out["jaccard"].iloc[0] == 1.0


def test_lsh_bucket_identical_vectors_collide(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 0.125, 1.0]), (2, [0.5, -0.25, 0.125, 1.0]),
         (3, [-0.5, 0.25, -0.125, -1.0])],
        ["vid", "v"],
    )
    out = df.select(
        "vid", api.lsh_cosine_bucket(F.col("v"), dim=4).alias("b")
    ).toPandas().set_index("vid")["b"]
    assert out[1] == out[2]
    # antipodal vector flips every sign bit
    assert out[3] == (2**8 - 1) ^ out[1]


def test_knn_topk_ranks_by_cosine(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])], ["vid", "v"]
    )
    queries = spark.createDataFrame([(100, [1.0, 0.0])], ["qid", "v"])
    out = (
        api.knn_topk(
            corpus, queries, vec_col="v", id_col="vid",
            query_id_col="qid", k=2,
        )
        .orderBy("rk")
        .toPandas()
    )
    assert list(out["neighbor_id"]) == [1, 2]


def test_sessionize_splits_on_gap(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (7, t0), (7, t0 + dt.timedelta(minutes=5)),
        (7, t0 + dt.timedelta(minutes=40)),  # new session
        (8, t0),
    ]
    df = spark.createDataFrame(rows, ["uid", "ts"])
    out = api.sessionize(df, user_col="uid", ts_col="ts").toPandas()
    u7 = out[out["uid"] == 7].sort_values("ts")["session_id"].tolist()
    assert u7 == [1, 1, 2]
    assert out[out["uid"] == 8]["session_id"].tolist() == [1]


def test_asof_join_takes_latest_prior_row(spark):
    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=10)),
         (1, t0 + dt.timedelta(minutes=1))],
        ["key", "lts"],
    )
    right = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=5), 50.0), (1, t0, 10.0)],
        ["key", "rts", "price"],
    )
    out = (
        api.asof_join(
            left, right, on="key", left_ts="lts", right_ts="rts",
            right_cols=("price",),
        )
        .orderBy("lts")
        .toPandas()
    )
    assert out["asof_price"].tolist() == [10.0, 50.0]


def test_asof_join_equal_timestamp_is_not_carried(spark):
    """Strictly-before contract (r2 advisor finding): a right row at
    EXACTLY the left timestamp must NOT be carried — only the latest
    right row strictly earlier."""
    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, t0 + dt.timedelta(minutes=5))], ["key", "lts"])
    right = spark.createDataFrame(
        [
            (1, t0, 10.0),
            (1, t0 + dt.timedelta(minutes=5), 99.0),  # simultaneous: excluded
        ],
        ["key", "rts", "price"],
    )
    out = api.asof_join(
        left, right, on="key", left_ts="lts", right_ts="rts",
        right_cols=("price",),
    ).toPandas()
    assert out["asof_price"].tolist() == [10.0]


def test_quality_signals_shapes(spark):
    df = spark.createDataFrame(
        [(1, "Hello World 42 !!"), (2, "plain words only here")],
        ["id", "text"],
    )
    out = api.quality_signals(df, "text").toPandas().set_index("id")
    assert out.loc[1, "q_tokens"] == 4
    assert out.loc[1, "q_digit_ratio"] > 0
    assert out.loc[2, "q_punct_ratio"] == 0.0


def test_top_k_per_group_total_order(spark):
    df = spark.createDataFrame(
        [("a", 1, 9.0), ("a", 2, 9.0), ("a", 3, 1.0), ("b", 4, 5.0)],
        ["g", "id", "score"],
    )
    out = api.top_k_per_group(
        df,
        group_cols=("g",),
        order_cols=(F.col("score").desc(), F.col("id").asc()),
        k=1,
    ).toPandas()
    assert sorted(out["id"]) == [1, 4]


def test_api_functions_handle_empty_frames(spark):
    import pyspark.sql.types as T

    empty_docs = spark.createDataFrame(
        [], T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
    )
    assert api.exact_dedup(empty_docs, "text", "id").count() == 0
    assert api.minhash_pairs(empty_docs, "id", "text").count() == 0
    assert api.quality_signals(empty_docs, "text").count() == 0
    assert api.shard_assign(empty_docs, "id").count() == 0
    assert api.span_dedup_rewrite(empty_docs, "id", "text").count() == 0
    assert (
        api.dsir_score(empty_docs, "id", "text", F.lit(False)).count() == 0
    )
    assert api.perplexity_buckets(empty_docs, "id", "text").count() == 0
    assert api.bm25_score(empty_docs, "text", "id", ["x"]).count() == 0
    assert api.edit_distance_pairs(empty_docs, "id", "text").count() == 0
    sketch = api.cms_sketch(empty_docs, "text")
    assert sketch.count() == 0
    est = api.cms_estimate(sketch, empty_docs.select("text"), "text")
    assert est.count() == 0

    empty_xy = spark.createDataFrame([], "id long, x double, y double")
    assert api.skyline_2d(empty_xy, "x", "y").count() == 0
    auc = api.auc_rank(empty_xy, "x", "id").collect()
    assert [(r.auc, r.gini, r.np, r.nn) for r in auc] == [(None, None, 0, 0)]

    empty_vecs = spark.createDataFrame([], "id long, vec array<double>")
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "cell int, centroid array<double>")
    assert api.semantic_dedup(empty_vecs, "vec", "id", cents).count() == 0


def test_minhash_pairs_demotes_hot_band_buckets(spark):
    # BAND_CAP (8) + 1 identical documents put every band bucket over
    # the cap: all of them are demoted before the self-join, so no
    # pair materializes (an uncapped join would list all C(9, 2) = 36)
    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame([(i, text) for i in range(9)], ["id", "text"])
    assert api.minhash_pairs(df, "id", "text").count() == 0
    # at the cap itself the buckets survive and every pair verifies
    at_cap = df.filter(df.id < 8)
    assert api.minhash_pairs(at_cap, "id", "text").count() == 8 * 7 // 2


def test_semantic_dedup_excludes_null_and_zero_norm_vectors(spark):
    # cosine_ready contract: a NULL vector and a zero-norm vector have
    # no cosine direction — both rows are excluded instead of pairing
    # with NULL/NaN cosines
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, None),
        (3, [0.0, 0.0, 0.0]),
        (4, [1.0, float("nan"), 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "cell int, centroid array<double>"
    )
    out = api.semantic_dedup(df, "vec", "id", cents, threshold=-1.0).collect()
    assert [(r.dup_id, r.canonical_id, r.max_cosine) for r in out] == [(1, 0, 1.0)]


def test_shard_assign_positions_are_dense_per_shard(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], ["id"])
    out = api.shard_assign(df, "id", n_shards=4).toPandas()
    assert set(out["shard"]) <= {0, 1, 2, 3}
    for _, grp in out.groupby("shard"):
        assert sorted(grp["shard_pos"]) == list(range(1, len(grp) + 1))
    # deterministic across invocations
    again = api.shard_assign(df, "id", n_shards=4).toPandas()
    assert out.sort_values("id").reset_index(drop=True).equals(
        again.sort_values("id").reset_index(drop=True)
    )


def test_split_is_leakage_safe_with_groups(spark):
    rows = [(i, i // 3) for i in range(300)]  # clusters of 3
    df = spark.createDataFrame(rows, ["id", "cluster"])
    out = api.train_val_test_split(
        df, "id", group_col="cluster"
    ).toPandas()
    # every cluster lands wholly in one split
    assert (out.groupby("cluster")["split"].nunique() == 1).all()
    # all three splits materialize with roughly sane mass
    frac = out["split"].value_counts(normalize=True)
    assert frac["train"] > 0.6 and frac["val"] > 0.02 and frac["test"] > 0.02


def test_bm25_ranks_term_matches_first(spark):
    rows = [
        (1, "apple banana cherry apple"),
        (2, "banana banana banana banana banana"),
        (3, "cherry dates elderberry fig grape"),
        (4, "apple apple apple"),
        (5, "dates elderberry fig grape hazelnut"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = api.bm25_score(df, "text", "id", ["apple"], k=3).toPandas()
    assert list(out["id"])[:2] == [4, 1]  # highest tf-density apple docs
    assert 2 not in set(out["id"]) or out[out["id"] == 2]["bm25"].iloc[0] == 0
    assert (out["bm25"].diff().dropna() <= 0).all()  # sorted desc


def test_semantic_dedup_blocks_by_centroid(spark):
    # two tight clusters around orthogonal axes + one planted duplicate
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.99, 0.01, 0.0]),
        (10, [1.0, 0.0, 0.0, 0.0]),  # exact dup of 0
    ]
    df = spark.createDataFrame(rows, ["id", "vec"])
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        ["cell", "centroid"],
    )
    out = api.semantic_dedup(df, "vec", "id", cents, threshold=0.95).toPandas()
    dup_map = dict(zip(out["dup_id"], out["canonical_id"]))
    assert dup_map[10] == 0  # planted dup canonicalizes to min id
    assert dup_map.get(1) == 0 and dup_map.get(3) == 2  # within-cell near-dups
    # cross-cell pairs never compared: no (2|3) mapping to (0|1)
    assert all(
        (d >= 2) == (c >= 2) for d, c in dup_map.items() if d != 10
    )


def test_span_dedup_rewrite_removes_shared_span_keep_first(spark):
    shared = "alpha beta gamma delta epsilon"  # exactly one 5-token span
    rows = [
        (1, shared + " one two three four five"),
        (2, shared + " six seven eight nine ten"),
        (3, "totally unrelated words appear here only once ever more now"),
    ]
    df = spark.createDataFrame(rows, ["doc", "body"])
    out = (
        api.span_dedup_rewrite(df, "doc", "body")
        .toPandas()
        .set_index("doc")["body"]
    )
    # doc 1 is the keeper: full text survives
    assert out[1] == rows[0][1]
    # doc 2 loses the shared span but keeps its tail span
    assert out[2] == "six seven eight nine ten"
    assert out[3] == rows[2][1]


def test_span_dedup_rewrite_keeps_fully_deduplicated_docs(spark):
    # doc 2 is an exact copy of doc 1: its ONLY span is removed, but
    # the doc must still come back (empty text), not vanish from the
    # result — downstream inner joins would otherwise lose it silently
    shared = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame([(1, shared), (2, shared)], ["doc", "body"])
    out = (
        api.span_dedup_rewrite(df, "doc", "body")
        .toPandas()
        .set_index("doc")["body"]
    )
    assert len(out) == 2
    assert out[1] == shared
    assert out[2] == ""


def test_dsir_score_separates_planted_vocabularies(spark):
    rows = [(i, "atom laser quark photon tensor", i < 5) for i in range(10)] + [
        (i, "goal match pitch score team", False) for i in range(10, 40)
    ]
    df = spark.createDataFrame(rows, "doc long, body string, tgt boolean")
    w = api.dsir_score(df, "doc", "body", F.col("tgt")).toPandas().set_index("doc")[
        "log_weight"
    ]
    assert w[w.index < 10].min() > w[w.index >= 10].max()


def test_perplexity_buckets_orders_by_surprisal(spark):
    # Three surprisal levels sized 3/3/4: the common-word docs must be
    # 'head', the mid-frequency docs 'middle', the hapax docs 'tail'
    # (a fine bin is labeled by the tertile of its LAST element — the
    # same convention as equi_depth_hist_binning).
    rows = (
        [(i, "a a a a a a") for i in range(3)]
        + [(i, "b b b") for i in range(3, 6)]
        + [(i, f"u{i}x u{i}y") for i in range(6, 10)]
    )
    df = spark.createDataFrame(rows, ["doc", "body"])
    out = api.perplexity_buckets(df, "doc", "body").toPandas().set_index("doc")
    assert set(out[out.index < 3]["bucket"]) == {"head"}
    assert set(out[(out.index >= 3) & (out.index < 6)]["bucket"]) == {"middle"}
    assert set(out[out.index >= 6]["bucket"]) == {"tail"}
    assert out["surprisal"].loc[0] < out["surprisal"].loc[3] < out["surprisal"].loc[6]


def test_perplexity_buckets_degenerate_distribution_is_head(spark):
    # every doc has IDENTICAL surprisal (mn == mx): the epsilon-floored
    # bin width must land them all in bin 0 -> bucket 'head', never the
    # NULL-collapsed 'tail' a 0/0 division would produce
    df = spark.createDataFrame([(i, "a a a") for i in range(4)], ["doc", "body"])
    out = api.perplexity_buckets(df, "doc", "body").toPandas()
    assert len(out) == 4
    assert set(out["bucket"]) == {"head"}


def test_cms_estimate_tolerates_reserved_column_names(spark):
    # a keys frame already carrying r / cell / cnt columns must not
    # collide with the broadcast sketch's columns
    stream = spark.createDataFrame([("x",)] * 7 + [("y",)] * 2, "k string")
    sketch = api.cms_sketch(stream, "k")
    keys = spark.createDataFrame(
        [("x", 1, 2, 3), ("y", 4, 5, 6)], ["k", "r", "cell", "cnt"]
    )
    est = api.cms_estimate(sketch, keys, "k").toPandas().set_index("k")["est_cnt"]
    assert est["x"] >= 7 and est["y"] >= 2


def test_cms_sketch_estimates_are_one_sided_and_tight(spark):
    # planted frequencies: 'hot' x50, 20 singletons — the estimate
    # must never undercount (CMS guarantee) and, at 3x256 cells for a
    # 70-element stream, must overcount 'hot' by less than the
    # eps-bound e/width * N ~ 1
    rows = [("hot",)] * 50 + [(f"cold{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "k string")
    sketch = api.cms_sketch(df, "k")
    assert sketch.agg(F.sum("cnt")).collect()[0][0] == 3 * 70
    keys = df.distinct()
    est = api.cms_estimate(sketch, keys, "k").toPandas().set_index("k")["est_cnt"]
    true = {"hot": 50, **{f"cold{i}": 1 for i in range(20)}}
    for k, t in true.items():
        assert est[k] >= t, (k, est[k], t)
    assert est["hot"] <= 50 + 3


def test_cms_sketches_merge_by_cell_sum(spark):
    # shard-independence: sketch(A) + sketch(B) cell-summed equals
    # sketch(A union B) — the property that lets 1000 executors sign
    # independently and union their KB-sized sketches
    a = spark.createDataFrame([("x",)] * 5 + [("y",)] * 2, "k string")
    b = spark.createDataFrame([("x",)] * 3 + [("z",)] * 4, "k string")
    merged = (
        api.cms_sketch(a, "k")
        .unionByName(api.cms_sketch(b, "k"))
        .groupBy("r", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = api.cms_sketch(a.unionByName(b), "k")
    m = merged.toPandas().set_index(["r", "cell"]).sort_index()
    d = direct.toPandas().set_index(["r", "cell"]).sort_index()
    assert m["cnt"].to_dict() == d["cnt"].to_dict()


def test_span_dedup_rewrite_duplicate_input_ids_collapse(spark):
    # duplicate id rows in the input must not duplicate output rows
    # (the survivors join is against DISTINCT input ids)
    shared = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame(
        [(1, shared), (1, shared), (2, shared)], ["doc", "body"]
    )
    out = api.span_dedup_rewrite(df, "doc", "body").toPandas()
    assert len(out) == 2
    assert sorted(out["doc"]) == [1, 2]


def test_cms_estimate_tolerates_rc_column(spark):
    # the probe struct's internal name is reserved too
    stream = spark.createDataFrame([("x",)] * 4, "k string")
    sketch = api.cms_sketch(stream, "k")
    keys = spark.createDataFrame([("x", 9)], ["k", "rc"])
    est = api.cms_estimate(sketch, keys, "k").toPandas()
    assert est["est_cnt"].iloc[0] >= 4


def test_windowed_pair_join_equals_residual_filter_join(spark, sf_dir):
    """The bucketed pair join returns EXACTLY the pairs the naive
    user-key join + residual time filter does — the safe shape is a
    pure plan change, never a semantic one."""
    from pyspark.sql import functions as F

    from scache_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("u"),
        F.col("ts").alias("pts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("u"),
        F.col("ts").alias("cts"),
    )
    fast = api.windowed_pair_join(
        p, c, on="u", left_ts="pts", right_ts="cts", window="30 minutes"
    )
    naive = p.join(
        c.withColumnRenamed("u", "u2"),
        (F.col("u") == F.col("u2"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("cts") <= F.col("pts")),
    )
    got = sorted((r["pid"], r["cid"]) for r in fast.select("pid", "cid").collect())
    want = sorted((r["pid"], r["cid"]) for r in naive.select("pid", "cid").collect())
    assert got == want and len(got) > 0


def test_windowed_pair_join_boundary_rows(spark):
    """Rows exactly at ts-window and at ts are included; one
    microsecond outside is not — including a right row one bucket
    earlier (the explode arm) and one in the same bucket."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    mk = lambda s: t0 + datetime.timedelta(seconds=s)  # noqa: E731
    left = spark.createDataFrame([(1, 1, mk(0))], ["lid", "k", "lts"])
    right = spark.createDataFrame(
        [
            (10, 1, mk(-1800)),          # exactly ts - 30min: IN
            (11, 1, mk(-1801)),          # one second early: OUT
            (12, 1, mk(0)),              # exactly ts: IN
            (13, 1, mk(1)),              # future: OUT
            (14, 1, mk(-60)),            # same bucket: IN
            (15, 2, mk(-60)),            # other key: OUT
        ],
        ["rid", "k", "rts"],
    )
    out = api.windowed_pair_join(
        left, right, on="k", left_ts="lts", right_ts="rts", window="30 minutes"
    )
    assert sorted(r["rid"] for r in out.collect()) == [10, 12, 14]


def test_edit_distance_pairs_exact_and_complete(spark):
    rows = [
        (1, "kitten"),
        (2, "sitten"),   # 1 substitution from kitten
        (3, "kitte"),    # 1 deletion from kitten
        (4, "kittens"),  # 1 insertion from kitten
        (5, "kitten"),   # exact duplicate
        (6, "unrelated"),
    ]
    df = spark.createDataFrame(rows, ["id", "s"])
    out = api.edit_distance_pairs(df, "id", "s").toPandas()
    got = {(r.id_a, r.id_b): r.edit_dist for r in out.itertuples()}
    # brute-force ground truth over all 15 pairs
    import itertools

    def lev(a, b):
        m = [[i + j if i * j == 0 else 0 for j in range(len(b) + 1)]
             for i in range(len(a) + 1)]
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                m[i][j] = min(m[i - 1][j] + 1, m[i][j - 1] + 1,
                              m[i - 1][j - 1] + (a[i - 1] != b[j - 1]))
        return m[-1][-1]

    want = {
        (a, b): lev(sa, sb)
        for (a, sa), (b, sb) in itertools.combinations(rows, 2)
        if lev(sa, sb) <= 1
    }
    assert got == want


def test_skyline_2d_float_metrics_and_ties(spark):
    rows = [
        (1, 1.0, 9.0),   # frontier (best y)
        (2, 1.5, 8.5),   # frontier: x beats 1.0, y beats every larger-x max
        (3, 1.4, 8.5),   # dominated by (1.5, 8.5) — the RANGE(-1) trap:
                         # x differs by < 1 unit
        (4, 3.0, 2.0),   # frontier (best x)
        (5, 3.0, 2.0),   # tie of 4 — shares the frontier
        (6, 2.0, 2.0),   # dominated by (3.0, 2.0)
        (7, None, 5.0),  # NULL metric — excluded
    ]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    out = api.skyline_2d(df, "x", "y").toPandas()
    assert sorted(out["id"]) == [1, 2, 4, 5]


def test_auc_rank_matches_brute_force_with_ties(spark):
    # scores with ties across classes; brute-force AUC counts each
    # (pos, neg) pair: 1 if pos > neg, 0.5 if tied
    rows = [
        (0.9, 1), (0.8, 1), (0.8, 0), (0.7, 1), (0.5, 0),
        (0.5, 1), (0.5, 0), (0.3, 0), (0.1, 0), (None, 1), (0.2, None),
    ]
    df = spark.createDataFrame(rows, ["score", "label"])
    got = api.auc_rank(df, "score", "label").collect()[0]
    kept = [(s, l) for s, l in rows if s is not None and l is not None]
    pos = [s for s, l in kept if l == 1]
    neg = [s for s, l in kept if l == 0]
    brute = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    ) / (len(pos) * len(neg))
    assert got.np == len(pos) and got.nn == len(neg)
    assert abs(got.auc - brute) < 1e-12
    assert abs(got.gini - (2 * brute - 1)) < 1e-12


def test_auc_rank_single_class_is_null(spark):
    df = spark.createDataFrame([(0.5, 1), (0.9, 1)], ["score", "label"])
    got = api.auc_rank(df, "score", "label").collect()[0]
    assert got.auc is None and got.gini is None
    assert got.np == 2 and got.nn == 0


def _dirty_docs(spark):
    return spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, None), (4, None), (5, "")],
        "id long, text string",
    )


def _dirty_vecs(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero norm
            (3, None),
            (4, [1.0, None, 0.0, 0.0]),  # NULL element
            (5, [0.6, 0.8, 0.0, 0.0]),
        ],
        "id long, v array<double>",
    )


def _check_exact_dedup(spark):
    # NULL content is one group, '' another: ids 1, 3 and 5 survive
    out = api.exact_dedup(_dirty_docs(spark), "text", "id").toPandas()
    assert sorted(out["id"]) == [1, 3, 5]


def _check_quality_signals(spark):
    out = api.quality_signals(_dirty_docs(spark), "text").toPandas().set_index("id")
    ratios = ["q_mean_tok_len", "q_punct_ratio", "q_digit_ratio", "q_upper_ratio"]
    for i in (3, 4, 5):  # NULL and empty text: every ratio is 0.0
        assert out.loc[i, ratios].tolist() == [0.0] * 4
    assert out.loc[5, "q_tokens"] == 1
    assert out.loc[1, "q_mean_tok_len"] == 3.0


def _check_knn_topk(spark):
    queries = _dirty_vecs(spark).select(
        (F.col("id") + 100).alias("qid"), F.col("v")
    )
    out = api.knn_topk(
        _dirty_vecs(spark), queries, vec_col="v", id_col="id",
        query_id_col="qid", k=5,
    ).toPandas()
    # only well-defined vectors rank, on both sides
    assert sorted(set(out["q_id"])) == [101, 105]
    assert set(out["neighbor_id"]) == {1, 5}
    assert out["cosine"].notna().all()


def _check_span_dedup_rewrite(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c d e f"), (4, "a b c d e")],
        "id long, text string",
    )
    out = api.span_dedup_rewrite(df, "id", "text").toPandas().set_index("id")["text"]
    # NULL text reads as '', and a fully removed doc comes back as ''
    assert out.to_dict() == {1: "", 2: "", 3: "a b c d e f", 4: ""}


def _check_lsh_cosine_bucket(spark):
    out = (
        _dirty_vecs(spark)
        .select("id", api.lsh_cosine_bucket(F.col("v"), dim=4).alias("b"))
        .toPandas()
        .set_index("id")["b"]
    )
    # NULL, all-zero and NULL-element vectors set no sign bit
    assert out[2] == out[3] == out[4] == 0
    assert out.notna().all()


@pytest.mark.parametrize(
    "check",
    [
        _check_exact_dedup,
        _check_quality_signals,
        _check_knn_topk,
        _check_span_dedup_rewrite,
        _check_lsh_cosine_bucket,
    ],
    ids=lambda f: f.__name__.removeprefix("_check_"),
)
def test_api_dirty_rows(spark, check):
    """NULL content, empty text, zero-norm and NULL vectors: each API
    function's documented contract, on rows the fixtures never hold."""
    check(spark)


def test_asof_join_last_click_carries_simultaneous_click(spark, tmp_path):
    """The registry's last-click as-of join is at-or-before: 'click'
    sorts before 'purchase' at equal timestamps, so a click at the
    purchase's own timestamp is carried (api.asof_join, strictly
    before, would not carry it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scache_spark.operators.temporal import asof_join_last_click

    t0 = dt.datetime(2024, 1, 1)
    ts = [t0, t0 + dt.timedelta(minutes=5), t0 + dt.timedelta(minutes=5)]
    events = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([7, 7, 7], pa.int64()),
            "event_type": ["click", "click", "purchase"],
            "value": pa.array([0.0, 0.0, 1.0]),
            "props": pa.array([None, None, None], pa.string()),
        }
    )
    pq.write_table(events, str(tmp_path / "events.parquet"))
    out = asof_join_last_click(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0].purchase_id == 3
    assert out[0].last_click_ts == out[0].purchase_ts
