"""Streaming mechanics beyond the oracle gate: foreachBatch sinks and
checkpointed exactly-once resume."""

from __future__ import annotations

from pyspark.sql import functions as F

from scache_spark.catalog import load_table
from scache_spark.streaming.windows import _run_to_end, events_stream


def test_foreachbatch_incremental_sink(spark, sf_dir, tmp_path):
    """foreachBatch: the programmable sink (upsert-into-anything shape).
    Accumulate per-batch aggregates into a parquet target; the final
    union equals the batch answer."""
    out = str(tmp_path / "agg_sink")

    def sink(batch_df, batch_id: int):
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    _run_to_end(
        # event_id >= 0 drops the staged watermark-flush row
        events_stream(spark, sf_dir)
        .filter(F.col("event_id") >= 0)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt")),
        "incremental sink",
    )

    sunk = spark.read.parquet(out).groupBy("event_type").agg(F.sum("n").alias("n"))
    expected = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {r["event_type"]: r["n"] for r in sunk.collect()}
    want = {r["event_type"]: r["n"] for r in expected.collect()}
    assert got == want


def test_checkpoint_no_reprocessing_on_restart(spark, sf_dir, tmp_path):
    """Exactly-once via checkpoint: restarting an availableNow query
    over an unchanged source processes zero new rows."""
    out = str(tmp_path / "sink2")
    ckpt = str(tmp_path / "ckpt2")
    seen = []

    def sink(batch_df, batch_id):
        n = batch_df.count()
        seen.append(n)
        batch_df.limit(0).write.mode("append").parquet(out)

    def run_once():
        _run_to_end(
            events_stream(spark, sf_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt),
            "restart sink",
        )

    run_once()
    first_total = sum(seen)
    assert first_total > 0
    seen.clear()
    run_once()  # same checkpoint, unchanged source
    assert sum(seen) == 0, f"reprocessed {sum(seen)} rows after restart"


def test_foreachbatch_redelivery_is_idempotent(spark, sf_dir, tmp_path):
    """Exactly-once sink discipline: foreachBatch may RE-DELIVER a
    batch after a failure (same batch_id).  A sink that partitions by
    batch_id and writes with dynamic partition-overwrite makes the
    retry overwrite its own partition — totals identical whether a
    batch arrives once or twice.  (The append-mode sink in
    stream_foreachbatch_sink would double-count; this is the
    production-hardened variant.)"""
    out = str(tmp_path / "eo_sink")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:

        def sink(batch_df, batch_id: int):
            (
                batch_df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_part"),
                    F.round(F.sum("value"), 4).alias("t_part"),
                )
                .withColumn("batch_id", F.lit(batch_id))
                .write.partitionBy("batch_id")
                .mode("overwrite")
                .parquet(out)
            )

        ev = load_table(spark, sf_dir, "events")
        half1 = ev.filter(F.col("event_id") % 2 == 0)
        half2 = ev.filter(F.col("event_id") % 2 == 1)
        sink(half1, 0)
        sink(half2, 1)
        once = {
            r["event_type"]: (r["n"], r["t"])
            for r in spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.sum("n_part").cast("long").alias("n"),
                F.round(F.sum("t_part"), 4).alias("t"),
            )
            .collect()
        }
        sink(half2, 1)  # failure-recovery re-delivery of the last batch
        twice = {
            r["event_type"]: (r["n"], r["t"])
            for r in spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.sum("n_part").cast("long").alias("n"),
                F.round(F.sum("t_part"), 4).alias("t"),
            )
            .collect()
        }
        assert once == twice and len(once) > 0
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_rocksdb_state_store_matches_default_provider(spark, sf_dir):
    """The RocksDB state store (the disk-spilling provider a 100 TB
    keyspace needs — the default HDFS-backed in-memory maps OOM
    first) must produce byte-identical windowed aggregates."""
    from scache_spark.streaming.windows import run_stream

    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )

    def tumbling(confs=()):
        s = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
        agg = s.groupBy(
            F.window("ts", "5 minutes").alias("w"), "event_type"
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        res = agg.select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        return run_stream(res, "rocksdb_check", "append", confs).toPandas()

    base = tumbling().sort_values(["window_start", "event_type"]).reset_index(
        drop=True
    )
    rdb = tumbling(
        (("spark.sql.streaming.stateStore.providerClass", rocksdb),)
    ).sort_values(["window_start", "event_type"]).reset_index(drop=True)
    assert base.equals(rdb), (len(base), len(rdb))


def test_transform_with_state_mix_matches_batch(spark, sf_dir, oracle_con):
    """Per-user type-mix stateful operator vs the batch oracle.  Runs
    in EVERY environment: the Spark-4 transformWithStateInPandas
    MapState path where protobuf (its driver-worker wire protocol)
    exists, else the applyInPandasWithState parallel-array fallback —
    same emissions either way (detect-and-degrade, never a skip)."""
    from scache_spark.streaming.stateful import (
        _TWS_ORACLE,
        stream_transform_with_state_mix,
    )

    from tests.conftest import assert_frames_match

    spark_pdf = stream_transform_with_state_mix(spark, sf_dir).toPandas()
    oracle_pdf = oracle_con.execute(_TWS_ORACLE).df()
    assert_frames_match(spark_pdf, oracle_pdf, "stream_transform_with_state_mix")


def test_type_mix_fallback_state_roundtrip():
    """The fallback's state fold: two batches accumulate, ties on
    count break type-asc, state stays O(|types|)."""
    import pandas as pd

    from scache_spark.streaming.stateful import _update_type_mix

    class _FakeState:
        exists = False
        get = None

        def update(self, v):
            self.exists, self.get = True, v

    st = _FakeState()
    b1 = pd.DataFrame({"event_type": ["a", "b", "b"]})
    out1 = next(_update_type_mix((7,), iter([b1]), st))
    assert out1.loc[0, "top_type"] == "b" and out1.loc[0, "n_total"] == 3
    b2 = pd.DataFrame({"event_type": ["a", "c"]})
    out2 = next(_update_type_mix((7,), iter([b2]), st))
    # a and b now tied at 2 -> type-asc tie-break picks 'a'
    assert out2.loc[0, "top_type"] == "a"
    assert out2.loc[0, "n_total"] == 5 and out2.loc[0, "n_types"] == 3
    assert sorted(st.get[0]) == ["a", "b", "c"]


def test_watermark_actually_drops_window_state(spark, sf_dir, tmp_path):
    """The append-mode watermark contract, observed in the state-store
    metrics: events staged as TIME-ORDERED file slices replay as
    multiple availableNow micro-batches (maxFilesPerTrigger=1), the
    watermark advances between batches, and closed windows are
    EVICTED — numRowsRemoved fires and live state stays bounded far
    below the total window count."""
    import time

    from pyspark.sql import functions as F  # noqa: F811

    from scache_spark.catalog import SCHEMAS, load_table

    src = str(tmp_path / "sliced")
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) / 4
    for i in range(4):
        s0, s1 = lo + i * span, lo + (i + 1) * span
        cond = (F.col("ts") >= F.lit(s0)) & (
            F.col("ts") <= F.lit(hi) if i == 3 else F.col("ts") < F.lit(s1)
        )
        ev.filter(cond).repartition(1).write.mode("append").parquet(src)
        time.sleep(0.1)  # distinct mtimes -> deterministic batch order

    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "1 minute")
    )
    agg = stream.groupBy(F.window("ts", "5 minutes"), "event_type").count()
    q = _run_to_end(
        agg.writeStream.format("memory")
        .queryName("state_drop_probe")
        .outputMode("append"),
        "state_drop_probe",
    )
    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    removed = sum(
        p["stateOperators"][0].get("numRowsRemoved", 0) for p in progresses
    )
    totals = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    emitted = spark.table("state_drop_probe").count()
    total_groups = (
        ev.groupBy(F.window("ts", "5 minutes"), "event_type").count().count()
    )
    assert emitted > 0
    assert removed > 0, "watermark never evicted any window state"
    # live state at every point stays well below the all-windows total
    # (complete mode would hold total_groups rows forever)
    assert max(totals) < total_groups, (max(totals), total_groups)


def test_neardup_shard_verdicts_monotone_across_batches():
    """The ingest deduper's cross-batch contract (the part the
    single-batch oracle can't exercise): only collided (doc, band)
    pairs are emitted, each AT MOST ONCE — at arrival when the id is
    not its bucket's minimum, or on the single min-flip when a
    smaller id arrives later.  The union of emissions over any batch
    split equals batch min-id semantics.  Also: a shard keeps its
    buckets independent, untouched/singleton buckets emit nothing,
    and cap eviction keeps each bucket's smallest ids (a bucket's
    minimum is never evicted)."""
    import pandas as pd

    import scache_spark.streaming.stateful as st_mod
    from scache_spark.streaming.stateful import _update_neardup_shard

    class _FakeState:
        exists = False
        get = None

        def update(self, v):
            self.exists, self.get = True, v

    def _buckets(state):
        hashes, counts, flat = state.get[:3]  # [3:] = TTL generations
        out, pos = {}, 0
        for h, c in zip(hashes, counts):
            out[h] = flat[pos : pos + c]
            pos += c
        return out

    st = _FakeState()
    key = (2, 7)  # (band_id, shard)

    # batch 1: two buckets land in the same shard — bucket 100 gets
    # {10, 30} (30 collides), bucket 200 is a singleton (no emission)
    out1 = next(
        _update_neardup_shard(
            key,
            iter(
                [
                    pd.DataFrame(
                        {"band_hash": ["h100", "h100", "h200"], "doc_id": [10, 30, 42]}
                    )
                ]
            ),
            st,
        )
    )
    assert sorted(out1["doc_id"]) == [30] and (out1["band_id"] == 2).all()
    assert _buckets(st) == {"h100": [10, 30], "h200": [42]}

    # batch 2: a SMALLER id arrives late in bucket 100 -> 10 flips
    # collided and emits its single true verdict; 30 is NOT re-emitted
    # and bucket 200 is untouched
    out2 = next(
        _update_neardup_shard(
            key, iter([pd.DataFrame({"band_hash": ["h100"], "doc_id": [5]})]), st
        )
    )
    assert sorted(out2["doc_id"]) == [10]
    both = pd.concat([out1, out2])["doc_id"].tolist()
    assert sorted(both) == [10, 30]
    assert len(both) == len(set(both))  # at-most-once per (doc, band)
    assert _buckets(st)["h100"] == [5, 10, 30]

    # cap eviction: the collided arrival is emitted, the bucket keeps
    # its SMALLEST ids (the minimum is never evicted), other buckets
    # keep their state
    orig = st_mod._NEARDUP_BUCKET_CAP
    st_mod._NEARDUP_BUCKET_CAP = 2
    try:
        out3 = next(
            _update_neardup_shard(
                key,
                iter([pd.DataFrame({"band_hash": ["h100"], "doc_id": [7]})]),
                st,
            )
        )
    finally:
        st_mod._NEARDUP_BUCKET_CAP = orig
    assert sorted(out3["doc_id"]) == [7]
    assert _buckets(st) == {"h100": [5, 7], "h200": [42]}

    # a batch containing only already-known ids emits nothing and
    # leaves state untouched
    before = st.get
    assert (
        list(
            _update_neardup_shard(
                key,
                iter([pd.DataFrame({"band_hash": ["h100"], "doc_id": [5]})]),
                st,
            )
        )
        == []
    )
    assert st.get == before

    # an all-new-singletons batch updates state but emits nothing
    st2 = _FakeState()
    assert (
        list(
            _update_neardup_shard(
                (3, 1),
                iter([pd.DataFrame({"band_hash": ["h900"], "doc_id": [42]})]),
                st2,
            )
        )
        == []
    )
    assert _buckets(st2) == {"h900": [42]}


def test_stream_cms_bounded_state_and_guarantee(spark, sf_dir):
    """The streaming CMS obeys the sketch contract: overcount >= 0 on
    every probe (CMS never undercounts), the probe grid is complete
    (every emitted window x 10 users), and the sketch itself — the
    frame the stream stores and emits — stays within the 768
    cells-per-window state bound (asserted on the batch twin of the
    sketch stage, built from the SAME shared cms_increments
    expression, so a grouping-key leak inflating state fails here)."""
    from pyspark.sql import functions as F

    from scache_spark.catalog import load_table
    from scache_spark.api import CMS_ROWS, CMS_WIDTH, cms_increments
    from scache_spark.streaming.windows import stream_cms_heavy_users

    pdf = stream_cms_heavy_users(spark, sf_dir).toPandas()
    n_windows = pdf["window_start"].nunique()
    assert len(pdf) == n_windows * 10
    assert (pdf["overcount"] >= 0).all()
    assert (pdf["est_n"] >= pdf["true_n"]).all()

    sketch_rows = (
        load_table(spark, sf_dir, "events")
        .select(
            F.window("ts", "6 hours")["start"].alias("ws"),
            cms_increments(F.col("user_id").cast("string")).alias("rc"),
        )
        .groupBy("ws", "rc.r", "rc.cell")
        .count()
        .groupBy("ws")
        .count()
        .toPandas()
    )
    assert len(sketch_rows) == n_windows
    assert (sketch_rows["count"] <= CMS_ROWS * CMS_WIDTH).all()


def test_cdc_serving_table_rmw_versions(spark, sf_dir):
    """The CDC serving table genuinely exercises read-modify-write:
    maxFilesPerTrigger=1 over the 4-file staged feed must publish >= 2
    view versions, each version is a full |cohorts|-row view (not a
    partial), and the final version carries every cohort."""
    import glob as _glob
    import os as _os

    from scache_spark.streaming.windows import (
        _SINK_ROOT,
        stream_cdc_serving_table,
    )

    before = set(_glob.glob(_os.path.join(_SINK_ROOT, "view_cdc_*_v*")))
    pdf = stream_cdc_serving_table(spark, sf_dir).toPandas()
    after = set(_glob.glob(_os.path.join(_SINK_ROOT, "view_cdc_*_v*")))
    new_versions = sorted(
        after - before, key=lambda p: int(p.rsplit("_v", 1)[1])
    )
    assert len(new_versions) >= 2, new_versions
    assert len(pdf) == 10 and set(pdf["cohort"]) == set(range(10))
    # every version is a FULL cumulative view, not a batch partial:
    # cohort sets grow monotonically and the last equals the result
    prev_cohorts: set[int] = set()
    for vdir in new_versions:
        vdf = spark.read.parquet(vdir).toPandas()
        cohorts = set(vdf["cohort"])
        assert len(vdf) == len(cohorts)  # one row per cohort
        assert prev_cohorts <= cohorts, vdir
        prev_cohorts = cohorts
    assert prev_cohorts == set(pdf["cohort"])
