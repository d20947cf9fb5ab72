"""Source/sink roundtrips (B1) and pyspark.ml MinHashLSH parity with
the engine's md5 minhash pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from scache_spark.catalog import load_table
from scache_spark.sources import read_csv, read_jsonl, write_parquet


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "nation_csv")
    n = load_table(spark, sf_dir, "nation")
    n.write.mode("overwrite").option("header", "true").csv(out)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    back = read_csv(spark, out, schema)
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in n.collect()
    )


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "region_json")
    r = load_table(spark, sf_dir, "region")
    r.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    back = read_jsonl(spark, out, schema)
    assert back.count() == r.count()
    assert set(back.columns) == {"r_regionkey", "r_name"}


def test_write_parquet_max_records(spark, sf_dir, tmp_path):
    out = str(tmp_path / "li_sized")
    li = load_table(spark, sf_dir, "lineitem").coalesce(1)
    write_parquet(li, out, max_records_per_file=1000)
    import glob

    files = glob.glob(out + "/*.parquet")
    # 6000 rows / 1000 per file => ≥6 files: file-size control works
    assert len(files) >= 6


def test_ml_minhash_lsh_agrees_with_engine_pipeline(spark, sf_dir):
    """pyspark.ml MinHashLSH approxSimilarityJoin over the augmented
    corpus must recover the planted exact duplicates that the engine's
    md5 minhash pipeline (dedup_minhash_pairs) finds."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    from scache_spark.operators.dedup import dedup_minhash_pairs, shingled_docs

    engine_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_pairs(spark, sf_dir).collect()
        if r["jaccard"] >= 0.99
    }
    planted = {p for p in engine_pairs if p[1] == p[0] + 100000}
    assert planted, "engine pipeline found no planted exact duplicates"

    sh = shingled_docs(spark, sf_dir).filter(F.size("sh") > 0)
    cv = CountVectorizer(inputCol="sh", outputCol="features", binary=True).fit(sh)
    feats = cv.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = lsh.fit(feats)
    sim = model.approxSimilarityJoin(feats, feats, 0.01, distCol="jaccard_dist")
    ml_pairs = {
        (r["datasetA"]["doc_id"], r["datasetB"]["doc_id"])
        for r in sim.collect()
        if r["datasetA"]["doc_id"] < r["datasetB"]["doc_id"]
    }
    missed = planted - ml_pairs
    assert not missed, f"ml MinHashLSH missed planted dups: {sorted(missed)[:5]}"


def test_dynamic_partition_overwrite_is_idempotent_backfill(spark, sf_dir, tmp_path):
    """Idempotent backfill (B1 sink): with dynamic partitionOverwriteMode,
    rewriting ONE partition's data replaces exactly that partition and
    leaves every other partition untouched — the write pattern a daily
    pipeline needs to re-run a failed day safely."""
    out = str(tmp_path / "part_tbl")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)
    before = {
        r["o_orderpriority"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # backfill ONE priority class with half its rows
        one = orders.filter(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 2 == 0)
        )
        one.write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    after = {
        r["o_orderpriority"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(after) == set(before)
    for k in before:
        if k == "1-URGENT":
            assert after[k] < before[k]
        else:
            assert after[k] == before[k]


def test_compression_codecs_roundtrip(spark, sf_dir, tmp_path):
    """A.4 serialization plane parity: the reference ships lz4 (default)
    / lzf / snappy codecs (io/CompressionCodec.scala:47-150); Spark's
    parquet sink covers the same space.  Every codec must roundtrip
    bit-identical row content."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    expected = sorted(map(tuple, li.collect()))
    for codec in ("lz4", "snappy", "zstd", "gzip"):
        out = str(tmp_path / f"c_{codec}")
        li.write.option("compression", codec).parquet(out)
        got = sorted(map(tuple, spark.read.parquet(out).collect()))
        assert got == expected, codec


def test_scan_exposes_file_provenance(spark, sf_dir, tmp_path):
    """B1: every scanned row can carry its physical file provenance
    (input_file_name) — the hook audit/debug pipelines use to trace a
    bad record back to the object-store file that produced it."""
    out = str(tmp_path / "prov")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).write.partitionBy("o_orderpriority").parquet(out)
    rows = (
        spark.read.parquet(out)
        .select("o_orderpriority", F.input_file_name().alias("f"))
        .limit(500)
        .collect()
    )
    assert rows
    for r in rows:
        assert f"o_orderpriority={r['o_orderpriority']}" in r["f"].replace("%20", " ")


def test_blocktrace_stream_per_wave_batches(spark, tmp_path):
    """per_wave_batches=true (r2 advisor finding): latestOffset
    advances ONE wave past the committed offset per trigger, so a
    processing-time trigger delivers each wave as its own micro-batch
    — 4 waves of 16 maps -> >= 4 micro-batches, and the drained rows
    still cover the full 64x4 trace exactly once."""
    import time

    from scache_spark.sources.blocktrace import register_blocktrace

    register_blocktrace(spark)
    df = (
        spark.readStream.format("scache_blocks")
        .option("maps", "64")
        .option("reduces", "4")
        .option("wave_size", "16")
        .option("per_wave_batches", "true")
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("per_wave_trace")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt_per_wave")
        )
        .start()
    )
    try:
        # Poll the PROGRESS list itself, not the sink row count: the
        # memory sink's rows become visible before the final batch's
        # StreamingQueryProgress is published, so a count-based exit
        # raced the 4th progress event (observed flake: 3 reported
        # batches while the assert message re-read 4) — snapshot
        # recentProgress once per poll and assert on that snapshot.
        deadline = time.time() + 120
        batches: list = []
        while time.time() < deadline:
            batches = [
                p
                for p in q.recentProgress
                if p["numInputRows"] and p["numInputRows"] > 0
            ]
            if (
                len(batches) >= 4
                and sum(p["numInputRows"] for p in batches) >= 64 * 4
            ):
                break
            time.sleep(0.5)
        assert len(batches) >= 4, [p["numInputRows"] for p in batches]
        # each non-empty micro-batch carried exactly one 16-map wave
        assert all(p["numInputRows"] == 16 * 4 for p in batches), [
            p["numInputRows"] for p in batches
        ]
        assert spark.table("per_wave_trace").count() == 64 * 4
        assert (
            spark.table("per_wave_trace").select("map_id", "reduce_id").distinct().count()
            == 64 * 4
        )
    finally:
        q.stop()


def test_blocktrace_source_partition_planning(spark):
    """The custom Python data source must parallelize: numPartitions
    InputPartitions -> that many Spark tasks, rows sliced by map-id
    range with no overlap and full coverage."""
    from scache_spark.sources.blocktrace import block_size, register_blocktrace

    register_blocktrace(spark)
    df = (
        spark.read.format("scache_blocks")
        .option("maps", "32")
        .option("reduces", "4")
        .option("numPartitions", "5")
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 32 * 4
    # spot-check the closed form end-to-end through the scan
    row = df.filter("map_id = 7 AND reduce_id = 3 AND shuffle_id = 0").first()
    assert row["size_b"] == block_size(0, 7, 3)


def test_manifest_sink_atomic_publish(spark, sf_dir, tmp_path):
    """Custom Python data SINK: rows land in part files, but only the
    driver-side commit publishes them via _MANIFEST.json; orphan part
    files on disk are invisible to manifest readers."""
    import json
    import os

    from scache_spark.sources.manifest_sink import (
        read_manifest,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    out = str(tmp_path / "sink")
    src = (
        load_table(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .repartition(3)
    )
    src.write.format("manifest_jsonl").option("path", out).mode("append").save()

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["total_rows"] == 5
    assert len(manifest["files"]) == 3  # one part per task

    # plant an orphan part (a failed/speculated task's leftover):
    # manifest readers must not see its rows
    orphan = os.path.join(out, "part-orphan.jsonl")
    with open(orphan, "w") as f:
        f.write('{"r_regionkey": 99, "r_name": "GHOST"}\n')
    back = read_manifest(spark, out, src.schema)
    assert back.count() == 5
    assert back.filter("r_regionkey = 99").count() == 0
    got = {r["r_name"] for r in back.collect()}
    want = {r["r_name"] for r in src.collect()}
    assert got == want


def test_manifest_sink_serializes_typed_cells(spark, sf_dir, tmp_path):
    """The sink is a generic df.write format, so timestamp (and other
    non-JSON-native) cells must serialize instead of TypeError-failing
    the task (r2 advisor finding); ISO strings round-trip back to the
    typed column through the schema-aware manifest reader."""
    from scache_spark.sources.manifest_sink import (
        read_manifest,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    out = str(tmp_path / "typed_sink")
    src = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .limit(7)
    )
    src.write.format("manifest_jsonl").option("path", out).mode("append").save()
    back = read_manifest(spark, out, src.schema)
    assert back.count() == 7
    got = {(r["o_orderkey"], r["o_orderdate"]) for r in back.collect()}
    want = {(r["o_orderkey"], r["o_orderdate"]) for r in src.collect()}
    assert got == want


def test_manifest_concurrent_commit_conflict(tmp_path):
    """Write-write conflict contract (r7 VERDICT item 6, the
    BlockInfoManager.lockNewBlockForWriting CAS twin): N committers
    race the same table; exactly one wins each version, every loser
    retries on the next version carrying the winner forward, all
    rows survive, and every published snapshot is complete JSON whose
    files all exist (no partial state visible)."""
    import json
    import os
    import threading

    from pyspark.sql.types import StructType

    from scache_spark.sources.manifest_sink import (
        ManifestJsonlWriter,
        _manifest_versions,
        _version_path,
    )

    out = str(tmp_path / "race")
    n_writers = 8
    barrier = threading.Barrier(n_writers)
    errors: list[Exception] = []

    def one(i: int) -> None:
        try:
            w = ManifestJsonlWriter(
                {"path": out}, StructType.fromDDL("k bigint"), overwrite=False
            )
            msg = w.write(iter([(i,)]))
            barrier.wait()  # all tasks done; commits race from here
            w.commit([msg])
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=one, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # exactly one snapshot per version, densely numbered 1..N
    versions = _manifest_versions(out)
    assert versions == list(range(1, n_writers + 1))
    # every snapshot is complete and monotone: version v carries v files
    for v in versions:
        with open(_version_path(out, v)) as f:
            snap = json.load(f)  # complete JSON — never partial
        assert len(snap["files"]) == v
        assert snap["total_rows"] == v
        for e in snap["files"]:
            assert os.path.exists(e["path"])
    # the final snapshot carries EVERY writer's part — no lost update
    with open(_version_path(out, n_writers)) as f:
        final = json.load(f)
    assert len({e["path"] for e in final["files"]}) == n_writers
    # no straggler temp files from losing attempts
    assert not [fn for fn in os.listdir(out) if fn.endswith(".tmp")]


def test_manifest_vacuum_age_gates_tmp_and_commit_retries(tmp_path, monkeypatch):
    """vacuum ⟂ concurrent commit (r9 advice): a FRESH CAS temp body
    (an in-flight committer's, written but not yet linked) survives
    the straggler sweep — only age-expired temps are reclaimed — and
    even if a mis-tuned sweep does delete the temp mid-CAS, commit
    retries with a rewritten body instead of crashing."""
    import os
    import threading
    import time

    from pyspark.sql.types import LongType, StructField, StructType

    import scache_spark.sources.manifest_sink as ms

    out = str(tmp_path / "vac_race")
    os.makedirs(out)
    fresh = os.path.join(out, "inflight.1234.tmp")
    stale = os.path.join(out, "crashed.5678.tmp")
    for p in (fresh, stale):
        with open(p, "w") as f:
            f.write("{}")
    old = time.time() - 7200
    os.utime(stale, (old, old))
    ms.vacuum(out, retain_versions=1)
    assert os.path.exists(fresh), "age gate must spare in-flight temps"
    assert not os.path.exists(stale), "expired temps are crash leftovers"

    # mid-CAS sweep: first link attempt finds its temp stolen — the
    # commit loop must rewrite and retry, not crash (the advice trap:
    # only FileExistsError was caught)
    real_link = os.link
    stole = threading.Event()

    def stealing_link(src, dst):
        if not stole.is_set():
            stole.set()
            os.remove(src)
            raise FileNotFoundError(src)
        return real_link(src, dst)

    monkeypatch.setattr(ms.os, "link", stealing_link)
    w = ms.ManifestJsonlWriter(
        {"path": out},
        StructType([StructField("k", LongType())]),
        overwrite=False,
    )
    msg = w.write(iter([(1,)]))
    w.commit([msg])
    assert ms._manifest_versions(out) == [1]


def test_stream_batch_dedup_survives_missing_marker(spark, sf_dir, tmp_path):
    """Exactly-once is part of the COMMIT, not a post-commit marker
    (r2 advisor finding): after a publish, the latest snapshot itself
    carries last_batch_id, so a replay of the same batch id is
    skipped even though no separate marker file exists to consult."""
    import json
    import os

    from scache_spark.sources.manifest_sink import (
        _manifest_versions,
        _version_path,
        read_manifest,
        write_stream_batch,
    )

    out = str(tmp_path / "pub")
    batch = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    assert write_stream_batch(batch, out, 0)
    # no marker files exist — the snapshot is the only record
    assert not [f for f in os.listdir(out) if f.startswith("_BATCH")]
    v = _manifest_versions(out)[-1]
    assert json.load(open(_version_path(out, v)))["last_batch_id"] == 0
    # replay of the same epoch: skipped, rows unchanged
    assert not write_stream_batch(batch, out, 0)
    assert read_manifest(spark, out, batch.schema).count() == 5
    # the next epoch publishes normally
    assert write_stream_batch(batch, out, 1)
    assert read_manifest(spark, out, batch.schema).count() == 10


def test_manifest_sink_abort_removes_parts(spark, tmp_path):
    """A mid-job task failure must abort the write: no manifest, and
    completed tasks' parts are removed — nothing partial publishes."""
    import os

    from pyspark.sql import functions as F  # noqa: F811

    from scache_spark.sources.manifest_sink import register_manifest_sink

    register_manifest_sink(spark)
    out = str(tmp_path / "sink_abort")
    poisoned = spark.range(0, 100, 1, 4).select(
        F.when(F.col("id") == 77, F.col("id") / F.lit(0))
        .otherwise(F.col("id"))
        .cast("long")
        .alias("id"),
        F.assert_true(F.col("id") != 77, F.lit("boom")).alias("chk"),
    )
    import pytest as _pytest

    with _pytest.raises(Exception):
        poisoned.write.format("manifest_jsonl").option("path", out).mode(
            "append"
        ).save()
    # the exactly-once invariant: no manifest published, so whatever
    # part files exist (abort races straggler tasks that rename their
    # part after the abort scan) are INVISIBLE to readers...
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))
    # ...and vacuum (retain 0 snapshots) reclaims any straggler orphans
    if os.path.exists(out):
        from scache_spark.sources.manifest_sink import vacuum

        vacuum(out, retain_versions=0)
        leaked = [p for p in os.listdir(out) if p.endswith(".jsonl")]
        assert leaked == []


def test_manifest_sink_time_travel(spark, sf_dir, tmp_path):
    """Versioned snapshots: append commits chain file lists, overwrite
    restarts them, and any earlier version stays readable (time
    travel) because its files are never removed by later commits."""
    from scache_spark.sources.manifest_sink import (
        read_manifest,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    out = str(tmp_path / "tt")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n5 = r.repartition(2)
    n5.write.format("manifest_jsonl").option("path", out).mode("append").save()
    n5.write.format("manifest_jsonl").option("path", out).mode("append").save()

    v1 = read_manifest(spark, out, r.schema, version=1)
    v2 = read_manifest(spark, out, r.schema, version=2)
    latest = read_manifest(spark, out, r.schema)
    assert v1.count() == 5
    assert v2.count() == 10 == latest.count()

    # overwrite opens version 3 with a fresh file list; v2 still reads
    r.limit(2).write.format("manifest_jsonl").option("path", out).mode(
        "overwrite"
    ).save()
    v3 = read_manifest(spark, out, r.schema)
    assert v3.count() == 2
    assert read_manifest(spark, out, r.schema, version=2).count() == 10


def test_manifest_sink_vacuum_and_schema_evolution(spark, sf_dir, tmp_path):
    """VACUUM removes unreferenced parts + expired snapshots (time
    travel to them then fails, latest still reads); a column added in
    a later version back-fills null for old rows on read."""
    import pytest as _pytest

    from pyspark.sql import functions as F  # noqa: F811

    from scache_spark.sources.manifest_sink import (
        read_manifest,
        register_manifest_sink,
        vacuum,
    )

    register_manifest_sink(spark)
    out = str(tmp_path / "vac")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    r.write.format("manifest_jsonl").option("path", out).mode("append").save()
    # v2 evolves the schema: one added column
    r2 = r.withColumn("ingested_by", F.lit("round2"))
    r2.write.format("manifest_jsonl").option("path", out).mode("append").save()

    latest = read_manifest(spark, out, r2.schema)
    assert latest.count() == 10
    # old rows surface with the new column null; new rows carry it
    assert latest.filter("ingested_by IS NULL").count() == 5
    assert latest.filter("ingested_by = 'round2'").count() == 5

    # overwrite -> v3 references only its own parts; vacuum to v3 only
    r.limit(3).write.format("manifest_jsonl").option("path", out).mode(
        "overwrite"
    ).save()
    stats = vacuum(out, retain_versions=1)
    assert stats["removed_versions"] == 2
    assert stats["removed_files"] > 0
    assert read_manifest(spark, out, r.schema).count() == 3
    with _pytest.raises(FileNotFoundError):
        read_manifest(spark, out, r.schema, version=1)


def test_stream_foreachbatch_manifest_exactly_once(spark, sf_dir, tmp_path):
    """Streaming -> manifest sink, exactly-once under batch
    re-delivery: events replay as availableNow micro-batches through
    foreachBatch/write_stream_batch; re-invoking a batch id (the
    restart-replay case) publishes nothing, and the final manifest
    rows equal the batch total exactly."""
    from scache_spark.catalog import SCHEMAS
    from scache_spark.sources.manifest_sink import (
        read_manifest,
        write_stream_batch,
    )
    from scache_spark.streaming.windows import _run_to_end, _staged_events_dir

    src = _staged_events_dir(spark, sf_dir, copies=1)
    out = str(tmp_path / "stream_pub")
    seen = []

    def publish(batch_df, batch_id):
        projected = batch_df.select("event_id", "user_id", "value")
        assert write_stream_batch(projected, out, batch_id)
        # simulate the restart re-delivery of the SAME epoch
        assert not write_stream_batch(projected, out, batch_id)
        seen.append(batch_id)

    _run_to_end(
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
        .writeStream.foreachBatch(publish),
        "manifest publish",
    )
    assert len(seen) >= 2, "expected multiple micro-batches"

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    total = spark.read.schema(SCHEMAS["events"]).parquet(src).count()
    assert read_manifest(spark, out, schema).count() == total
