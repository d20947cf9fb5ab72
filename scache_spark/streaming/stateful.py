"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2 B27): per-user running aggregates with explicit state.

This is the engine's programmable analog of the reference's
MapOutputTracker bookkeeping: long-lived keyed state updated per
arrival (``updateMapBlocksStatus`` decrements a per-map counter as
blocks arrive, MapOutputTracker.scala:282-292) — here the keyed state
is a per-user (count, sum) pair updated per micro-batch.

The final emitted state equals the batch groupBy (each batch emits the
cumulative totals; the driver-side max-per-user collapse makes the
result batch-equivalent regardless of how availableNow splits files
into micro-batches), which is what makes it oracle-checkable.
"""

from __future__ import annotations

import bisect
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from scache_spark.registry import register
from scache_spark.streaming.windows import events_stream, run_stream

_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _update_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold each arriving batch into keyed state; emit the running
    cumulative total.  State is a (count, sum) pair — O(1) per key,
    the only thing that scales to unbounded streams."""
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += int(len(pdf))
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


@register(
    "stream_stateful_user_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    """,
    tags=("B27", "B23"),
    doc="applyInPandasWithState per-user running totals; cumulative "
    "emissions collapsed with max_by(n_events) so the final state "
    "equals the batch aggregate (the oracle) regardless of "
    "micro-batch splits.",
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # user_id >= 0 drops the staged flush row (synthetic user -1)
    s = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "value")
    )
    updated = s.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_stream(updated, "stateful_totals", "append")
    # keep the last (largest-n) emission per user: cumulative totals are
    # monotone, so max(n_events) identifies the final state
    return emitted.groupBy("user_id").agg(
        F.max("n_events").cast("long").alias("n_events"),
        F.round(F.max_by("total_value", "n_events"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4's successor stateful API)
# ---------------------------------------------------------------------------

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)

_MIX_SCHEMA = "user_id long, n_total long, n_types long, top_type string"


class _UserTypeMix(StatefulProcessor):
    """Per-user event-type histogram in MAP state — the typed,
    composable state primitive transformWithState adds over
    applyInPandasWithState's single-tuple state.  One map entry per
    (user, type): state stays O(|types|) per key while the stream is
    unbounded."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState(
            "type_counts", "event_type string", "n bigint"
        )

    def handleInputRows(self, key, rows, timer_values):
        for pdf in rows:
            for t, c in pdf.groupby("event_type").size().items():
                k = (str(t),)
                prev = (
                    self._counts.getValue(k)[0]
                    if self._counts.containsKey(k)
                    else 0
                )
                self._counts.updateValue(k, (prev + int(c),))
        pairs = [(k[0], v[0]) for k, v in self._counts.iterator()]
        n_total = int(sum(c for _, c in pairs))
        top_type = sorted(pairs, key=lambda kv: (-kv[1], kv[0]))[0][0]
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_total": [n_total],
                "n_types": [len(pairs)],
                "top_type": [top_type],
            }
        )

    def close(self) -> None:
        pass


def _has_protobuf() -> bool:
    """transformWithState's driver worker speaks a protobuf protocol
    to the JVM; the runtime dependency is `protobuf`, absent from this
    container (no pip allowed).  Where it is missing the operator
    DEGRADES (detect-and-degrade, not a skip): the same MAP-state
    semantics run through applyInPandasWithState with the histogram
    encoded as parallel arrays in the state tuple
    (`_update_type_mix`), so the query registers and oracle-checks
    everywhere; on a real cluster image with protobuf the Spark-4
    MapState path runs instead."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no `google` namespace package at all
        return False


_MIX_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_total", LongType()),
        StructField("n_types", LongType()),
        StructField("top_type", StringType()),
    ]
)
_MIX_STATE_SCHEMA = StructType(
    [
        StructField("types", ArrayType(StringType())),
        StructField("ns", ArrayType(LongType())),
    ]
)


def _update_type_mix(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState fallback for `_UserTypeMix`: the per-user
    (type -> count) histogram lives in the state tuple as parallel
    arrays — still O(|types|) per key, identical emissions to the
    MapState processor."""
    if state.exists:
        types, ns = state.get
        counts = dict(zip(types, ns))
    else:
        counts = {}
    for pdf in pdfs:
        for t, c in pdf.groupby("event_type").size().items():
            counts[str(t)] = counts.get(str(t), 0) + int(c)
    state.update((list(counts.keys()), [int(v) for v in counts.values()]))
    pairs = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    yield pd.DataFrame(
        {
            "user_id": [int(key[0])],
            "n_total": [int(sum(counts.values()))],
            "n_types": [len(counts)],
            "top_type": [pairs[0][0]],
        }
    )


_TWS_ORACLE = """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY user_id, event_type
    ),
    tot AS (
      SELECT user_id, CAST(sum(n) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS n_types
      FROM c GROUP BY user_id
    ),
    top AS (
      SELECT user_id, event_type AS top_type FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY n DESC, event_type ASC) AS rk
        FROM c) WHERE rk = 1
    )
    SELECT user_id, n_total, n_types, top_type
    FROM tot JOIN top USING (user_id)
    """


def stream_transform_with_state_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas (the Spark-4 stateful API that
    supersedes applyInPandasWithState): per-user event-type mix kept
    in typed MAP state — one (type -> count) entry per key, updated
    per micro-batch, emitting running (n_total, n_types, top_type)
    with a deterministic count-desc/type-asc tie-break.  Cumulative
    emissions are monotone in n_total, so max_by collapses to the
    final state = the batch aggregate `_TWS_ORACLE` computes.
    MapState is the right shape for unbounded streams: state is
    O(#types) per user, never O(#events), and single entries update
    without rewriting the whole value (what the old single-tuple
    state API forced).  Where protobuf (the TWS driver-worker wire
    protocol) is unavailable, the query detect-and-degrades to an
    applyInPandasWithState fallback carrying the histogram as
    parallel arrays in the state tuple — identical emissions, same
    oracle, so the operator is green in every environment and the
    typed-MapState path lights up wherever the dependency exists."""
    # DIRTY-EVENTS CONTRACT: user_id >= 0 drops the flush row AND the
    # NULL key (keyed state needs a key); a NULL event_type is excluded
    # because a type histogram needs a type — pandas groupby would
    # silently drop it while SQL GROUP BY keeps it, so neither side may
    # see it.
    s = (
        events_stream(spark, sf_dir)
        .filter((F.col("user_id") >= 0) & F.col("event_type").isNotNull())
        .select("user_id", "event_type")
    )
    if _has_protobuf():
        # transformWithState requires the RocksDB state store provider
        # (the default HDFS-backed store does not implement the new
        # multi-state-variable protocol); scope the conf to this query.
        mixed = s.groupBy("user_id").transformWithStateInPandas(
            _UserTypeMix(),
            outputStructType=_MIX_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
        provider = (
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        emitted = run_stream(mixed, "tws_mix", "append", confs=[provider])
    else:
        mixed = s.groupBy("user_id").applyInPandasWithState(
            _update_type_mix,
            outputStructType=_MIX_OUT_SCHEMA,
            stateStructType=_MIX_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        emitted = run_stream(mixed, "tws_mix_fallback", "append")
    return emitted.groupBy("user_id").agg(
        F.max("n_total").cast("long").alias("n_total"),
        F.max_by("n_types", "n_total").cast("long").alias("n_types"),
        F.max_by("top_type", "n_total").alias("top_type"),
    )


register(
    "stream_transform_with_state_mix",
    oracle=_TWS_ORACLE,
    tags=("B27", "B23"),
    doc=stream_transform_with_state_mix.__doc__,
)(stream_transform_with_state_mix)


# ---------------------------------------------------------------------------
# ingestion-time near-duplicate suppression
# ---------------------------------------------------------------------------

from pyspark.sql.types import IntegerType  # noqa: E402

from scache_spark.catalog import load_table  # noqa: E402
from scache_spark.functions import word_shingles  # noqa: E402
from scache_spark.operators.dedup import (  # noqa: E402
    _AUG_SQL,
    _BAND_SQL,
    _SHINGLE_SQL,
    _SIG_SQL,
    N_BANDS,
    SHINGLE_N,
    _band_cols,
    _signature_cols,
    augment_doc_variants,
)
from scache_spark.streaming.windows import documents_stream  # noqa: E402

_NEARDUP_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("band_id", IntegerType()),
    ]
)
# Shard-coalesced bucket state: keyed state costs a JVM↔Python state
# round trip PER KEY PER BATCH, and LSH buckets are overwhelmingly
# singletons — keying state by raw (band_id, band_hash) pays ~20k
# round trips per micro-batch at sf0.1 with almost every one a no-op.
# Instead the stateful key is (band_id, shard) where
# shard = band_hash % _NEARDUP_SHARDS, and each shard's state holds
# ITS buckets as three parallel arrays (bucket hash, membership count,
# concatenated smallest-ids).  Per-bucket semantics (monotone verdict,
# smallest-ids cap) are unchanged; only the state-store granularity
# coarsens.  _NEARDUP_SHARDS trades round-trip count against state
# value size — raise it for bigger corpora so a shard's bucket map
# stays small (it is a constant, not data-dependent, so the key space
# is stable across batches and restarts).
# STATE SCHEMA v2 (r5: +gens/+gen TTL fields).  applyInPandasWithState
# does not support state-schema evolution: a checkpoint written with
# the v1 3-field schema cannot be resumed by this code (state.get
# unpacks 5 values and fails).  Every run here uses a fresh per-run
# checkpoint, so this only matters for external deployments — on a
# schema change, deploy with a NEW checkpoint dir (bump a .../v{N}
# suffix) and replay, exactly as Spark's own docs require for any
# stateful-schema change.
_NEARDUP_STATE_VERSION = 2
_NEARDUP_STATE_SCHEMA = StructType(
    [
        StructField("hashes", ArrayType(StringType())),
        StructField("counts", ArrayType(IntegerType())),
        StructField("ids", ArrayType(LongType())),
        # per-bucket last-touched generation + the shard's current
        # generation (one tick per micro-batch that touches the shard)
        StructField("gens", ArrayType(IntegerType())),
        StructField("gen", IntegerType()),
    ]
)
_NEARDUP_BUCKET_CAP = 64
_NEARDUP_SHARDS = 256
# Cold-bucket TTL in shard-touch generations: a bucket not refreshed
# for this many shard-touching micro-batches is dropped at the next
# shard rewrite.  None = retain forever (the fixture default — the
# registered query's oracle is whole-corpus min-id semantics, so
# eviction must not fire during the bounded replay).  On a genuinely
# unbounded feed set a horizon: a bucket idle past it can no longer
# suppress retroactively — the standard dedup-horizon trade — and
# total shard state becomes O(buckets touched within the horizon)
# instead of O(all buckets ever seen).
_NEARDUP_TTL_GENS: int | None = None


def _update_neardup_shard(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold arriving (band_hash, doc_id) rows into this shard's bucket
    map and emit ONLY the (doc_id, band_id) pairs whose collided
    verdict just became true.  A doc collides iff it is not the
    smallest id its bucket ever sees, and a bucket's min only
    decreases, so the verdict is MONOTONE: a doc either collides at
    arrival (id > bucket min) or flips exactly once later, when a
    smaller id arrives and dethrones it as the minimum.  Each
    (doc, band) pair is therefore emitted AT MOST ONCE across any
    availableNow batch split — the downstream per-doc count needs no
    dedup — and buckets not touched this batch cost nothing.  Capping
    keeps each bucket's smallest ids — exactly the set that can still
    dethrone a minimum; evicted (larger) ids already emitted their
    verdict at arrival, and a bucket's minimum is never evicted."""
    buckets: dict[str, list[int]] = {}
    gens: dict[str, int] = {}
    gen = 0
    if state.exists:
        hashes, counts, flat, bgens, gen = state.get
        pos = 0
        for h, c, g in zip(hashes, counts, bgens):
            buckets[str(h)] = [int(x) for x in flat[pos : pos + c]]
            gens[str(h)] = int(g)
            pos += c
        gen = int(gen)
    gen += 1  # this shard-touching micro-batch
    collided: list[int] = []
    touched = False
    for pdf in pdfs:
        for h, d in zip(pdf["band_hash"], pdf["doc_id"]):
            h, d = str(h), int(d)
            gens[h] = gen  # any arrival refreshes the bucket's TTL
            ids = buckets.get(h)
            if ids is None:
                buckets[h] = [d]
                touched = True
                continue
            if d in ids:
                continue
            touched = True
            mn = ids[0]
            # d dethrones the bucket minimum -> the old minimum's
            # (single, final) true verdict emits now; otherwise d
            # itself collides at arrival
            collided.append(mn if d < mn else d)
            # insertion-sorted ascending, trimmed to the smallest
            # _NEARDUP_BUCKET_CAP ids (the minimum is never evicted)
            bisect.insort(ids, d)
            del ids[_NEARDUP_BUCKET_CAP:]
    if _NEARDUP_TTL_GENS is not None:
        cold = [h for h, g in gens.items() if gen - g > _NEARDUP_TTL_GENS]
        for h in cold:
            del buckets[h], gens[h]
            touched = True
    if not touched and _NEARDUP_TTL_GENS is None:
        # fast path: nothing changed and recency isn't tracked for
        # eviction, so skip the state rewrite entirely
        return
    state.update(
        (
            list(buckets.keys()),
            [len(v) for v in buckets.values()],
            [x for v in buckets.values() for x in v],
            [gens[h] for h in buckets.keys()],
            gen,
        )
    )
    if not collided:
        return
    yield pd.DataFrame(
        {
            "doc_id": collided,
            "band_id": [int(key[0])] * len(collided),
        }
    )


_NEARDUP_MELT_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {j} AS band_id, band_{j} AS band_hash FROM bands"
    for j in range(N_BANDS)
)


@register(
    "stream_neardup_suppress",
    oracle=f"""
    WITH {_AUG_SQL}, {_SHINGLE_SQL},
    sigs AS (SELECT doc_id, {_SIG_SQL} FROM shingled),
    bands AS (SELECT doc_id, {_BAND_SQL} FROM sigs),
    melted AS ({_NEARDUP_MELT_SQL}),
    mn AS (SELECT band_id, band_hash, min(doc_id) AS mn
           FROM melted GROUP BY band_id, band_hash),
    verdict AS (
      SELECT m.doc_id, m.band_id, m.doc_id > x.mn AS collided
      FROM melted m
      JOIN mn x ON m.band_id = x.band_id AND m.band_hash = x.band_hash
    )
    SELECT doc_id,
           bool_or(collided) AS suppressed,
           CAST(sum(CASE WHEN collided THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_bands
    FROM verdict GROUP BY doc_id
    """,
    tags=("B27", "B24", "B13"),
    doc="Ingestion-time near-duplicate suppression: the MinHash-LSH "
    "dedup family run AT ARRIVAL instead of over a stored corpus.  "
    "The document feed is augmented with the planted variants, "
    "shingled, minhashed and banded entirely map-side (the same "
    "codegen expressions as the batch family), then keyed state per "
    "(band_id, band_hash) bucket tracks membership and verdicts a "
    "doc as suppressed the moment any of its band buckets already "
    "holds an earlier (smaller-id) doc — the engine twin of the "
    "reference's at-arrival block bookkeeping (per-block state "
    "updated as outputs land, MapOutputTracker.scala:282-292, "
    "triggered by BlockManagerMasterEndpoint.scala:347-366).  The "
    "verdict channel carries ONLY suppressions: verdicts are "
    "monotone, so each (doc, band) collision emits at most once "
    "(at arrival, or on the single min-flip) and singleton buckets "
    "— the overwhelming majority — emit nothing, keeping per-group "
    "pandas overhead off the hot path; the full doc list rejoins "
    "from the feed's id column batch-side.  The smallest-ids cap "
    "bounds state PER BUCKET (eviction only drops ids whose verdict "
    "is already final, monotone-true, so no emitted verdict changes); "
    "total shard state is O(distinct LSH buckets seen), which grows "
    "with corpus VOCABULARY, not stream length — and for a genuinely "
    "unbounded feed the cold-bucket TTL (_NEARDUP_TTL_GENS, "
    "generation-based, disabled for this bounded replay because the "
    "oracle is whole-corpus min-id semantics) drops buckets idle "
    "past the dedup horizon, making state O(buckets within the "
    "horizon).  At 100 TB this is the shape that dedups a firehose "
    "BEFORE storage: no self-join, no stored corpus scan — one "
    "shuffle to bucket keys, O(1)-ish state per bucket.",
)
def stream_neardup_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingle participation contract (r6): token-count predicate
    # BEFORE the shingle projection (see dedup.shingled_docs — a
    # post-projection size(sh) filter double-computes word_shingles)
    docs = augment_doc_variants(
        documents_stream(spark, sf_dir).select("doc_id", "text", "source")
    ).filter(F.size(F.split(F.col("text"), " ")) >= SHINGLE_N)
    sh = docs.select(
        "doc_id", word_shingles(F.split(F.col("text"), " "), SHINGLE_N).alias("sh")
    )
    bands = sh.select("doc_id", *_signature_cols()).select(
        "doc_id", *_band_cols()
    )
    melted = bands.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.col(f"band_{j}").alias("band_hash"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band_id", "b.band_hash")
    sharded = melted.withColumn(
        "shard",
        F.pmod(F.xxhash64("band_hash"), F.lit(_NEARDUP_SHARDS)).cast("int"),
    )
    verdicts = sharded.groupBy("band_id", "shard").applyInPandasWithState(
        _update_neardup_shard,
        outputStructType=_NEARDUP_OUT_SCHEMA,
        stateStructType=_NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_stream(verdicts, "neardup", "append")
    # Emission is at-most-once per (doc, band) for once-per-doc arrival
    # streams; the distinct guards the re-arrival-after-eviction corner
    # and costs one exchange over ONLY the collided pairs (tiny).
    dup_counts = (
        emitted.select("doc_id", "band_id")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_bands"))
    )
    # Non-suppressed docs emit nothing (that is the whole point: the
    # firehose's verdict channel carries only suppressions); the full
    # doc list is recovered from the same deterministic augmented feed
    # batch-side — a metadata-weight id column, never the text.  The
    # universe is shingle-PARTICIPATING docs (same contract as the
    # stream side and the oracle): a doc below the shingle width has
    # no near-dup verdict at this granularity.
    base = (
        augment_doc_variants(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "text", "source"
            )
        )
        .filter(F.size(F.split(F.col("text"), " ")) >= SHINGLE_N)
        .select("doc_id")
    )
    return base.join(dup_counts, "doc_id", "left").select(
        "doc_id",
        F.col("n_dup_bands").isNotNull().alias("suppressed"),
        F.coalesce("n_dup_bands", F.lit(0).cast("long")).alias("n_dup_bands"),
    )
