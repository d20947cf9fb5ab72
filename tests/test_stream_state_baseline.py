"""Streaming state-store ratchet (r4 verdict item 5).

SHAPE_SKIP_PREFIXES excludes stream queries from the batch plan-shape
ratchet, so a state BLOW-UP — losing the shard-coalescing of
stream_neardup_suppress, a dedup horizon that stops expiring, a
watermark that stops closing windows — was invisible until a bench.
run_stream now records each run's PEAK state footprint
(max numRowsTotal / memoryUsedBytes over all progress events), and
this test replays every stream query at the baseline SF and fails
when peak state rows exceed 2x tools/stream_state_baseline.json
(regenerate deliberately with tools/gen_stream_state_baseline.py).
Bytes are recorded for observability, not ratcheted — they swing
with the state-store provider and JVM layout.  Every stateful run must
report STREAM_SHUFFLE_PARTITIONS state partitions, which the runner
sets only around its query's start().
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from scache_spark.streaming import windows as W  # noqa: E402
from tools.gen_stream_state_baseline import (  # noqa: E402
    OUT as BASELINE_PATH,
    measure,
    stream_query_names,
)

with open(BASELINE_PATH) as _f:
    BASELINE: dict[str, dict[str, int]] = json.load(_f)


def test_every_stream_query_has_a_state_baseline():
    missing = [n for n in stream_query_names() if n not in BASELINE]
    assert missing == [], (
        f"{len(missing)} stream queries lack a state baseline — run "
        f"`python tools/gen_stream_state_baseline.py`: {missing}"
    )


def test_no_stream_state_blowups(spark):
    regressions = []
    for name in stream_query_names():
        rec = BASELINE.get(name)
        if rec is None:  # reported by the test above
            continue
        cur = measure(spark, name)
        base_rows = rec["state_rows"]
        # zero-state queries must stay zero-state: a stateless plan
        # growing ANY state is a plan-shape change, not noise
        limit = 2 * base_rows if base_rows else 0
        if cur["state_rows"] > limit:
            regressions.append(
                f"{name}: peak state rows {cur['state_rows']} > "
                f"{limit} (baseline {base_rows})"
            )
        # measure() left this query's runs in LAST_STATE_METRICS
        parts = [m["state_partitions"] for m in W.LAST_STATE_METRICS.values()]
        want = [W.STREAM_SHUFFLE_PARTITIONS]
        stray = [p for p in parts if p not in ([], want)]
        if stray or (base_rows and want not in parts):
            regressions.append(f"{name}: state partitions {parts}, want {want}")
    assert regressions == [], "\n".join(regressions)
