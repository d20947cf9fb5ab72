"""The benchmark's workloads: frozen query lists over generated tables.

The lists are frozen here rather than imported from ``bench.py`` so the
benchmark measures the same work as the registry grows.  Every
workload is one closed-loop client running one query at a time on
``local[<cores>]``.  Each carries one stream query, availableNow
micro-batches over the same tables, so the stream metrics exist on
both.
"""

from __future__ import annotations

import contextlib
import os
import sys
from dataclasses import dataclass

import datagen

# The tables are the same on every run; ``--seed`` sets only the query
# order of each pass.
DATA_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale factor of the generated base tables
    factor: int  # key-shifted replication of the base (1: the base itself)
    queries: tuple[str, ...]

    @property
    def stream(self) -> bool:
        """Whether set-up must stage the streaming sources."""
        return any(q.startswith("stream_") for q in self.queries)

    def stage(self, work: str) -> str:
        """Generate the base tables under ``work`` and, for a replica,
        stage it with ``tools/scale_stress.stage``; returns the table
        directory.  Both steps reuse a complete earlier copy."""
        base = os.path.join(work, "data", f"sf{self.sf}")
        datagen.write(base, DATA_SEED, self.sf)
        if self.factor == 1:
            return base
        import scale_stress

        with contextlib.redirect_stdout(sys.stderr):
            return scale_stress.stage(base, self.factor)


WORKLOADS = {
    w.name: w
    for w in (
        # Sub-second queries over ~60k lineitem rows: time goes to the
        # driver -- plan construction, Catalyst, AQE re-planning, job
        # scheduling -- and, for the stream, per-batch planning, WAL
        # and state-store commits and Python state workers.
        Workload(
            name="interactive_sf001",
            sf=0.01,
            factor=1,
            queries=(
                "broadcast_join_parts",
                "agg_battery",
                "window_analytics",
                "topk_per_group",
                "tpch_q17_small_quantity_revenue",
                "stream_transform_with_state_mix",
            ),
        ),
        # Multi-join TPC-H queries and span dedup over the x10 key-shifted
        # replica (~600k lineitem rows): executor CPU and shuffle
        # write/fetch carry most of the time, and the stream pushes ten
        # times the events through its state store.
        Workload(
            name="shuffle_x10",
            sf=0.01,
            factor=10,
            queries=(
                "tpch_q21_waiting_suppliers",
                "tpch_q18_large_volume_orders",
                "dedup_span_rewrite",
                "stream_tumbling_window",
            ),
        ),
    )
}
