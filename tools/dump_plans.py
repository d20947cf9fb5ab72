"""Dump `.explain("formatted")` for named queries into plans/rNN/.

    python tools/dump_plans.py --round N SUFFIX QUERY [QUERY...]

Writes plans/r<N>/<query>_<SUFFIX>.txt (SUFFIX = before|after) from
the sf dir in ``SPARK_GRAFT_SF_DIR`` (default sf0.1).  For any SUFFIX
other than ``before``, each query is also compared with its
``_before`` file after normalising per-process counters (expression
ids ``#NNN``, lambda variable numbers, RDD and plan ids) and
reported as ``identical`` or ``differs``.  The optimization-round
judge checks plan claims against these files.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scache_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from scache_spark.registry import REGISTRY, _ensure_loaded  # noqa: E402
from scache_spark.session import get_session  # noqa: E402


# per-process counters that differ between two runs of the same plan
_COUNTERS = (
    (r"#\d+", "#N"),  # expression ids
    (r"\b(lambda \w+?)_\d+", r"\1_N"),  # lambda variable names
    (r"RDD\[\d+\]", "RDD[N]"),  # checkpointed RDD ids
    (r"plan_id=\d+", "plan_id=N"),
)


def _normalised(plan: str) -> str:
    for pat, rep in _COUNTERS:
        plan = re.sub(pat, rep, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="+", metavar="QUERY")
    args = ap.parse_args()
    out = os.path.join(REPO, "plans", f"r{args.round:02d}")
    os.makedirs(out, exist_ok=True)
    _ensure_loaded()
    spark = get_session(f"plans-r{args.round:02d}")
    sf = DEFAULT_SF_DIR
    if any(n.startswith("stream_") for n in args.names):
        from scache_spark.streaming.windows import (
            _staged_documents_dir,
            _staged_events_dir,
        )

        _staged_events_dir(spark, sf, copies=1)
        _staged_documents_dir(spark, sf)
    for name in args.names:
        df = REGISTRY[name].fn(spark, sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        note = ""
        before = os.path.join(out, f"{name}_before.txt")
        if args.suffix != "before" and os.path.exists(before):
            with open(before) as f:
                same = _normalised(f.read()) == _normalised(plan)
            note = ", identical to before" if same else ", differs from before"
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs{note})")


if __name__ == "__main__":
    main()
