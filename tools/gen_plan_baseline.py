"""Generate tools/plan_baseline.json: per-query plan-shape numbers
(exchange count, broad same-file scan total) for every non-streaming
registered query at sf0.01.

The baseline turns plan SHAPE into a ratchet: `tests/test_plan_baseline.py`
fails if any query's current plan needs MORE exchanges or MORE broad
scans than recorded here — the regression class the absolute lint
thresholds (plan_lint: >8 exchanges, >2 same-file scans) cannot see
(e.g. a 3 -> 7 exchange regression passes both).  Regenerate
deliberately after a plan-improving change:

    python tools/gen_plan_baseline.py

A new query must be added here (by regenerating) before CI accepts it.
The sweep is the same threaded sweep_plan_reports the CI fixture uses,
so generator and checker can never measure differently.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scache_spark.plans import sweep_plan_reports
from scache_spark.session import get_session

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_baseline.json")


def main() -> None:
    spark = get_session("plan-baseline")
    reports = sweep_plan_reports(spark)
    errs = {n: r for n, r in reports.items() if isinstance(r, Exception)}
    if errs:
        for n, e in errs.items():
            print(f"ERROR {n}: {e}")
        sys.exit(1)
    base = {
        n: {"exchanges": r["exchanges"], "broad_scans": r["broad_scans"]}
        for n, r in sorted(reports.items())
    }
    with open(OUT, "w") as f:
        json.dump(base, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(base)} baselines to {OUT}")


if __name__ == "__main__":
    main()
