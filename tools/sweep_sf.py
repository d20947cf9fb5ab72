"""Full-registry oracle sweep at an arbitrary SF — the generator of
CORRECTNESS_sf0.1.json (the canonical beyond-grading-scale artifact).

    python tools/sweep_sf.py [SF_DIR] [OUT_JSON]

defaults: /root/testdata/sf0.1 -> CORRECTNESS_sf0.1.json.  Every
registered query runs through Spark at SF_DIR and is compared
order-insensitively (tests.conftest.check_queries) against its
DuckDB oracle over the same parquet files.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scache_spark.registry import REGISTRY, _ensure_loaded
from scache_spark.session import get_session
from tests.conftest import check_queries


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, "CORRECTNESS_sf0.1.json")
    )
    _ensure_loaded()
    spark = get_session("sweep-sf")
    t_all = time.time()
    results = check_queries(spark, sf, sorted(REGISTRY))
    n_match = sum(1 for r in results.values() if r["status"] == "MATCH")
    n_fail = sum(1 for r in results.values() if r["status"] == "FAIL")
    out = {
        "sf_dir": sf,
        "n_queries": len(results),
        "n_match": n_match,
        "n_fail": n_fail,
        "total_sec": round(time.time() - t_all, 1),
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"\n{n_match}/{len(results)} MATCH, {n_fail} FAIL — wrote {out_path}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
