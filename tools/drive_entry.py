"""Drive __spark_entry__ exactly as the driver does: entry() smoke at
sf0.001, then every queries() entry at sf0.01 vs oracle_sql() in DuckDB,
order-insensitive compare (tests.conftest.check_queries)."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from scache_spark.session import get_session
from tests.conftest import check_queries  # same comparator semantics

SF = __import__("os").environ.get("DRIVE_SF_DIR", "/root/testdata/sf0.01")
spark = get_session("driver-sim")

t0 = time.time()
df = E.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}, {time.time()-t0:.1f}s")

qs, os_ = E.queries(), E.oracle_sql()
# optional scope: substrings on argv — `python tools/drive_entry.py kll theta`
# runs only queries whose name contains any argument (full sweep otherwise).
names = sorted(n for n in qs if not sys.argv[1:] or any(s in n for s in sys.argv[1:]))
print(f"{len(names)} queries, {len(os_)} oracles")

results = check_queries(spark, SF, names, oracles=os_, queries=qs)
fails = [n for n, r in results.items() if r["status"] == "FAIL"]
print(f"\n{'ALL OK' if not fails else 'FAILURES: ' + str(fails)}")
sys.exit(1 if fails else 0)
