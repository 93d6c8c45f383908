"""Driver-gate simulation: run every ``queries()`` entry (or just the names
given as argv) against its DuckDB oracle at sf0.01 from a VANILLA session.

Run from OUTSIDE the checkout (``cd /tmp && python <checkout>/tools/driver_sim.py``)
so executor-import/cwd bugs surface exactly as they would under the driver.
It imports the checkout it lives in, so a copy or worktree tests its own code.
Override the scale dir with SPARK_GRAFT_SIM_SF_DIR.
"""

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
import duckdb

spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as m

SF = os.environ.get("SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01")
qs, osql = m.queries(), m.oracle_sql()
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    if v is None: return "<null>"
    if isinstance(v, float): return "<nan>" if math.isnan(v) else repr(v)
    if isinstance(v, bytes): return v.hex()
    return str(v)

names = sys.argv[1:] or sorted(osql)
fails, ok = [], 0
for name in names:
    if name not in qs:
        fails.append((name, "not in queries() registry"))
        continue
    fn = qs[name]
    try:
        sdf = fn(spark, SF); scols = sdf.columns; srows = [tuple(r) for r in sdf.collect()]
        if name not in osql:
            ok += 1
            continue
        res = con.execute(osql[name]); dcols = [d[0] for d in res.description]; drows = res.fetchall()
        so = sorted(range(len(scols)), key=lambda i: scols[i]); do = sorted(range(len(dcols)), key=lambda i: dcols[i])
        if sorted(scols) != sorted(dcols) or len(srows) != len(drows) or \
           sorted(tuple(norm(r[i]) for i in so) for r in srows) != sorted(tuple(norm(r[i]) for i in do) for r in drows):
            fails.append(name); continue
        ok += 1
    except Exception as e:
        fails.append((name, str(e)[:120]))
print("ok:", ok, "FAILS:", fails)
