import os, sys, math, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.session import get_spark
from redpanda_to_parquet_writer_spark.plans import QUERIES, ORACLES

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# optional arg 2: comma-separated query names (exact) to run a subset,
# e.g. re-verifying the tail after an interrupted sweep
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
# one result line per query: Spark's console progress bar would
# otherwise share the output stream with the OK/FAIL lines
os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false " + (
    os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
)
spark = get_spark(EngineConfig(shuffle_partitions=16, master="local[8]"), "verify")
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        if v == 0: return "0"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"): return v.isoformat()
    return str(v)

fails = []
for name in sorted(QUERIES):
    if ONLY is not None and name not in ONLY:
        continue
    t0 = time.time()
    try:
        sdf = QUERIES[name](spark, SF)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(ORACLES[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        so = sorted(range(len(scols)), key=lambda i: scols[i])
        do = sorted(range(len(dcols)), key=lambda i: dcols[i])
        s = sorted(tuple(norm(r[i]) for i in so) for r in srows)
        d = sorted(tuple(norm(r[i]) for i in do) for r in drows)
        ok = sorted(scols) == sorted(dcols) and s == d
        status = "OK " if ok else "FAIL"
        if not ok:
            fails.append(name)
            diff = next(((a,b) for a,b in zip(s,d) if a!=b), None)
            print(f"{status} {name} rows={len(s)}/{len(d)} diff={diff}")
        else:
            print(f"{status} {name} rows={len(s)} {time.time()-t0:.1f}s")
    except Exception as e:
        fails.append(name)
        print(f"ERR {name}: {str(e)[:200]}")
print("FAILS:", fails)
