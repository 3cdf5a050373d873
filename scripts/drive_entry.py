# Drive the driver contract exactly as the harness would: vanilla session,
# import __spark_entry__, smoke entry(), then oracle-compare 3 queries.
import os, sys, math
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions","8")
         .config("spark.ui.enabled","false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as E

df = E.entry(spark)
rows = df.collect()
print("entry: rows=", len(rows), "schema=", [f.name for f in df.schema.fields])
assert len(rows) > 0

q, o = E.queries(), E.oracle_sql()
print("queries:", len(q), "oracles:", len(o), "missing_oracles:", sorted(set(q)-set(o)))

import duckdb
con = duckdb.connect()
SF="/root/testdata/sf0.01"
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
def norm(v):
    if isinstance(v,float):
        return "NaN" if math.isnan(v) else ("0" if v==0 else f"{v:.9g}")
    return v.isoformat() if hasattr(v,"isoformat") else str(v)
for name in ["date_partition_counts","docs_minhash_lsh_pairs","ann_cosine_topk"]:
    sdf = q[name](spark, SF)
    s = sorted(tuple(norm(v) for v in r) for r in sdf.select(*sorted(sdf.columns)).collect())
    res = con.execute(o[name]); dc=[d[0] for d in res.description]
    idx = sorted(range(len(dc)), key=lambda i: dc[i])
    d = sorted(tuple(norm(r[i]) for i in idx) for r in res.fetchall())
    print(name, "match:", s==d, "rows:", len(s))
# probe: rerun same query twice on one session -> identical result
a = q["pricing_summary"](spark, SF).collect()
b = q["pricing_summary"](spark, SF).collect()
print("rerun idempotent:", a==b)
