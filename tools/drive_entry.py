"""Contract check through __spark_entry__: a smoke call of entry(),
then registered queries compared against their DuckDB oracles at
sf0.01 (row count, column names, order-insensitive value hash).

Usage: python tools/drive_entry.py [name ...]

With no names every registered query runs, in registry order; names
restrict the run to those queries. Prints one line per query and a
final ``FAILS: N``; exits 1 if any query mismatches.
"""
import sys, hashlib, json, os, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import __spark_entry__ as e
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions","8")
         .config("spark.sql.session.timeZone","UTC")
         .config("spark.ui.enabled","false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# 1. smoke: entry()
df = e.entry(spark)
rows = df.collect()
print("entry rows:", len(rows), "schema:", df.schema.simpleString())

# 2. oracle parity at sf0.01, hash-style compare
SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def value_hash(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    recs = sorted(json.dumps([None if v != v else v for v in row], default=str) for row in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(recs).encode()).hexdigest()

qs, oracles = e.queries(), e.oracle_sql()
names = sys.argv[1:] or list(qs)
fails = 0
slow = {}
for name in names:
    t0 = time.perf_counter()
    spdf = qs[name](spark, SF).toPandas()
    el = time.perf_counter() - t0
    slow[name] = el
    o = oracles.get(name)
    if o is None:
        print(f"{name}: rows-only ({len(spdf)}) [{el:.2f}s]"); continue
    opdf = con.sql(o).df()
    ok_rows = len(spdf) == len(opdf)
    ok_cols = sorted(spdf.columns) == sorted(opdf.columns)
    ok_hash = value_hash(spdf) == value_hash(opdf)
    status = "OK" if (ok_rows and ok_cols and ok_hash) else "MISMATCH"
    if status != "OK": fails += 1
    print(f"{name}: {status} rows={len(spdf)}/{len(opdf)} cols_match={ok_cols} hash_match={ok_hash} [{el:.2f}s]")
top = sorted(slow.items(), key=lambda kv: -kv[1])[:10]
print("slowest:", ", ".join(f"{n}={s:.1f}s" for n, s in top))
if not sys.argv[1:]:
    # the rotation window: the first 50 registry entries
    print("window_spark_s:", round(sum(s for n, s in list(slow.items())[:50]), 1))
print("FAILS:", fails)
spark.stop()
sys.exit(1 if fails else 0)
