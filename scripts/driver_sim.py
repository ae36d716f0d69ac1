"""Judge-side driver simulator: fresh default-config Spark vs DuckDB oracle.

Usage: python scripts/driver_sim.py [SF_DIR] [name1,name2,...]
Runs every (or the named) registered queries through __spark_entry__
in THIS process against the DuckDB oracle over the same parquet views,
comparing row count + strict sorted-value hash — the .claude/skills/
verify recipe, versioned so future sessions don't rebuild it from the
description. Run from a DIFFERENT cwd than the repo if a stray
metastore matters; always a FRESH process (the driver's session config
is unknown, so no session.get_spark tuning here).
"""
import hashlib, json, os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from pyspark.sql import SparkSession

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
NAMES = sys.argv[2].split(",") if len(sys.argv) > 2 else None

spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e

qs = e.queries()
oracles = e.oracle_sql()

con = duckdb.connect()
import glob
for p in glob.glob(os.path.join(SF_DIR, "*")):
    t = os.path.basename(p).split(".")[0]
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}/*.parquet' )" if os.path.isdir(p)
                else f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")

def vhash(rows):
    canon = sorted(repr(tuple(r)) for r in rows)
    return hashlib.md5("\n".join(canon).encode()).hexdigest()

names = NAMES or list(qs)
out = {}
for n in names:
    try:
        sdf = qs[n](spark, SF_DIR)
        srows = [tuple(r) for r in sdf.collect()]
        osql = oracles.get(n)
        if osql is None:
            out[n] = {"rows": len(srows), "oracle": None}
            continue
        orel = con.sql(osql)
        # The official driver's fetch path is stricter than fetchall():
        # DuckDB HUGEINT (e.g. an uncast sum(BIGINT)) surfaces as
        # int128/decimal there and hash-mismatches Spark int64 even on
        # equal values — the r09 x9/e2e_d root cause. Surface it here.
        portable = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE",
                    "FLOAT", "VARCHAR", "BOOLEAN", "DATE", "TIMESTAMP"}
        twarn = [f"{c}:{t}" for c, t in zip(orel.columns, orel.types)
                 if str(t) not in portable]
        orows = orel.fetchall()
        out[n] = {
            "rows_match": len(srows) == len(orows),
            "hash_match": vhash(srows) == vhash(orows),
            "spark_rows": len(srows), "oracle_rows": len(orows),
        }
        if twarn:
            out[n]["type_warn"] = twarn
    except Exception as ex:
        out[n] = {"err": str(ex)[:300]}
print(json.dumps(out, indent=1))
