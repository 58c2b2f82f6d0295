"""Driver-contract verifier: emulates the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables (default
sf0.01), comparing row counts, column names, and order-insensitive
values. Usage: ``python tools/verify_contract.py [--bare] [--only q1,q2]
[sf_dir]``; ``--only`` checks just the named queries. Exits 1 when any
query fails or errors (the last line then lists them instead of
``FAILS: none``), so it can gate a script or CI step.
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import math
import __spark_entry__ as e
from pyspark.sql import SparkSession
import duckdb

# --bare: build the session the way the external driver does — NO engine
# confs at all. The round-1 regression (nanosAsLong set only by
# get_spark) is exactly the class of bug this mode catches; load_table
# must make every query work on such a session.
args = [a for a in sys.argv[1:] if a != "--bare"]
BARE = len(args) != len(sys.argv) - 1
qs, oracles = e.queries(), e.oracle_sql()
if "--only" in args:
    i = args.index("--only")
    names = args[i + 1] if i + 1 < len(args) else ""
    only = [n for n in names.split(",") if n]
    unknown = sorted(set(only) - qs.keys())
    if not only or unknown:
        sys.exit(f"--only needs known query names: {unknown or 'none given'}")
    qs = {name: qs[name] for name in only}
    del args[i : i + 2]
builder = SparkSession.builder.master("local[8]").config(
    "spark.ui.enabled", "false"
)
if not BARE:
    builder = (
        builder.config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

print("bare session" if BARE else "configured session")
print("entry rows:", len(e.entry(spark).collect()))

SF_DIR = args[0] if args else "/root/testdata/sf0.01"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
fails = []
for name, fn in qs.items():
    try:
        sdf = fn(spark, SF_DIR)
        srows = [tuple(r) for r in sdf.collect()]; scols = sdf.columns
        if name not in oracles:
            print(f"{name}: rows-only, rows={len(srows)}"); continue
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]; drows = res.fetchall()
        so = sorted(range(len(scols)), key=lambda i: scols[i])
        do = sorted(range(len(dcols)), key=lambda i: dcols[i])
        ss = sorted([tuple(r[i] for i in so) for r in srows], key=repr)
        dd = sorted([tuple(r[i] for i in do) for r in drows], key=repr)
        ok = sorted(scols) == sorted(dcols) and ss == dd
        status = "OK " if ok else "FAIL"
        if not ok:
            fails.append(name)
            for a, b in zip(ss, dd):
                if a != b:
                    print("  first diff:\n   spark =", a, "\n   duck  =", b)
                    break
        print(f"{status} {name}: spark={len(srows)} duck={len(drows)}")
    except Exception as ex:
        fails.append(name)
        print(f"ERR {name}: {type(ex).__name__} {str(ex).splitlines()[0][:100]}")
print("FAILS:", fails if fails else "none", f"({len(qs)} queries)")
spark.stop()
sys.exit(1 if fails else 0)
