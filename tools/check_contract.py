"""Local replica of the driver's correctness gate: run each queries() entry
on Spark at sf0.01, run oracle_sql() in DuckDB on the same parquet views,
compare rowcount + sorted column names + order-insensitive values."""
import sys, math, os
import pathlib; sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
import duckdb
import __spark_entry__ as E
from zelph_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = sys.argv[2:] or None


def host_session_size():
    """local[<cores>] from SPARK_GRAFT_CPUS (else the usable cores) and a
    pre-touched driver heap of a quarter of host RAM, 1-16 GiB — sized like
    perfbench's session so the gate runs on small hosts too."""
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"local[{cores}]", f"{max(1024, min(16384, total_mb // 4))}m"


master, heap = host_session_size()
print(f"session: {master}, driver heap {heap}")
spark = get_spark(master=master, extra_conf={"spark.driver.memory": heap})
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def canon_val(v):
    if isinstance(v, float):
        if math.isnan(v): return "nan"
        return f"{v:.6g}"
    return str(v)

qs, os_ = E.queries(), E.oracle_sql()
fails = []
for name, fn in qs.items():
    if only and name not in only: continue
    try:
        sdf = fn(spark, SF).toPandas()
    except Exception as ex:
        print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}"[:400]); fails.append(name); continue
    if name not in os_:
        print(f"OK?  {name}: rows-only ({len(sdf)} rows)")
        continue
    try:
        odf = con.sql(os_[name]).df()
    except Exception as ex:
        print(f"FAIL {name}: oracle error {ex}"[:400]); fails.append(name); continue
    scols, ocols = sorted(map(str.lower, sdf.columns)), sorted(map(str.lower, odf.columns))
    if scols != ocols:
        print(f"FAIL {name}: cols {scols} vs {ocols}"); fails.append(name); continue
    if len(sdf) != len(odf):
        print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}"); fails.append(name); continue
    sset = sorted(tuple(canon_val(v) for v in row) for row in sdf[sorted(sdf.columns, key=str.lower)].itertuples(index=False))
    oset = sorted(tuple(canon_val(v) for v in row) for row in odf[sorted(odf.columns, key=str.lower)].itertuples(index=False))
    if sset != oset:
        diff = [i for i,(a,b) in enumerate(zip(sset,oset)) if a!=b][:3]
        print(f"FAIL {name}: values differ, e.g. idx {diff}:")
        for i in diff:
            print("   spark:", sset[i], "\n   oracle:", oset[i])
        fails.append(name); continue
    print(f"PASS {name}: {len(sdf)} rows")
print("\nRESULT:", "ALL PASS" if not fails else f"FAILS: {fails}")
