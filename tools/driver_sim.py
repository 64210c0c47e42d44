"""Driver simulation: run EVERY registry query in a vanilla session the
way the round driver does (fresh module load, stock SparkSession) and
hash-compare each against its DuckDB oracle, timing both sides.

Usage: python tools/driver_sim.py [sf_dir] [name1,name2,...]
(defaults: the sf0.01 test data, every query)

This is the pre-flight for CORRECTNESS_r{N}: if this prints 0 failures,
the driver's own sweep will too."""
import importlib.util
import itertools
import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from big_data_occupancy_detection_spark.sources.readers import TABLE_NAMES

spec = importlib.util.spec_from_file_location(
    "e", os.path.join(REPO, "__spark_entry__.py")
)
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)

spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# lazy oracles (r10: VALUES-baked ANN shortlists) must bake against the
# SAME sf dir this sweep runs; the external driver uses the sf0.01
# default
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf

con = duckdb.connect()
for t in TABLE_NAMES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

qs, osql = m.queries(), m.oracle_sql()
only = sys.argv[2] if len(sys.argv) > 2 else ""
if only:
    wanted = {w.strip() for w in only.split(",") if w.strip()}
    missing = wanted - qs.keys()
    if missing:
        sys.exit(f"unknown query name(s): {sorted(missing)}")
    qs = {k: v for k, v in qs.items() if k in wanted}
key = lambda t: tuple((v is None, str(v)) for v in t)

results = []
t_all = time.perf_counter()
for name in sorted(qs):
    t0 = time.perf_counter()
    try:
        sdf = qs[name](spark, sf)
        cols = sorted(sdf.columns)
        srows = sorted([tuple(r[c] for c in cols) for r in sdf.collect()], key=key)
        t_spark = time.perf_counter() - t0
        if name not in osql:
            results.append((name, "ROWS-ONLY", len(srows), t_spark, 0.0))
            continue
        t1 = time.perf_counter()
        ob = con.execute(osql[name]).fetchall()
        odesc = [d[0] for d in con.description]
        idx = [odesc.index(c) for c in cols]
        orows = sorted([tuple(r[i] for i in idx) for r in ob], key=key)
        t_ora = time.perf_counter() - t1
        ok = srows == orows
        results.append((name, "PASS" if ok else "FAIL", len(srows), t_spark, t_ora))
        if not ok:
            print(f"MISMATCH {name}: spark {len(srows)} rows vs oracle {len(orows)} rows")
            for a, b in itertools.zip_longest(srows, orows):
                if a != b:
                    print("  first diff\n  s:", a, "\n  o:", b)
                    break
    except Exception as ex:
        results.append((name, "ERROR: " + str(ex)[:80], 0, time.perf_counter() - t0, 0.0))

total = time.perf_counter() - t_all
fails = [r for r in results if r[1] not in ("PASS", "ROWS-ONLY")]
# optional committed artifact (verdict r5 item 4): per-query verdicts for
# the full registry, diffable by the next judge
out_json = os.environ.get("SPARK_GRAFT_DRIVERSIM_OUT")
if out_json:
    import json

    with open(out_json, "w") as fh:
        json.dump(
            {
                "sf_dir": sf,
                "n_queries": len(results),
                "n_failures": len(fails),
                "total_s": round(total, 1),
                "queries": {
                    r[0]: {
                        "verdict": r[1],
                        "rows": r[2],
                        "spark_s": round(r[3], 2),
                        "oracle_s": round(r[4], 2),
                    }
                    for r in sorted(results)
                },
            },
            fh,
            indent=1,
        )
print(f"\n=== {len(results)} queries, total {total:.1f}s, failures: {len(fails)} ===")
for r in sorted(results, key=lambda r: -(r[3] + r[4]))[:12]:
    print(f"{r[3]+r[4]:7.2f}s (spark {r[3]:.2f} / oracle {r[4]:.2f})  {r[1]:<10} {r[0]}")
for r in fails:
    print("FAILED:", r[0], r[1])
spark.stop()
