"""Multi-seed regeneration fuzz for the driver's CORRECTNESS subset.

The one recurring failure mode across rounds is driver-REGENERATED
testdata hitting an engine divergence the shipped seed never shows
(round 2/3: `event_key_skew_profile` went red only on driver data).
This tool regenerates ALL ten tables at N seeds — schema-compatible
with TESTDATA.md but deliberately adversarial:

- events: fractional-microsecond timestamps, duplicate (user, ts)
  pairs, zipf-skewed users, 2-decimal values INCLUDING x.x5 rounding
  boundaries, a sprinkle of NULL value/props, shuffled event ids,
  written in BOTH timestamp flavors the driver has shipped
  (TIMESTAMP(NANOS) and TIMESTAMP(MICROS) without isAdjustedToUTC);
- orders/lineitem/customer/part/supplier: FK-consistent with boundary
  monies (…?5 cents), full enum coverage, ties on every sort key;
- documents: shipped-style vocab with EXACT duplicates, empty,
  single-token and whitespace docs;
- embeddings: clustered float32 vectors with exact duplicates.

It then sweeps the driver's correctness subset (the keys of the newest
CORRECTNESS_r*.json) exact-match against the DuckDB oracles, per seed
per flavor, and prints one JSON line per sweep. Any FAIL here is a
divergence the next driver regeneration could hit.

Usage: python tools/fuzz_regen.py [n_seeds] [query1,query2,...]
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import shutil
import sys
import tempfile
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from big_data_occupancy_detection_spark.sources.readers import TABLE_NAMES

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "F", "P"]
ETYPES = ["click", "view", "purchase", "signup", "error"]
PTYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"]
PCOLORS = ["red", "blue", "green", "small", "large"]
PNOUNS = ["widget", "bolt", "ring", "gear", "cog"]
VOCAB = (
    "key agg row scan slow fast table value part hash join filter window "
    "spark order data column batch small line customer the a of stream "
    "shuffle broadcast merge sort group count sum"
).split()


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    """2-decimal doubles with deliberate half-cent-of-scale boundaries:
    ~10% of values end in .x5 at the 2nd decimal (the class that flips
    HALF_UP vs HALF_EVEN and scaled-integer vs float rounding)."""
    cents = rng.integers(int(lo * 100), int(hi * 100), n)
    five = rng.random(n) < 0.10
    cents = np.where(five, (cents // 10) * 10 + 5, cents)
    return cents / 100.0


def generate(
    seed: int, out: str, ts_flavor: str, null_rate: float = 0.01
) -> None:
    """``null_rate`` is the round-7 null-density fuzz axis (r6 verdict
    "Next round #8"): at the default 0.01 the data keeps the earlier
    rounds' SHAPE (1% nulls in events.value/props only, no new null
    columns — though not byte-identical to pre-r7 outputs at the same
    seed: the extra rng draws shift the stream); at a
    HIGH rate (e.g. 0.25) events.value/props go to that rate AND the
    never-before-null columns get 5% nulls too — events.ts,
    events.user_id, documents.text (+ its n_chars) — so every
    null-handling contract (window vs date_trunc null-ts behavior,
    null-key joins/groups, bloom/KMV/percentile filters, text ops on
    NULL docs) is exercised against the oracle, not just unit-tested."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    high = null_rate > 0.01
    rare_rate = 0.05 if high else 0.0

    n_cust, n_supp, n_part, n_ord, n_li = 1500, 100, 2000, 15_000, 60_000
    n_ev, n_doc, n_vec = 10_000, 500, 500

    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    }), f"{out}/nation.parquet")
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999, 9999),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999, 9999),
    }), f"{out}/supplier.parquet")
    pq.write_table(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{PCOLORS[rng.integers(0, 5)]} {PNOUNS[rng.integers(0, 5)]}"
            for _ in range(n_part)
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, n_part, 100, 2000),
    }), f"{out}/part.parquet")

    base_day = np.datetime64("1995-01-01")
    odates = base_day + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 400_000),
        "o_orderdate": pa.array(odates.astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")

    l_ord = rng.integers(0, n_ord, n_li)
    sdates = (
        base_day
        + rng.integers(0, 2404, n_li).astype("timedelta64[D]")
    )
    pq.write_table(pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 100_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(sdates.astype("datetime64[us]")),
    }), f"{out}/lineitem.parquet")

    # events: zipf-skewed users, fractional-us timestamps with DUPLICATE
    # (user, ts) pairs, boundary values, sprinkled nulls, shuffled ids
    users = np.minimum(rng.zipf(1.6, n_ev) - 1, 149)
    ev_base = np.datetime64("2024-01-01T00:00:00.000000")
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    dup = rng.random(n_ev) < 0.02
    micros[1:][dup[1:]] = micros[:-1][dup[1:]]  # exact ts ties
    ts = ev_base + micros.astype("timedelta64[us]")
    vals = _money(rng, n_ev, 0, 50_000)
    vals_null = rng.random(n_ev) < null_rate
    props = np.array(
        [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        dtype=object,
    )
    props_null = rng.random(n_ev) < null_rate
    ts_null = rng.random(n_ev) < rare_rate
    user_null = rng.random(n_ev) < rare_rate
    ts_list = ts.astype("datetime64[us]").tolist()
    order = rng.permutation(n_ev)
    ev = pa.table({
        "event_id": pa.array(np.arange(n_ev)[order], pa.int64()),
        "ts": pa.array(
            [None if ts_null[i] else ts_list[i] for i in order],
            pa.timestamp("us"),
        ),
        "user_id": pa.array(
            [None if user_null[i] else int(users[i]) for i in order],
            pa.int64(),
        ),
        "event_type": [ETYPES[i] for i in rng.integers(0, 5, n_ev)[order]],
        "value": pa.array(
            [None if vals_null[i] else float(vals[i]) for i in order],
            pa.float64(),
        ),
        "props": pa.array(
            [None if props_null[i] else props[i] for i in order], pa.string()
        ),
    })
    unit = "ns" if ts_flavor == "ns" else "us"
    ev = ev.set_column(
        ev.schema.get_field_index("ts"),
        "ts",
        ev.column("ts").cast(pa.timestamp(unit)),
    )
    pq.write_table(ev, f"{out}/events.parquet", store_schema=False)

    # documents: vocab text with exact duplicates + degenerate docs
    texts = []
    for i in range(n_doc):
        L = int(rng.integers(0, 80))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), L)))
    for i in range(0, n_doc, 25):
        texts[i] = texts[(i + 7) % n_doc]  # exact dup pairs
    texts[1], texts[2], texts[3] = "", "singleton", "   "
    text_null = rng.random(n_doc) < rare_rate
    texts = [None if text_null[i] else texts[i] for i in range(n_doc)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": [["en", "de", "fr", "es", "it"][i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 5, n_doc)],
        "n_chars": pa.array(
            [None if t is None else len(t) for t in texts], pa.int64()
        ),
    }), f"{out}/documents.parquet")

    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.3, (n_vec, 64))
    vecs[50] = vecs[40]  # exact duplicate vectors
    vecs[51] = vecs[40]
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(
            [list(map(float, v)) for v in np.float32(vecs)],
            pa.list_(pa.float32()),
        ),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet")


def driver_subset() -> list[str]:
    files = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    if not files:
        return []
    return sorted(json.load(open(files[-1])).keys())


def main() -> None:
    # "5" = seeds 1..5; "3:4" = seeds 3..4 (lets a long ALL sweep run as
    # parallel per-seed processes)
    arg = sys.argv[1] if len(sys.argv) > 1 else "5"
    if ":" in arg:
        lo, hi = map(int, arg.split(":"))
        seeds = range(lo, hi + 1)
    else:
        seeds = range(1, int(arg) + 1)
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    if only == ["ALL"]:
        only = None  # resolved below to the full registry

    import importlib.util

    from pyspark.sql import SparkSession

    spec = importlib.util.spec_from_file_location(
        "e", os.path.join(REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    qs, osql = m.queries(), m.oracle_sql()
    if len(sys.argv) > 2 and sys.argv[2] == "ALL":
        names = sorted(qs)  # the FULL registry, not just the driver subset
    else:
        names = only or [q for q in driver_subset() if q in qs]

    # sized heap, same reason as bench.py's (r7): one long session runs
    # seeds x flavors x rates sweeps and accumulated localCheckpoint
    # blocks outpace the ContextCleaner at Spark's 1 GiB default
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    key = lambda t: tuple((v is None, str(v)) for v in t)
    any_fail = False

    # null-density axis (round 7): SPARK_GRAFT_FUZZ_NULLS="0.01,0.25"
    # sweeps seeds x flavors x null rates; default keeps prior behavior
    null_rates = [
        float(x)
        for x in os.environ.get("SPARK_GRAFT_FUZZ_NULLS", "0.01").split(",")
    ]

    for seed, flavor, nr in itertools.product(seeds, ["us", "ns"], null_rates):
        out = tempfile.mkdtemp(prefix=f"fuzz_s{seed}_{flavor}_n{nr}_")
        generate(seed, out, flavor, null_rate=nr)
        # lazy oracles (r10: VALUES-baked ANN shortlists) must re-bake
        # against THIS regenerated dir — a map resolved once against the
        # shipped seed would carry the wrong shortlist into every sweep
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = out
        osql = m.oracle_sql()
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{out}/{t}.parquet'")
        fails, t0 = [], time.perf_counter()
        for name in names:
            try:
                sdf = qs[name](spark, out)
                cols = sorted(sdf.columns)
                srows = sorted(
                    [tuple(r[c] for c in cols) for r in sdf.collect()], key=key
                )
                if name not in osql:
                    continue
                ob = con.execute(osql[name]).fetchall()
                odesc = [d[0] for d in con.description]
                idx = [odesc.index(c) for c in cols]
                orows = sorted([tuple(r[i] for i in idx) for r in ob], key=key)
                if srows != orows:
                    fails.append(name)
                    for a, b in itertools.zip_longest(srows, orows):
                        if a != b:
                            print(
                                f"  DIVERGENCE {name} seed={seed} {flavor} nr={nr}:"
                            )
                            print("   spark :", a)
                            print("   oracle:", b)
                            break
            except Exception as ex:
                fails.append(name)
                print(f"  ERROR {name} seed={seed} {flavor} nr={nr}: {str(ex)[:200]}")
        con.close()
        print(
            json.dumps(
                {
                    "seed": seed,
                    "flavor": flavor,
                    "null_rate": nr,
                    "queries": len(names),
                    "failures": fails,
                    "wall_s": round(time.perf_counter() - t0, 1),
                }
            ),
            flush=True,
        )
        any_fail = any_fail or bool(fails)
        shutil.rmtree(out, ignore_errors=True)
    spark.stop()
    sys.exit(1 if any_fail else 0)


if __name__ == "__main__":
    main()
