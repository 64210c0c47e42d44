"""Batch workloads: a closed loop of one client running a fixed mix of
registry queries into the noop sink, in passes whose order the seed
shuffles.

Set-up is timed from the start of the session to the first timed query: the
session, its warm-ups, and one untimed pass that checks every query's rows
against its DuckDB oracle (queries without an oracle get a rows-only check).
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time

from common import (
    RUN_DIR,
    StageMeter,
    Tracer,
    busy_cpu_s,
    geomean,
    heap_gb,
    host_cpus,
    jvm_pid,
    metric,
    noop,
    percentile,
    start_session,
    stop_session,
    vm_hwm_mb,
    warm_up,
)
import datagen

# Overhead-bound at this size: planning, serial jobs and eager pins, not
# rows, set each query's time.
MIX = [
    "pricing_summary",
    "shipping_priority",
    "user_running_totals",
    "parse_route_score_events",
    "media_frame_sample",
    "part_negative_samples",
    "corpus_curation",
    "event_value_mad_outliers",
    "part_abc_classes",
]
SF, TOY_SF = 0.01, 0.001
# Nominal length of a warm pass on a 4-vCPU host; a run times
# round(seconds / PASS_S) passes.
PASS_S = 8.0
# a query that raises counts as this latency, beyond every limit
FAILED_LATENCY_S = 60.0


# ---------------------------------------------------------------- checking

def _duck(sf_dir: str):
    import duckdb

    from big_data_occupancy_detection_spark.sources.readers import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalized(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(round(r[i], 9) if isinstance(r[i], float) else r[i] for i in order)
           for r in rows]
    out.sort(key=lambda r: tuple((v is None, str(v)) for v in r))
    return [cols[i] for i in order], out


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9) or (
            math.isnan(a) and math.isnan(b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    return a == b


def check_query(spark, con, spec, sf_dir: str, corrupt: bool) -> str | None:
    """Run the query once and compare it with its oracle; return a failure
    message, or None when the output is right."""
    try:
        df = spec.fn(spark, sf_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
    except Exception as ex:  # a query that raises fails its check
        return f"raised {type(ex).__name__}: {ex}"
    if corrupt and rows:
        rows = rows[:-1]
    if not isinstance(spec.oracle, str):
        # no oracle, or a lazy one that would bake against another data dir
        return None if rows and cols else "rows-only check: empty result"
    cur = con.execute(spec.oracle)
    dcols = [d[0] for d in cur.description]
    drows = [tuple(r) for r in cur.fetchall()]
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows != oracle {len(drows)}"
    _, s = _normalized(rows, cols)
    _, d = _normalized(drows, dcols)
    for i, (sr, dr) in enumerate(zip(s, d)):
        if not all(_same(a, b) for a, b in zip(sr, dr)):
            return f"sorted row {i}: {sr} != oracle {dr}"
    return None


# ---------------------------------------------------------------- running

def _run_op(spark, spec, sf_dir, tracer, meter):
    """One timed query. Traced: spans around the library's build, plan and
    execute boundaries plus the status-store metrics of its jobs."""
    if tracer is None:
        t0 = time.perf_counter()
        noop(spec.fn(spark, sf_dir))
        return time.perf_counter() - t0, None
    mark = meter.mark()
    with tracer.span("op", query=spec.name) as op:
        with tracer.span("plans.build"):
            df = spec.fn(spark, sf_dir)
        build_jobs = meter.mark() - mark
        with tracer.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("plans.execute"):
            noop(df)
    op["build_jobs"] = build_jobs
    op["stats"] = meter.since(mark)
    return op["end"] - op["start"], op


def run(seed: int, seconds: float, trace: bool, toy: bool = False,
        corrupt: bool = False) -> tuple[bool, int, int, dict, dict]:
    from big_data_occupancy_detection_spark.plans import REGISTRY

    sf_dir = datagen.ensure(os.path.join(RUN_DIR, "data"), TOY_SF if toy else SF)
    rng = random.Random(seed)

    t0 = time.perf_counter()
    spark = start_session("perfbench-batch", heap_gb())
    t1 = time.perf_counter()
    warm_up(spark)
    t2 = time.perf_counter()
    con = _duck(sf_dir)
    first = rng.sample(MIX, len(MIX))
    failures = {name: check_query(spark, con, REGISTRY[name], sf_dir, corrupt and i == 0)
                for i, name in enumerate(first)}
    con.close()
    setup_s = time.perf_counter() - t0

    tracer = Tracer() if trace else None
    meter = StageMeter(spark) if trace else None
    lat: dict[str, list[float]] = {name: [] for name in MIX}
    attempted = verified = 0
    pass_walls = {False: [], True: []}
    traced_ops = []
    start, cpu0 = time.perf_counter(), busy_cpu_s()
    n_pass = 0
    # A fixed number of whole passes: stopping on the clock instead would
    # let the host's speed decide how far the last pass gets, and which
    # queries, warmer by then, are counted twice.
    passes = max(2 if trace else 1, round(seconds / PASS_S))
    while n_pass < passes:
        traced = trace and n_pass % 2 == 1
        if not traced:
            order = rng.sample(MIX, len(MIX))
        p0 = time.perf_counter()
        for name in order:
            attempted += 1
            try:
                dt, op = _run_op(spark, REGISTRY[name], sf_dir,
                                 tracer if traced else None, meter)
            except Exception as ex:
                failures[name] = failures[name] or f"raised {type(ex).__name__}: {ex}"
                lat[name].append(FAILED_LATENCY_S)
                continue
            lat[name].append(dt)
            if op is not None:
                traced_ops.append(op)
            if failures[name] is None:
                verified += 1
        pass_walls[traced].append(time.perf_counter() - p0)
        n_pass += 1
    wall, cpu_s = time.perf_counter() - start, busy_cpu_s() - cpu0

    bad = {k: v for k, v in failures.items() if v}
    for name, why in bad.items():
        print(f"perfbench: {name} failed: {why}", flush=True)
    failed = attempted - verified
    all_lat = [v for vs in lat.values() for v in vs]
    per_query = [statistics.median(vs) for vs in lat.values()]
    rss = vm_hwm_mb(jvm_pid()) + vm_hwm_mb(os.getpid())
    info = {"data": os.path.basename(sf_dir), "passes": n_pass, "queries": attempted,
            "query_median_s": dict(zip(lat, per_query)),
            "wall": {"window_s": wall, "ops_per_s": verified / wall,
                     "query_geomean_s": geomean(per_query),
                     "latency_p50_ms": 1e3 * percentile(all_lat, 50),
                     "latency_p90_ms": 1e3 * percentile(all_lat, 90)}}

    if not trace:
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "cpu_ms_per_op": metric(1e3 * cpu_s / max(verified, 1), "ms"),
            "peak_rss_mb": metric(rss, "MB"),
        }
    else:
        metrics = _layer_metrics(spark, sf_dir, t1 - t0, t2 - t1, tracer,
                                 traced_ops, pass_walls)
        tracer.write(os.path.join(RUN_DIR, f"trace-batch_small-{seed}.json"),
                     {"workload": "batch_small", "seed": seed, "info": info})
    stop_session(spark)
    return not bad and failed == 0, attempted, failed, metrics, info


def _layer_metrics(spark, sf_dir, start_s, warmup_s, tracer, ops, pass_walls):
    from big_data_occupancy_detection_spark.sources.readers import TABLE_NAMES, table

    t = time.perf_counter()
    for name in TABLE_NAMES:
        noop(table(spark, sf_dir, name))
    scan_s = time.perf_counter() - t

    n = len(ops)
    tot = {k: sum(op["stats"][k] for op in ops) for k in ops[0]["stats"]}
    spans = {}
    for s in tracer.spans:
        spans.setdefault(s["name"], []).append(s["end"] - s["start"])
    selfs = tracer.self_times()
    op_wall = sum(spans["op"])
    traced_wall = sum(pass_walls[True])
    mb = 1024.0 * 1024.0
    m = {
        "session.start_s": metric(start_s, "s"),
        "session.warmup_s": metric(warmup_s, "s"),
        "sources.input_mb": metric(tot["inputBytes"] / mb / n, "MB"),
        "sources.input_rows": metric(tot["inputRecords"] / n, "count"),
        "sources.scan_s": metric(scan_s, "s"),
        "plans.build_ms": metric(1e3 * statistics.fmean(spans["plans.build"]), "ms"),
        "plans.build_jobs": metric(sum(op["build_jobs"] for op in ops) / n, "count"),
        "plans.plan_ms": metric(1e3 * statistics.fmean(spans["plans.plan"]), "ms"),
        "plans.execute_ms": metric(1e3 * statistics.fmean(spans["plans.execute"]), "ms"),
        "plans.jobs": metric(tot["jobs"] / n, "count"),
        "plans.stages": metric(tot["stages"] / n, "count"),
        "plans.tasks": metric(tot["tasks"] / n, "count"),
        "operators.executor_run_s": metric(tot["executorRunTime"] / 1e3 / n, "s"),
        "operators.executor_cpu_s": metric(tot["executorCpuTime"] / 1e9 / n, "s"),
        "operators.gc_s": metric(tot["jvmGcTime"] / 1e3 / n, "s"),
        "operators.shuffle_write_mb": metric(tot["shuffleWriteBytes"] / mb / n, "MB"),
        "operators.shuffle_read_mb": metric(tot["shuffleReadBytes"] / mb / n, "MB"),
        "operators.spill_mb": metric(
            (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / mb / n, "MB"),
        "operators.slot_busy_share": metric(
            tot["executorRunTime"] / 1e3 / (op_wall * host_cpus()), "ratio"),
        "trace.op_self_ms": metric(1e3 * selfs["op"] / n, "ms"),
        "trace.accounted_share": metric(sum(selfs.values()) / traced_wall, "ratio"),
        "trace.overhead_share": metric(
            sum(pass_walls[True]) / sum(pass_walls[False]) - 1.0, "ratio"),
    }
    return m
