"""Benchmark entry point.

    python3 perfbench/run.py --workload <batch_small|predict_rpc>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generated inputs, Spark scratch space and
trace files go to ``.bench_build/perfbench``. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics (a layer the workload does not pass
through reads 0). The line before it records the host sizing.

``--toy`` shrinks the inputs and ``--corrupt`` falsifies one checked
output; both exist for ``perfbench/selftest.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    LIBRARY, REPO, RUN_DIR, cpu_ticks, host_cpus, host_info, prepare_process, refuse_if_contended)

WORKLOADS = ("batch_small", "predict_rpc")
# layers a workload never enters; their per-layer metrics read 0 there
OFF_PATH = {
    "batch_small": ("ml.", "streaming.", "serving."),
    "predict_rpc": ("plans.", "trace.op_self_ms"),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, LIBRARY)):
        print(f"perfbench: no {LIBRARY}/ beside perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    refuse_if_contended()
    prepare_process(os.path.join(RUN_DIR, "tmp"))
    ticks = cpu_ticks()

    if args.workload == "predict_rpc":
        import predict

        correct, attempted, failed, metrics, info = predict.run(
            args.seed, args.seconds, bool(args.trace), args.toy, args.corrupt)
    else:
        import batch

        correct, attempted, failed, metrics, info = batch.run(
            args.seed, args.seconds, bool(args.trace), args.toy, args.corrupt)

    for m in declared:
        if m["name"] not in metrics and m["name"].startswith(OFF_PATH[args.workload]):
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in metrics.items()}
    if want != got:
        print(f"perfbench: metrics {sorted(set(got) ^ set(want))} differ from "
              f"BENCHMARK.json", file=sys.stderr)
        return 3
    print(json.dumps({"host": host_info(host_cpus(), ticks), "workload": args.workload,
                      "seed": args.seed, "info": info}), flush=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
