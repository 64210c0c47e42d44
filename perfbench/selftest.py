"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

For every workload it checks that an untraced run prints every end-to-end
metric of ``BENCHMARK.json`` with its unit, that a traced run prints every
per-layer metric, and that ``--corrupt`` (one falsified query result or
reply) is counted as failed. Last, it checks that the benchmark exits
non-zero, without a result line, in a directory holding only
``BENCHMARK.json`` and the benchmark. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def _result(cwd: str, *args: str) -> tuple[int, dict | None]:
    p = subprocess.run([*RUN, *args], cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    if p.returncode != 0 or last is None or "correct" not in last:
        return p.returncode, None
    return p.returncode, last


def _check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in [w["name"] for w in bench["workloads"]]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            code, res = _result(REPO, "--workload", w, "--seed", "1", "--seconds", "2",
                                "--trace", str(trace), "--toy")
            _check(res is not None and res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1, f"{w} trace={trace}: correct result")
            want = {m["name"]: m["unit"] for m in bench[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            _check(got == want, f"{w} trace={trace}: every {kind} metric with its unit")
            _check(all(isinstance(v["value"], float) for v in res["metrics"].values()),
                   f"{w} trace={trace}: numeric values")
        code, res = _result(REPO, "--workload", w, "--seed", "1", "--seconds", "2",
                            "--trace", "0", "--toy", "--corrupt")
        _check(res is not None and not res["correct"] and res["failed"] >= 1,
               f"{w}: a falsified output is counted in failed")

    bare = os.path.join(REPO, ".bench_build", "perfbench-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(REPO, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, res = _result(bare, "--workload", bench["workloads"][0]["name"], "--seed", "1",
                        "--seconds", "2", "--trace", "0")
    shutil.rmtree(bare)
    _check(code != 0 and res is None, "without the library: non-zero exit, no result")


if __name__ == "__main__":
    main()
