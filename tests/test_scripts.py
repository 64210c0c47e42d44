"""Smoke tests for the runnable entry-point scripts (reference parity:
eda/main.py + eda_analysis.py, ml/train_model.py)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _occupancy_csv(path, n=400):
    rows = ["id,date,Temperature,Humidity,Light,CO2,HumidityRatio,Occupancy"]
    for i in range(n):
        occ = 1 if i % 4 == 0 else 0
        rows.append(
            f"{i},2015-02-{(i % 27) + 1:02d} {i % 24:02d}:15:00,"
            f"{21.0 + (2.0 if occ else 0.0) + (i % 10) * 0.05:.3f},"
            f"{25.0 + (i % 17) * 0.3:.3f},"
            f"{(400.0 if occ else 80.0) + (i % 5):.1f},"
            f"{(1000.0 if occ else 480.0) + (i % 23) * 8:.1f},"
            f"{0.0035 + (0.0012 if occ else 0.0):.6f},{occ}"
        )
    path.write_text("\n".join(rows))
    return str(path)


def test_run_eda_script(tmp_path):
    csv = _occupancy_csv(tmp_path / "occ.csv")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "run_eda.py"), csv],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "merged rows: 400" in out.stdout
    assert "class balance" in out.stdout
    assert "occupancy rate by hour" in out.stdout


def test_train_script_lr(tmp_path):
    csv = _occupancy_csv(tmp_path / "occ.csv", n=600)
    out_dir = str(tmp_path / "reports")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "train_occupancy.py"),
            csv, out_dir, "lr", "--no-light",
        ],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert os.path.exists(os.path.join(out_dir, "metrics_test.csv"))
    assert os.path.exists(os.path.join(out_dir, "occupancy_lr"))
    assert "accuracy=" in out.stdout


def _run(path, args):
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_BENCH_RUNS": "1"}
    return subprocess.run(
        [sys.executable, os.path.join(REPO, path), *args],
        capture_output=True, text=True, timeout=420, env=env,
    )


@pytest.fixture(scope="module")
def scaled_dir(tmp_path_factory):
    data = str(tmp_path_factory.mktemp("scaled") / "sf_r2")
    made = _run("scripts/make_sf_scaled.py", [data, "2", SF_DIR])
    assert made.returncode == 0, made.stderr[-2000:]
    return data


def _records(out):
    assert out.returncode == 0, out.stderr[-2000:]
    return [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]


def test_measure_on_scaled_dir(scaled_dir):
    lines = _records(_run("tools/measure.py", [scaled_dir, "pricing_summary,part_abc_classes"]))
    per_query = [l for l in lines if "query" in l]
    assert [l["query"] for l in per_query] == ["pricing_summary", "part_abc_classes"]
    for rec in per_query:
        for key in ("wall_s", "jobs", "stages", "shuffle_read_mb", "shuffle_write_mb"):
            assert key in rec, (key, rec)
        assert rec["jobs"] >= 1, rec
    assert lines[-1]["queries"] == 2
    bad = _run("tools/measure.py", [scaled_dir, "no_such_query"])
    assert bad.returncode != 0
    assert "no_such_query" in bad.stderr


# One query per family at 2x replication: text, events, TPC-H and
# brute-force embedding top-k. One measure.py run serves all four tests.
SCALE_QUERIES = {
    "text": "pmi_top_cooccurrence",
    "events": "sliding_hour_activity",
    "tpch": "pricing_summary",
    "ann_vec": "embedding_topk",
}


@pytest.fixture(scope="module")
def scale_records(scaled_dir):
    lines = _records(_run("tools/measure.py", [scaled_dir, ",".join(SCALE_QUERIES.values())]))
    assert lines[-1]["data_dir"] == scaled_dir
    return {l["query"]: l for l in lines if "query" in l}


def _assert_ran(records, family):
    rec = records.get(SCALE_QUERIES[family])
    assert rec is not None, records
    assert rec["jobs"] >= 1 and rec["stages"] >= 1, rec
    assert rec["wall_s"] > 0, rec


def test_scale_smoke_text_runs_tiny(scale_records):
    _assert_ran(scale_records, "text")


def test_scale_smoke_events_runs_tiny(scale_records):
    _assert_ran(scale_records, "events")


def test_scale_smoke_tpch_runs_tiny(scale_records):
    _assert_ran(scale_records, "tpch")


def test_scale_smoke_ann_vec_runs_tiny(scale_records):
    _assert_ran(scale_records, "ann_vec")
