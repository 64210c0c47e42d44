"""Regenerate tests/plan_baseline.json after an INTENTIONAL plan change.

Usage: python tools/regen_plan_baseline.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from big_data_occupancy_detection_spark.planaudit import plan_metrics
from big_data_occupancy_detection_spark.plans import REGISTRY
from big_data_occupancy_detection_spark.session import get_session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    # pins measure the FULL lineage: eager checkpoints would truncate the
    # measured plan to whatever runs after them (the round-6 review found
    # a pin degenerated to 0 exchanges) — checkpoint_for_reuse call sites
    # skip materialization under this flag
    os.environ["SPARK_GRAFT_PLAN_AUDIT"] = "1"
    # the extra (non-headline) pinned shapes live next to the gate that
    # enforces them
    sys.path.insert(0, os.path.join(REPO, "tests"))
    from test_plan_regression import EXTRA_PLAN_PINNED

    spark = get_session(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    out = {
        n: plan_metrics(REGISTRY[n].fn(spark, "/root/testdata/sf0.001"))
        for n in sorted(set(HEADLINE) | set(EXTRA_PLAN_PINNED))
    }
    path = os.path.join(REPO, "tests", "plan_baseline.json")
    json.dump(out, open(path, "w"), indent=1, sort_keys=True)
    print(f"wrote {len(out)} baselines to {path}")
    spark.stop()


if __name__ == "__main__":
    main()
