"""Dump .explain("formatted") for registry queries into plans/<round>/
(round from $SPARK_GRAFT_PLANS_ROUND, default r11).

Usage:
    python tools/dump_plans.py <suffix> [name1,name2,...]

Writes plans/<round>/<name>_<suffix>.txt for each query (default: the bench
HEADLINE set). Uses the same session defaults as the engine so the plans
match what bench.py executes. SPARK_GRAFT_PLAN_AUDIT=1 keeps
checkpoint_for_reuse lazy so the FULL lineage is shown, like the pin
baseline does.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ["SPARK_GRAFT_PLAN_AUDIT"] = "1"

from bench import HEADLINE
from big_data_occupancy_detection_spark.plans import REGISTRY
from big_data_occupancy_detection_spark.session import get_session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(
    REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r11")
)


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = (
        [n.strip() for n in sys.argv[2].split(",") if n.strip()]
        if len(sys.argv) > 2
        else HEADLINE
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    os.makedirs(OUT, exist_ok=True)
    spark = get_session(app_name="dump-plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:
            print(f"{name:40s} SKIP ({type(e).__name__}: {e})")
            continue
        path = os.path.join(OUT, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name:40s} -> {os.path.relpath(path, REPO)}")
    spark.stop()


if __name__ == "__main__":
    main()
