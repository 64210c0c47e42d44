"""Plan auditor: dump join strategies, exchanges, pushdowns, and codegen
spans for every registered query — the physical-plan regression check.

Usage:
    python tools/explain_audit.py [sf_dir]        # summary table
    python tools/explain_audit.py sf_dir NAME     # full formatted plan

Red flags to grep for in the output: CartesianProduct or
BroadcastNestedLoopJoin on large inputs, `PushedFilters: []` on a filtered
scan, exchange counts that grew since the last audit.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# show the FULL lineage: checkpoint_for_reuse skips its eager pin under
# this flag, like the plan-pin baseline does
os.environ["SPARK_GRAFT_PLAN_AUDIT"] = "1"

from big_data_occupancy_detection_spark.planaudit import plan_metrics
from big_data_occupancy_detection_spark.plans import REGISTRY
from big_data_occupancy_detection_spark.session import get_session


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_session(app_name="explain-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    names = [only] if only else sorted(REGISTRY)
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            if only:
                print(df._jdf.queryExecution().executedPlan().toString())
                break
            m = plan_metrics(df)
        except Exception as e:  # streaming-only or env-gated entries
            print(f"{name:32s}  SKIP ({type(e).__name__})")
            continue
        joins = m["joins"]
        flags = ""
        if m["cartesian"]:
            flags += " !CARTESIAN"
        if "BroadcastNestedLoopJoin" in joins:
            # deliberate broadcast crossJoins (tiny query side vs corpus)
            # also surface as BNLJ — only a red flag when BOTH sides are big
            flags += " BNLJ(check-broadcast-side)"
        print(
            f"{name:32s} joins={sum(joins.values()):d} "
            f"({','.join(joins) or '-'}) "
            f"exch={m['exchanges']} pushed={m['pushed_filter_scans']}{flags}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
