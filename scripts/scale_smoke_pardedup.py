"""1000x hot-paragraph scale smoke for paragraph_dedup (round-9 item 1).

The shape that killed the r8 form: ONE universal boilerplate paragraph
("subscribe to our newsletter today") planted in >=50% of a 5M-doc
corpus. The old ``row_number over Window.partitionBy(par)`` funnels all
~2.5M occurrences of that paragraph (full string bytes) into a single
window task; the r9 form's first-owner is a map-side-combined
``groupBy(md5(par)).agg(min(struct(doc,pos,par)))``, so each map task
emits ONE candidate row for the hot hash and the hot reducer sees
<= n_map_partitions rows.

Usage: python scripts/scale_smoke_pardedup.py [R] [dup|uniq]
(R=1000 -> 5M docs at sf0.1. `dup` replicates whole docs verbatim — the
extreme-duplication regime where distinct content collapses to the base
corpus; `uniq` salts every paragraph per copy so the corpus is
mostly-UNIQUE + one universal boilerplate — the realistic crawl shape,
where aggregate shuffle volume scales with corpus text.)
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))

from measure import bench_session, noop, timed  # noqa: E402

from big_data_occupancy_detection_spark.ext.curation import paragraph_dedup  # noqa: E402
from big_data_occupancy_detection_spark.session import DEFAULT_SF_DIR as SF_DIR  # noqa: E402
from big_data_occupancy_detection_spark.sources.readers import table  # noqa: E402

HOT = "subscribe to our newsletter today"


def main() -> None:
    r = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    shape = sys.argv[2] if len(sys.argv) > 2 else "dup"
    spark = bench_session(f"scale_smoke_pardedup_{r}x")
    docs = table(spark, SF_DIR, "documents")
    # rekeyed replication; every even doc_id gets the hot paragraph
    # prepended -> the hot key holds >=50% of all paragraph occurrences
    if shape == "uniq":
        # salt every paragraph per copy: the corpus becomes mostly
        # unique (realistic crawl text), the planted paragraph stays
        # the single hot key
        body = F.array_join(
            F.transform(
                F.split(F.col("text"), r"\n+"),
                lambda p: F.concat(
                    F.lit("s"), F.col("__k").cast("string"), F.lit(" "), p
                ),
            ),
            "\n",
        )
    else:
        body = F.col("text")
    docs_rep = (
        docs.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("__k")
        )
        .select(
            (F.col("doc_id") * r + F.col("__k")).alias("doc_id"),
            F.when(
                (F.col("doc_id") * r + F.col("__k")) % 2 == 0,
                F.concat(F.lit(HOT + "\n"), body),
            )
            .otherwise(body)
            .alias("text"),
        )
        .repartition(64)
    )
    n = docs_rep.count()
    print(
        json.dumps(
            {"replication": r, "shape": shape, "docs": n, "hot_docs": n // 2}
        ),
        flush=True,
    )
    _, stats = timed(spark, lambda: noop(paragraph_dedup(docs_rep)))
    print(json.dumps({"op": "paragraph_dedup", **stats}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
