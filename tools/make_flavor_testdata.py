"""Materialize the OTHER events-timestamp flavor for pre-flight testing.

The round driver regenerates /root/testdata between rounds and has shipped
events.parquet in two flavors: TIMESTAMP(NANOS) (Spark's parquet reader
rejects it natively) and TIMESTAMP(MICROS) without isAdjustedToUTC (Spark
reads TIMESTAMP_NTZ). `sources.readers.table()` normalizes both; a registry
change verified against only the CURRENT flavor can still break on the next
regeneration (the round-2 `event_key_skew_profile` miss surfaced only on
driver data). This tool writes a copy of an sf dir with events.parquet
re-encoded in whichever flavor the source dir ISN'T, so
`tools/driver_sim.py <out_dir>` exercises both before round close.

Usage: python tools/make_flavor_testdata.py [src_sf_dir] [out_dir]
       (defaults: /root/testdata/sf0.01 /tmp/sf_flavor_twin)
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_occupancy_detection_spark.sources.readers import TABLE_NAMES


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf_flavor_twin"
    os.makedirs(out, exist_ok=True)

    ev = pq.read_table(f"{src}/events.parquet")
    ts_type = ev.schema.field("ts").type
    if pa.types.is_timestamp(ts_type) and ts_type.unit == "ns":
        target_unit = "us"
    else:
        target_unit = "ns"
    cast_ts = ev.column("ts").cast(pa.timestamp(target_unit))
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", cast_ts)
    # store_schema=False drops the Arrow schema metadata so readers see the
    # bare parquet logical type (isAdjustedToUTC=false), matching how the
    # driver's generator writes it
    pq.write_table(ev, f"{out}/events.parquet", store_schema=False)

    for t in TABLE_NAMES:
        if t == "events":
            continue
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(f"{src}/{t}.parquet", dst)

    print(
        f"wrote {out}: events ts {ts_type} -> timestamp[{target_unit}] "
        f"(other {len(TABLE_NAMES) - 1} tables copied)"
    )
    print(f"now run: python tools/driver_sim.py {out}")


if __name__ == "__main__":
    main()
