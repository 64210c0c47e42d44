"""Z-order layout: Morton key correctness + 2-D file-skipping benefit."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.operators.layout import zvalue16
from big_data_occupancy_detection_spark.sources.sinks import (
    write_range_sorted_parquet,
)


def _morton_py(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zvalue16_matches_reference_interleave(spark):
    cases = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 256)]
    df = spark.createDataFrame(cases, ["x", "y"]).select(
        "x", "y", zvalue16("x", "y").alias("z")
    )
    for r in df.collect():
        assert r.z == _morton_py(r.x, r.y), (r.x, r.y)


def _files_overlapping(path: str, lo: dict, hi: dict) -> int:
    """Count parquet files whose column min/max ranges intersect the box."""
    n = 0
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins: dict = {}
        maxs: dict = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                st = col.statistics
                if st is None or name not in lo:
                    continue
                mins[name] = min(mins.get(name, st.min), st.min)
                maxs[name] = max(maxs.get(name, st.max), st.max)
        if all(maxs[c] >= lo[c] and mins[c] <= hi[c] for c in lo):
            n += 1
    return n


@pytest.mark.parametrize("n_files", [64])
def test_zorder_layout_prunes_both_dimensions(spark, tmp_path, n_files):
    # 64k points on a ~256x256 surface, dimensions decorrelated by
    # co-prime strides so neither orders the other
    df = spark.range(65536).select(
        (F.col("id") % 251).alias("x"),
        (F.col("id") * 7 % 253).alias("y"),
    )
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    # the same range-sorted writer, keyed by the Morton value vs by x
    write_range_sorted_parquet(
        df.withColumn("z", zvalue16("x", "y")), zpath, ["z"], n_files
    )
    write_range_sorted_parquet(df, lpath, ["x"], n_files)
    # one narrow probe per dimension (~12% of each axis)
    probe_x = ({"x": 100}, {"x": 130})
    probe_y = ({"y": 100}, {"y": 130})
    z_x = _files_overlapping(zpath, *probe_x)
    z_y = _files_overlapping(zpath, *probe_y)
    l_x = _files_overlapping(lpath, *probe_x)
    l_y = _files_overlapping(lpath, *probe_y)
    # the linear layout is perfect on its sort column but blind on the
    # other: every file spans all of y. Z-order trades a little x
    # selectivity for pruning on BOTH dimensions.
    assert l_y == n_files, (l_y, n_files)  # linear: y predicate prunes nothing
    assert z_y <= n_files // 2, (z_y, n_files)
    assert z_x <= n_files // 2, (z_x, n_files)
    assert z_x + z_y < l_x + l_y, (z_x, z_y, l_x, l_y)
    # and both layouts hold the same rows
    assert (
        spark.read.parquet(zpath).count()
        == spark.read.parquet(lpath).count()
        == 65536
    )
