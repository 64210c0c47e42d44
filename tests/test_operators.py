"""Unit tests for operators and IO not fully covered by the oracle suite."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_occupancy_detection_spark.operators.relational import (
    global_cumsum,
    global_ntile,
    global_row_number,
    grouped_cumsum,
    grouped_exact_median,
    null_census,
    weighted_percentiles,
)
from big_data_occupancy_detection_spark.sources.readers import (
    read_csv_declared,
    read_csv_inferred,
    read_jsonl_declared,
)
from big_data_occupancy_detection_spark.sources.sinks import write_jsonl, write_single_csv


def test_global_row_number_is_dense_and_ordered(spark):
    df = spark.createDataFrame(
        [Row(k=i % 7, v=f"x{i}") for i in range(500)]
    ).repartition(13)
    out = global_row_number(df, ["k", "v"], id_col="id").collect()
    assert sorted(r.id for r in out) == list(range(1, 501))
    by_id = sorted(out, key=lambda r: r.id)
    keys = [(r.k, r.v) for r in by_id]
    assert keys == sorted(keys)


def test_null_census_counts(spark):
    df = spark.createDataFrame(
        [(1, None), (None, "a"), (None, None)], ["x", "y"]
    )
    row = null_census(df).collect()[0]
    assert (row.x, row.y) == (2, 2)


def test_single_file_csv_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
    out = write_single_csv(df, str(tmp_path / "out.csv"))
    text = open(out).read().strip().splitlines()
    assert text[0] == "id,name"
    assert sorted(text[1:]) == ["1,a", "2,b"]
    back = read_csv_inferred(spark, out)
    assert back.count() == 2
    assert dict(back.dtypes)["id"] == "int"


def test_declared_schema_tolerates_malformed(spark, tmp_path):
    """PERMISSIVE declared-schema CSV: bad cells null out, rows survive —
    the reference's nullable-by-default contract, and the timestamp cast
    tolerates multiple formats."""
    p = tmp_path / "messy.csv"
    p.write_text(
        "id,date,Temperature\n"
        "1,2015-02-04 17:51:00,21.5\n"
        "2,2015-02-02T14:19:00.000+01:00,oops\n"
        "3,not-a-date,22.0\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("date", T.StringType()),
            T.StructField("Temperature", T.DoubleType()),
        ]
    )
    from big_data_occupancy_detection_spark.functions.datetime_fns import (
        tolerant_timestamp,
    )

    df = read_csv_declared(spark, str(p), schema).withColumn(
        "ts", tolerant_timestamp("date")
    )
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 3
    assert rows[2].Temperature is None          # bad double -> null, row kept
    assert rows[1].ts is not None               # plain format parses
    assert rows[2].ts is not None               # ISO+offset parses
    assert rows[3].ts is None                   # garbage -> null, not a crash


def test_describe_stats_shape(spark):
    from big_data_occupancy_detection_spark.operators.relational import describe_stats

    df = spark.range(100).select(
        (F.col("id") * 1.5).alias("a"), (F.col("id") % 7).cast("double").alias("b")
    )
    out = {r.col_name: r for r in describe_stats(df, ["a", "b"]).collect()}
    assert out["a"].n == 100.0
    assert abs(out["a"].mean - 74.25) < 1e-9
    assert out["b"].min == 0.0 and out["b"].max == 6.0


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """HLL++ sketch (the mergeable, constant-memory distinct-count path for
    100 TB data) stays within its rsd envelope of the exact answer."""
    from big_data_occupancy_detection_spark.sources.readers import table

    li = table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.count_distinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.06


def test_salted_join_matches_plain_join(spark):
    """Salting redistributes a hot key without changing join results."""
    from big_data_occupancy_detection_spark.operators.relational import salted_join

    # 10k rows on ONE hot key + a tail of normal keys
    big = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [(1, "hot"), (9_500, "cold")], ["k", "name"]
    )
    plain = big.join(small, "k").groupBy("name").count().collect()
    salted = (
        salted_join(big, small, ["k"]).groupBy("name").count().collect()
    )
    assert {(r.name, r["count"]) for r in salted} == {
        (r.name, r["count"]) for r in plain
    } == {("hot", 9_000), ("cold", 1)}


def test_stratified_sample_fractions(spark, sf_dir):
    """sampleBy: per-stratum Bernoulli sampling, seed-deterministic."""
    from big_data_occupancy_detection_spark.sources.readers import table

    orders = table(spark, sf_dir, "orders")
    fracs = {"O": 0.5, "F": 0.1, "P": 1.0}
    s1 = orders.sampleBy("o_orderstatus", fracs, seed=42)
    s2 = orders.sampleBy("o_orderstatus", fracs, seed=42)
    assert s1.count() == s2.count()  # deterministic under a fixed seed
    got = {r.o_orderstatus: r.n for r in s1.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    base = {r.o_orderstatus: r.n for r in orders.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    assert got.get("P", 0) == base["P"]               # fraction 1.0 keeps all
    for k in ("O", "F"):
        if base.get(k, 0) >= 50:
            ratio = got.get(k, 0) / base[k]
            assert abs(ratio - fracs[k]) < 0.35 * fracs[k] + 0.05


def test_partitioned_parquet_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned sink + read-back filter → partition pruning reaches
    the scan (the file-level pruning that matters before any row is read)."""
    from big_data_occupancy_detection_spark.sources.readers import table
    from big_data_occupancy_detection_spark.sources.sinks import write_parquet

    ev = table(spark, sf_dir, "events")
    out = str(tmp_path / "ev_part")
    write_parquet(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    n_types = ev.select("event_type").distinct().count()
    assert back.select("event_type").distinct().count() == 1
    assert n_types > 1  # pruning actually skipped something


def test_jsonl_sink_source_roundtrip(spark, tmp_path):
    """JSONL write → declared-schema read: values and types survive, and a
    type-mismatched field degrades to null instead of killing the read —
    the same PERMISSIVE contract as the streaming from_json plane."""
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None)], ["id", "name", "score"]
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(df, out)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    back = read_jsonl_declared(spark, out, schema)
    rows = {r.id: r for r in back.collect()}
    assert len(rows) == 2
    assert rows[1].score == 1.5 and rows[2].score is None
    assert dict(back.dtypes) == {"id": "bigint", "name": "string", "score": "double"}

    # malformed line: wrong-typed field nulls out, row survives
    extra = tmp_path / "docs_jsonl" / "extra.json"
    extra.write_text('{"id": 3, "name": "c", "score": "not-a-number"}\n')
    back2 = read_jsonl_declared(spark, out, schema)
    r3 = {r.id: r for r in back2.collect()}[3]
    assert r3.name == "c" and r3.score is None


def test_connected_components_known_graph(spark):
    """Star contraction on a graph with a clique, a long path (forces
    multiple contraction rounds), and an isolated pair."""
    from big_data_occupancy_detection_spark.ext.dedup import connected_components

    pairs = spark.createDataFrame(
        # clique {1,2,3} + path 10-11-12-13-14 (diameter 4) + pair {20,21}
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (13, 14), (20, 21)],
        ["d1", "d2"],
    )
    got = {r.doc: r.cluster for r in connected_components(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
        20: 20, 21: 20,
    }


def test_connected_components_path_clique_cycle(spark, monkeypatch):
    """Large-star/small-star contraction labels a diameter-16 path, a
    clique and a cycle with their minimum ids — the path within 6 < 16
    rounds, which proves it is not silently doing per-hop propagation."""
    from big_data_occupancy_detection_spark.ext import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 6)
    path = [(i, i + 1) for i in range(100, 116)]  # diameter-16 chain
    clique = [(1, 2), (2, 3), (1, 3)]
    cross = [(50, 60), (60, 55), (55, 70), (70, 50)]  # cycle
    pairs = spark.createDataFrame(path + clique + cross, ["d1", "d2"])

    got = {
        r.doc: r.cluster
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        **{i: 100 for i in range(100, 117)},
        1: 1, 2: 1, 3: 1,
        50: 50, 55: 50, 60: 50, 70: 50,
    }


def test_observed_metrics_piggyback(spark, sf_dir):
    """observe(): quality counters ride the consuming action — no second
    scan — and match an independently computed ground truth."""
    from pyspark.sql import Observation

    from big_data_occupancy_detection_spark.sources.readers import table

    li = table(spark, sf_dir, "lineitem")
    obs = Observation("quality")
    df = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("n_null_qty"),
        F.sum((~F.col("l_discount").between(0.0, 1.0)).cast("long")).alias(
            "n_bad_discount"
        ),
    )
    out = df.filter(F.col("l_quantity") > 0).count()  # the consuming action
    got = obs.get
    assert got["n_rows"] == li.count()
    assert got["n_null_qty"] == 0
    assert got["n_bad_discount"] == 0
    assert out > 0


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/source: typed roundtrip, and filters still reach the scan
    (the pushdown contract must not silently vanish with the format)."""
    from big_data_occupancy_detection_spark.sources.readers import read_orc, table
    from big_data_occupancy_detection_spark.sources.sinks import write_orc

    out = str(tmp_path / "nation_orc")
    nation = table(spark, sf_dir, "nation")
    write_orc(nation, out)

    back = read_orc(spark, out)
    assert back.count() == nation.count()
    assert dict(back.dtypes) == dict(nation.dtypes)

    filtered = back.filter(F.col("n_regionkey") == 0).select("n_name")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "n_regionkey" in plan
    assert filtered.count() == nation.filter("n_regionkey = 0").count()


def test_range_sorted_parquet_files_are_disjoint(spark, sf_dir, tmp_path):
    """write_range_sorted_parquet must yield files whose [min,max] ranges on
    the sort key do not overlap, with row-group stats present — the physical
    property parquet scan pruning depends on."""
    import glob as g

    import pyarrow.parquet as pq

    from big_data_occupancy_detection_spark.sources.readers import table
    from big_data_occupancy_detection_spark.sources.sinks import (
        write_range_sorted_parquet,
    )

    out = str(tmp_path / "orders_sorted")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_range_sorted_parquet(orders, out, ["o_orderkey"], num_files=4)

    ranges = []
    for f in sorted(g.glob(out + "/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        col_idx = md.schema.names.index("o_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            assert st is not None and st.has_min_max
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) == 4
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file ranges overlap: {ranges}"

    # and the data survives intact
    back = spark.read.parquet(out)
    assert back.count() == orders.count()


def test_connected_components_strict_raises_on_nonconvergence(
    spark, monkeypatch
):
    """A silently-wrong clustering is the worst failure mode — contraction
    must raise when the fixpoint is out of reach of its round bound, and
    solve the same graph within the default bound (log-depth
    convergence)."""
    import pytest as _pytest

    from big_data_occupancy_detection_spark.ext import dedup

    # diameter-40 path: 6 contraction rounds, so a bound of 3 is too few
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 240)], ["d1", "d2"]
    )
    with monkeypatch.context() as m:
        m.setattr(dedup, "CC_MAX_ROUNDS", 3)
        with _pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(pairs).collect()

    star = {
        r.doc: r.cluster
        for r in dedup.connected_components(pairs).collect()
    }
    assert set(star.values()) == {200} and len(star) == 41


def test_python_udtf_lateral_generator(spark):
    """Spark 4 Python UDTF surface: a table function lateral-joined per row
    (API completeness check — production generators should stay with
    explode/split, which run JVM-side; a UDTF is the imperative escape
    hatch when the expansion logic can't be an expression)."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="chunk: string, idx: int")
    class ChunkText:
        def eval(self, text: str, size: int):
            for i in range(0, len(text), size):
                yield text[i : i + size], i // size

    spark.udtf.register("chunk_text", ChunkText)
    df = spark.createDataFrame([(1, "abcdefgh"), (2, "xy")], ["id", "text"])
    df.createOrReplaceTempView("udtf_docs")
    out = spark.sql(
        "SELECT id, chunk, idx FROM udtf_docs, "
        "LATERAL chunk_text(text, 3)"
    ).collect()
    got = {(r.id, r.idx): r.chunk for r in out}
    assert got == {
        (1, 0): "abc", (1, 1): "def", (1, 2): "gh", (2, 0): "xy",
    }
    # direct-call form
    n = ChunkText(lit("hello"), lit(2)).count()
    assert n == 3


def test_eventgen_custom_source_partitions_and_determinism(spark):
    """The Python DataSource API connector: partition-parallel generation,
    stable values across reads, option-driven sizing."""
    from big_data_occupancy_detection_spark.sources.pyds import (
        gen_row,
        register_eventgen,
    )

    register_eventgen(spark)
    df = (
        spark.read.format("eventgen")
        .option("rows", 1000)
        .option("parts", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 7
    rows = {r.event_id: r for r in df.collect()}
    assert len(rows) == 1000
    # row 0 and row 999 match the shared single-row recipe exactly
    for i in (0, 999):
        eid, uid, etype, val = gen_row(i)
        r = rows[i]
        assert (r.event_id, r.user_id, r.event_type, r.value) == (
            eid,
            uid,
            etype,
            val,
        )


def test_approx_distinct_within_tolerance(spark):
    """HLL++ rsd=2%: the registry entry now emits the tolerance verdict
    itself (oracle-verified); assert the raw estimate too, tighter than
    the registry's 5% envelope, straight from approx_count_distinct."""
    from pyspark.sql import functions as F

    from big_data_occupancy_detection_spark.plans import REGISTRY
    from big_data_occupancy_detection_spark.sources.readers import table

    out = REGISTRY["approx_distinct_users"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert out
    assert all(r.approx_ok for r in out)
    raw = (
        table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .collect()
    )
    for r in raw:
        assert abs(r.approx_users - r.exact_users) <= max(0.1 * r.exact_users, 2)


def test_footer_stats_aggregate_is_pushed_down(spark, sf_dir):
    from big_data_occupancy_detection_spark.plans import REGISTRY

    df = REGISTRY["lineitem_footer_stats"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: [MIN(l_quantity)" in plan, plan[:800]
    row = df.collect()[0]
    assert row.n_rows > 0 and row.min_qty <= row.max_qty


@pytest.mark.parametrize("n_rows,n_parts", [(1, 1), (37, 16), (400, 3), (1000, 64)])
def test_global_row_number_preserves_rows_across_layouts(spark, n_rows, n_parts):
    """Regression for the AQE pid-branch bug: the sizes aggregate and the
    main branch must agree on partition ids for ANY input layout, or the
    inner join silently drops rows (seen: 400 -> 13)."""
    df = spark.range(n_rows).select(
        (F.col("id") * 977 % 10007).alias("k"), F.col("id").alias("v")
    ).repartition(n_parts)
    out = global_row_number(df, ["k", "v"], id_col="rid").collect()
    assert len(out) == n_rows
    assert sorted(r.rid for r in out) == list(range(1, n_rows + 1))
    by_id = sorted(out, key=lambda r: r.rid)
    keys = [(r.k, r.v) for r in by_id]
    assert keys == sorted(keys)


def test_zstd_parquet_roundtrip_with_pushdown(spark, tmp_path, sf_dir):
    """zstd is the scale-default codec (better ratio than snappy at similar
    decode speed); the write path must keep footer stats + pushdown intact."""
    from big_data_occupancy_detection_spark.sources.readers import table

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )
    out = str(tmp_path / "zstd_pq")
    (
        li.write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(out)
    )
    import glob

    import pyarrow.parquet as pq

    f = glob.glob(f"{out}/part-*.parquet")[0]
    md = pq.ParquetFile(f).metadata
    assert md.row_group(0).column(0).compression.lower() == "zstd"
    back = spark.read.parquet(out).filter(F.col("l_quantity") > 45)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in plan
    assert back.count() == li.filter(F.col("l_quantity") > 45).count()


def test_jsonl_corrupt_record_column(spark, tmp_path):
    """PERMISSIVE + columnNameOfCorruptRecord: malformed lines survive as
    raw text in a side column instead of vanishing — the audit trail a
    lossy-at-scale ingest needs."""
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"a": 1, "b": "x"}\n'
        "not json at all\n"
        '{"a": "wrong-type", "b": "y"}\n'
    )
    df = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .schema("a long, b string, _bad string")
        .json(str(p))
    )
    rows = df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._bad is not None]
    assert len(bad) == 2  # the garbage line and the type-mismatch line
    assert any("not json" in r._bad for r in bad)


@pytest.mark.parametrize("n_rows,k,n_parts", [(1, 4, 1), (7, 4, 3), (100, 4, 16), (1003, 7, 32)])
def test_global_ntile_matches_window_ntile(spark, n_rows, k, n_parts):
    """global_ntile's quota arithmetic must be bit-identical to
    ntile(k) OVER (ORDER BY ...) for any N (including N < k and
    N % k != 0), under any input partitioning."""
    from pyspark.sql import Window

    df = spark.range(n_rows).select(
        (F.col("id") * 977 % 10007).alias("v"), F.col("id").alias("key")
    ).repartition(n_parts)
    expected = {
        r.key: r.t
        for r in df.select(
            "key",
            F.ntile(k).over(Window.orderBy(F.desc("v"), "key")).alias("t"),
        ).collect()
    }
    got = {
        r.key: r.tile
        for r in global_ntile(
            df, [F.col("v").desc(), F.col("key").asc()], k
        ).collect()
    }
    assert got == expected


def test_global_ntile_with_ties_breaks_on_key(spark):
    """Ties on the value column must resolve by the tie-break key,
    exactly as the window form does."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [Row(v=i % 3, key=i) for i in range(50)]
    ).repartition(7)
    expected = {
        r.key: r.t
        for r in df.select(
            "key",
            F.ntile(4).over(Window.orderBy(F.desc("v"), "key")).alias("t"),
        ).collect()
    }
    got = {
        r.key: r.tile
        for r in global_ntile(
            df, [F.col("v").desc(), F.col("key").asc()], 4
        ).collect()
    }
    assert got == expected


def test_session_windows_auto_forms_agree(spark):
    """The two physical forms behind session_windows_auto (native
    session_window merge vs lag-gap sessionization) must produce
    identical (key, start, end, aggs) rows — forced through BOTH
    branches via the density threshold."""
    from big_data_occupancy_detection_spark.operators.temporal import (
        session_windows_auto,
    )

    rows = []
    for u in range(5):
        base = 1_700_000_000 + u * 100_000
        # clustered bursts with gaps straddling the 600 s boundary,
        # including one EXACTLY at the gap (must start a new session)
        offs = [0, 10, 599, 600, 1199, 1800, 1805, 3000]
        rows += [(u, o + base, float(u + i)) for i, o in enumerate(offs)]
    df = spark.createDataFrame(rows, ["user_id", "epoch", "value"]).select(
        "user_id",
        F.col("epoch").cast("timestamp").alias("ts"),
        "value",
    ).repartition(7)
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ]
    native = session_windows_auto(
        df, "user_id", "ts", 600, aggs, density_threshold=10**9
    )
    laggap = session_windows_auto(
        df, "user_id", "ts", 600, aggs, density_threshold=0
    )
    k = lambda r: (r.user_id, r.session_start)
    n = sorted(native.collect(), key=k)
    l = sorted(laggap.collect(), key=k)
    assert [tuple(r) for r in n] == [tuple(r) for r in l]
    assert len(n) > 5  # gaps actually split sessions


def test_sessionize_gap_exact_boundary_sub_second(spark):
    """Gaps are compared in INTEGER microseconds: on sub-second-precision
    data with a gap within ~0.5 us of exactly gap_seconds, a double
    epoch-seconds difference (ulp ~0.24 us at 2024+ epochs) can flip
    the classification vs the native session_window's exact long-micros
    semantics. Both physical branches must agree bit-identically at the
    boundary. Round-4 ADVICE finding."""
    from big_data_occupancy_detection_spark.operators.temporal import (
        session_windows_auto,
    )

    rows = []
    # per user: one 2-event pair whose single gap straddles the exact
    # 600 s boundary by +-1 us, at sub-second base offsets chosen to
    # stress double rounding (123457/499999/999999 us)
    fracs = [0, 1, 123_457, 499_999, 500_000, 999_999]
    deltas = [600_000_000 - 1, 600_000_000, 600_000_000 + 1]
    n_split = 0
    u = 0
    for frac in fracs:
        for delta in deltas:
            t0 = 1_720_956_153 * 1_000_000 + frac
            rows += [(u, t0, 1.0), (u, t0 + delta, 1.0)]
            n_split += int(delta > 600_000_000)
            u += 1
    df = spark.createDataFrame(rows, ["user_id", "us", "value"]).select(
        "user_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "value",
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    native = session_windows_auto(
        df, "user_id", "ts", 600, aggs, density_threshold=10**9
    )
    laggap = session_windows_auto(
        df, "user_id", "ts", 600, aggs, density_threshold=0
    )
    k = lambda r: (r.user_id, r.session_start)
    n = sorted(native.collect(), key=k)
    l = sorted(laggap.collect(), key=k)
    assert [tuple(r) for r in n] == [tuple(r) for r in l]
    # native semantics: an event at EXACTLY prev_end (delta == 600 s
    # sharp) still MERGES; only delta == 600 s + 1 us splits
    assert len(n) == 2 * n_split + (u - n_split)


def test_conformance_report_detects_planted_violations(spark):
    """Uniqueness and FK rules must actually fire: planted duplicate
    keys, orphan children, and NULL keys (not violations for unique/FK,
    caught by the not-null predicate instead)."""
    from pyspark.sql import functions as F

    from big_data_occupancy_detection_spark.operators.relational import (
        conformance_report,
    )

    child = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 20), (3, 99), (None, 30)],
        ["id", "parent_id"],
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], ["pid"])
    out = {
        r["rule"]: r
        for r in conformance_report(
            child,
            checks={"id_not_null": F.col("id").isNotNull()},
            unique={"id_unique": ["id"]},
            fks={"parent_fk": (["parent_id"], parent, ["pid"])},
        ).collect()
    }
    assert out["id_not_null"]["n_violations"] == 1          # the NULL id
    assert out["id_unique"]["n_violations"] == 1            # dup id=1 pair
    assert out["parent_fk"]["n_violations"] == 1            # 99 is orphan
    assert all(r["n_rows"] == 5 for r in out.values())
    assert out["id_unique"]["violation_rate"] == 0.2


def test_schema_evolution_merge_read(spark, tmp_path):
    """Two generations of one dataset (a column added between them) read
    back under a single reconciled schema, both via mergeSchema and via a
    declared current schema; values cross-checked against DuckDB's
    union_by_name read of the same files."""
    import duckdb

    from big_data_occupancy_detection_spark.sources.readers import (
        read_parquet_evolved,
    )

    gen1 = str(tmp_path / "gen1")
    gen2 = str(tmp_path / "gen2")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id bigint, text string"
    ).write.parquet(gen1)
    spark.createDataFrame(
        [(3, "gamma", "en", 4), (4, "delta", "fr", 7)],
        "doc_id bigint, text string, lang string, n_tok bigint",
    ).write.parquet(gen2)

    merged = read_parquet_evolved(spark, gen1, gen2)
    assert {f.name for f in merged.schema.fields} == {
        "doc_id", "text", "lang", "n_tok",
    }
    got = sorted(
        (r.doc_id, r.text, r.lang, r.n_tok)
        for r in merged.select("doc_id", "text", "lang", "n_tok").collect()
    )
    want = duckdb.sql(
        f"""SELECT doc_id, text, lang, n_tok
            FROM read_parquet(['{gen1}/*.parquet', '{gen2}/*.parquet'],
                              union_by_name=true)
            ORDER BY doc_id"""
    ).fetchall()
    assert got == [tuple(r) for r in want]
    # old-generation rows surface NULL for the late-added columns
    assert got[0][2] is None and got[0][3] is None

    # production path: declared current schema, no footer merging
    declared = read_parquet_evolved(spark, gen1, gen2, schema=merged.schema)
    assert sorted(
        (r.doc_id, r.text, r.lang, r.n_tok) for r in declared.collect()
    ) == got

    # pushdown still reaches each file's scan under the merged read
    plan = (
        merged.filter(F.col("doc_id") > 2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,2)]" in plan


def test_conformance_report_requires_at_least_one_rule(spark):
    from big_data_occupancy_detection_spark.operators.relational import (
        conformance_report,
    )

    df = spark.range(3)
    with pytest.raises(ValueError, match="at least one rule"):
        conformance_report(df)


def test_shingle_novelty_counts_cross_doc_overlap(spark):
    from big_data_occupancy_detection_spark.ext.dedup import shingle_novelty

    df = spark.createDataFrame(
        [
            (1, "a b c d"),   # shingles {a b c, b c d}
            (2, "a b c x"),   # shares 'a b c' with doc 1
            (3, "p q r s"),   # fully novel
        ],
        ["doc_id", "text"],
    )
    out = {r.doc: r for r in shingle_novelty(df).collect()}
    assert (out[1].n_shingles, out[1].n_novel, out[1].novelty) == (2, 1, 0.5)
    assert (out[2].n_shingles, out[2].n_novel, out[2].novelty) == (2, 1, 0.5)
    assert (out[3].n_shingles, out[3].n_novel, out[3].novelty) == (2, 2, 1.0)


def test_cluster_outliers_flags_planted_outlier(spark):
    from big_data_occupancy_detection_spark.ext.similarity import cluster_outliers

    rows = [(i, [1.0, 0.02 * i, 0.0]) for i in range(8)]
    rows.append((99, [0.0, 0.0, 1.0]))  # orthogonal to the pack
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r.vid: r
        for r in cluster_outliers(
            df, flag_per_cluster=1, n_centroids=1, n_iters=1
        ).collect()
    }
    assert len(out) == 9
    assert out[99].rnk == 1 and out[99].is_outlier
    assert sum(1 for r in out.values() if r.is_outlier) == 1
    # everyone sits in the single cluster and the pack scores higher
    assert all(r.cluster == out[99].cluster for r in out.values())
    assert min(r.centroid_cos for v, r in out.items() if v != 99) > out[99].centroid_cos


def test_weighted_percentiles_boundaries_and_nulls(spark):
    """Inclusive integer thresholds (cumw*100 >= k*total), weight-skewed
    median, and null value/weight rows dropped."""
    from big_data_occupancy_detection_spark.operators.relational import (
        weighted_percentiles,
    )

    uniform = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 1), (4.0, 1), (None, 5), (9.0, None)],
        "v DOUBLE, w LONG",
    )
    got = {
        r.pct: r.value
        for r in weighted_percentiles(uniform, "v", "w", [25, 50, 75, 99]).collect()
    }
    # 25% of total weight 4 = 1.0 exactly -> v=1 is included (>=, not >)
    assert got == {25: 1.0, 50: 2.0, 75: 3.0, 99: 4.0}

    skewed = spark.createDataFrame(
        [(10.0, 1), (20.0, 1), (30.0, 8)], "v DOUBLE, w LONG"
    )
    med = {
        r.pct: r.value for r in weighted_percentiles(skewed, "v", "w", [50]).collect()
    }
    assert med == {50: 30.0}  # 80% of the weight sits on 30


def test_weighted_percentiles_huge_weights_and_pct_validation(spark):
    """r5 advice: (a) the threshold compare runs in decimal(38,0), so
    cent-scale weight totals past ~9.2e16 — where `cumw * 100` would
    silently overflow a long and flip the comparison — still pick the
    right value; (b) out-of-domain pct points raise instead of silently
    returning the min (pct=0) or nothing (pct>100)."""
    import pytest as _pytest

    from big_data_occupancy_detection_spark.operators.relational import (
        weighted_percentiles,
    )

    w = 500_000_000_000_000_000  # 5e17: cumw*100 overflows int64 at row 2
    df = spark.createDataFrame(
        [(1.0, w), (2.0, w), (3.0, w)], "v double, wt long"
    )
    got = {
        r["pct"]: r["value"]
        for r in weighted_percentiles(df, "v", "wt", [33, 34, 66, 100]).collect()
    }
    # cumulative: 1/3, 2/3, 3/3 of total weight at v=1,2,3
    assert got == {33: 1.0, 34: 2.0, 66: 2.0, 100: 3.0}

    for bad in ([0], [101], [-5], [50, 0], [True], [50, False]):
        # booleans last: True == int(True) == 1 passed the range check
        # before the r6-advice fix and silently computed the 1st pctile
        with _pytest.raises(ValueError):
            weighted_percentiles(df, "v", "wt", bad)


def _rank_frame(spark, bad):
    rows = [("a", float(i), i % 3, 1) for i in range(40)] + [("a", bad, 0, 1)]
    return spark.createDataFrame(rows, "g string, v double, k long, w long")


_BOUNDS_ROUTED = {
    "grouped_exact_median": lambda df: grouped_exact_median(df, "g", "v"),
    "grouped_cumsum": lambda df: grouped_cumsum(df, "g", "v", "w"),
    "global_cumsum": lambda df: global_cumsum(df.select("v", "w"), ["v"], "w"),
}


@pytest.mark.parametrize("bad", [None, float("nan")], ids=["null", "nan"])
@pytest.mark.parametrize("op", sorted(_BOUNDS_ROUTED))
def test_value_bounds_routing_rejects_null_and_nan_keys(spark, op, bad):
    """A NULL key has no rank position and a NaN key routes to bucket 0
    while ``orderBy`` sorts it last: either would silently corrupt every
    later rank, so value-bounds routing fails the query instead."""
    with pytest.raises(Exception, match="must be non-null"):
        _BOUNDS_ROUTED[op](_rank_frame(spark, bad)).collect()


def test_weighted_percentiles_rejects_nan_value(spark):
    # NULL values are dropped by contract; a NaN value reaches the
    # bounds-routed global_cumsum and must fail, not mis-rank
    with pytest.raises(Exception, match="must be non-null"):
        weighted_percentiles(_rank_frame(spark, float("nan")), "v", "w", [50]).collect()


def test_global_cumsum_composite_key_rejects_null(spark):
    df = _rank_frame(spark, None).select("v", "k", "w")
    with pytest.raises(Exception, match="must be non-null"):
        global_cumsum(df, ["k", "v"], "w").collect()


def test_duckdb_list_reduce_struct_quirk():
    """Documents WHY the Holt oracle is a recursive CTE, not list_reduce:
    DuckDB (1.0.0) evaluates struct-literal lambda fields with
    inconsistent cross-field visibility — the FIRST application reads the
    seed's old values, later applications see fields already overwritten
    in place. If this probe starts failing, DuckDB fixed the semantics
    and list_reduce oracles over struct accumulators become viable."""
    import duckdb

    con = duckdb.connect()
    one = con.execute(
        """SELECT list_reduce(
             [{'a': CAST(1.0 AS DOUBLE), 'b': CAST(0.0 AS DOUBLE)},
              {'a': CAST(10.0 AS DOUBLE), 'b': CAST(0.0 AS DOUBLE)}],
             (acc, x) -> {'a': acc.a + x.a, 'b': acc.a})"""
    ).fetchone()[0]
    two = con.execute(
        """SELECT list_reduce(
             [{'a': CAST(1.0 AS DOUBLE), 'b': CAST(0.0 AS DOUBLE)},
              {'a': CAST(10.0 AS DOUBLE), 'b': CAST(0.0 AS DOUBLE)},
              {'a': CAST(100.0 AS DOUBLE), 'b': CAST(0.0 AS DOUBLE)}],
             (acc, x) -> {'a': acc.a + x.a, 'b': acc.a})"""
    ).fetchone()[0]
    assert one == {"a": 11.0, "b": 1.0}  # first application: OLD acc.a
    assert two == {"a": 111.0, "b": 111.0}  # later: in-place NEW acc.a


def test_grouped_holt_jvm_matches_python_reference(spark):
    """The JVM Holt fold replays the textbook recurrence bit-for-bit."""
    from big_data_occupancy_detection_spark.operators.temporal import (
        grouped_holt_jvm,
    )

    ys = [100.0, 120.0, 90.0, 130.0, 150.0, 110.0, 95.0]
    df = spark.createDataFrame(
        [("g", i, y) for i, y in enumerate(ys)], "g string, day int, v double"
    )
    got = grouped_holt_jvm(df, "g", ["day"], "v", 0.3, 0.1).collect()[0]

    a, b = 0.3, 0.1
    lvl, tr, sae = ys[0], 0.0, 0.0
    for y in ys[1:]:
        sae += abs(y - (lvl + tr))
        nl = a * y + (1.0 - a) * (lvl + tr)
        tr = b * (nl - lvl) + (1.0 - b) * tr
        lvl = nl
    assert got["n_points"] == len(ys)
    assert got["level"] == lvl
    assert got["trend"] == tr
    assert got["sae"] == sae


def test_grouped_holt_jvm_single_point_group_mae_guard(spark):
    """r6 advice: a single-point group folds zero steps (level=y_0,
    trend=0, sae=0) and has NO defined mae — the documented caller
    pattern (F.when(n_points > 1, sae/(n_points-1))) must yield NULL,
    never the NaN an unguarded 0.0/0.0 produces."""
    from big_data_occupancy_detection_spark.operators.temporal import (
        grouped_holt_jvm,
    )

    df = spark.createDataFrame(
        [("lone", 1, 42.0), ("pair", 1, 10.0), ("pair", 2, 20.0)],
        "g string, day int, v double",
    )
    h = grouped_holt_jvm(df, "g", ["day"], "v", 0.3, 0.1)
    rows = {
        r["g"]: r
        for r in h.select(
            "g",
            "n_points",
            "level",
            "trend",
            "sae",
            F.when(
                F.col("n_points") > 1,
                F.col("sae") / (F.col("n_points") - 1).cast("double"),
            ).alias("mae"),
        ).collect()
    }
    lone = rows["lone"]
    assert (lone["n_points"], lone["level"], lone["trend"], lone["sae"]) == (
        1,
        42.0,
        0.0,
        0.0,
    )
    assert lone["mae"] is None  # guarded: NULL, not NaN
    assert rows["pair"]["mae"] == abs(20.0 - 10.0)  # one step, |y_1 - f_1|


def test_grouped_cusum_jvm_matches_python_reference(spark):
    """The JVM CUSUM fold replays the textbook two-sided recurrence
    bit-for-bit, tracks first-peak order keys (strict-greater update),
    and a flat series yields zero maxima with NULL peak keys."""
    from big_data_occupancy_detection_spark.operators.temporal import (
        grouped_cusum_jvm,
    )

    ys = [100.0, 120.0, 90.0, 130.0, 150.0, 110.0, 95.0, 150.0]
    rows = [("g", i, y) for i, y in enumerate(ys)]
    rows += [("flat", i, 50.0) for i in range(4)]
    df = spark.createDataFrame(rows, "g string, day int, v double")
    got = {
        r["g"]: r for r in grouped_cusum_jvm(df, "g", ["day"], "v").collect()
    }

    mu = sum(ys) / len(ys)
    sp = sn = mp = mn = 0.0
    dp = dn = None
    for i, y in enumerate(ys):
        sp = max(0.0, sp + (y - mu))
        sn = max(0.0, sn + (mu - y))
        if sp > mp:
            mp, dp = sp, i
        if sn > mn:
            mn, dn = sn, i
    g = got["g"]
    assert g["n_points"] == len(ys)
    assert g["mu"] == mu
    assert g["max_pos"] == mp and g["peak_pos_at"] == dp
    assert g["max_neg"] == mn and g["peak_neg_at"] == dn

    f = got["flat"]
    assert (f["max_pos"], f["max_neg"]) == (0.0, 0.0)
    assert f["peak_pos_at"] is None and f["peak_neg_at"] is None
