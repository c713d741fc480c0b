"""Approx-sketch accuracy, reset utility, Kafka-absence behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.topology import (
    approx_sketches_events,
)
from nearscan_kafka_streams_spark.streaming.reset import reset_pipeline


def test_approx_sketches_within_bounds(spark, sf_dir):
    approx = {
        r["event_type"]: r for r in approx_sketches_events(spark, sf_dir).collect()
    }
    e = _t(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r
        for r in e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("median"),
        )
        .collect()
    }
    for etype, row in exact.items():
        rel = abs(approx[etype]["approx_users"] - row["users"]) / max(row["users"], 1)
        assert rel <= 0.1, (etype, approx[etype]["approx_users"], row["users"])
        # percentile_approx default accuracy: within the value spread
        assert abs(approx[etype]["approx_median"] - row["median"]) <= max(
            abs(row["median"]) * 0.25, 5.0
        )


def test_reset_pipeline(tmp_path):
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"
    ckpt.mkdir()
    out.mkdir()
    (ckpt / "offsets").mkdir()
    removed = reset_pipeline(str(ckpt), [str(out)])
    assert set(removed) == {str(ckpt), str(out)}
    assert not ckpt.exists() and not out.exists()
    # reset of a never-run pipeline is a no-op
    assert reset_pipeline(str(ckpt)) == []


def test_kafka_source_reports_missing_connector(spark):
    """This container has no kafka connector jar; the source must fail
    with the standard actionable Spark error (deploy instructions), not
    something opaque from our wrapper."""
    from nearscan_kafka_streams_spark.schemas import RECEIPTS_SCHEMA
    from nearscan_kafka_streams_spark.sources.kafka import read_topic_stream

    with pytest.raises(Exception, match="kafka"):
        read_topic_stream(
            spark,
            "near.indexer.receipts",
            RECEIPTS_SCHEMA,
            "included_in_block_timestamp",
        )


def test_profile_table_nulls_and_distinct(spark):
    """Profile counters on a crafted table with nulls (testdata has
    none): count(col) skips nulls, countDistinct skips nulls, min/max
    cast AFTER aggregation (numeric order, not lexicographic)."""
    from nearscan_kafka_streams_spark.functions.profiling import profile_table

    df = spark.createDataFrame(
        [(100, "a"), (99, None), (100, "b"), (None, "b")],
        ["k", "s"],
    )
    got = {
        r["column_name"]: (
            r["n_rows"], r["n_nonnull"], r["n_distinct"],
            r["min_value"], r["max_value"],
        )
        for r in profile_table(df).collect()
    }
    # min 99 < 100 numerically (lexicographic would give "100" < "99")
    assert got["k"] == (4, 3, 2, "99", "100")
    assert got["s"] == (4, 3, 2, "a", "b")
    approx = {
        r["column_name"]: r["n_distinct"]
        for r in profile_table(df, exact_distinct=False).collect()
    }
    assert approx["k"] == 2 and approx["s"] == 2  # HLL exact at tiny n


def test_write_range_clustered_prunes(spark, tmp_path):
    """Range-clustered output must give each file a narrow,
    pairwise-non-overlapping key range (the property parquet
    min/max skipping needs), and a point filter must read less
    than the full row count (row-group pruning observable via
    the scan's numOutputRows on a filter-pushed read)."""
    import pyarrow.parquet as pq

    from nearscan_kafka_streams_spark.sinks import write_range_clustered

    df = spark.range(0, 100_000).selectExpr(
        "id", "cast(id % 977 as long) as k", "id * 2 as v"
    )
    out = str(tmp_path / "clustered")
    write_range_clustered(df.orderBy(F.rand(seed=7)), out, ["k"], num_files=8)

    files = sorted((tmp_path / "clustered").glob("*.parquet"))
    assert len(files) == 8
    ranges = []
    for f in files:
        md = pq.read_metadata(str(f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "k"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo, f"overlapping file ranges {a_hi} > {b_lo}"

    back = spark.read.parquet(out).where("k = 42")
    assert back.count() == df.where("k = 42").count()


def test_global_running_sum_matches_window(spark):
    """Distributed two-pass prefix scan == single-task global window,
    and the BIG table never passes through a SinglePartition exchange
    (only the per-partition-totals side, ~num_partitions rows, does)."""
    from pyspark.sql.window import Window

    from nearscan_kafka_streams_spark.functions.scan import global_running_sum

    df = spark.range(0, 10_000).selectExpr(
        "id as k", "cast(pmod(id * 2654435761, 97) as long) as v"
    )
    got = global_running_sum(df, "k", "v", num_partitions=16)
    expect = df.withColumn(
        "running", F.sum("v").over(Window.orderBy("k"))
    )
    assert (
        got.join(expect.withColumnRenamed("running", "r2"), "k")
        .where("running != r2")
        .count()
        == 0
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") == 1


def test_write_zorder_clusters_both_columns(spark, tmp_path):
    """Z-order output: EVERY clustered column's per-file footer range
    must be much narrower than the global domain (lexicographic range
    clustering narrows only the first column), and content survives."""
    import pyarrow.parquet as pq

    from nearscan_kafka_streams_spark.sinks import write_zorder_clustered

    n = 100_000
    df = spark.range(0, n).selectExpr(
        "id",
        "cast(id % 1000 as long) as x",
        "cast(cast(id / 100 as long) as long) as y",
    )
    out = str(tmp_path / "zordered")
    write_zorder_clustered(
        df.orderBy(F.rand(seed=3)), out, ["x", "y"], num_files=16
    )

    files = sorted((tmp_path / "zordered").glob("*.parquet"))
    assert len(files) == 16

    def file_span(col_name):
        spans = []
        for f in files:
            md = pq.read_metadata(str(f))
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col_name
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            spans.append(max(maxs) - min(mins))
        return spans

    # 16 files over a 2-D grid ~ 4x4 tiles: each file should span
    # roughly 1/4 of each dimension; assert < 60% of global (random
    # layout would span ~100% of both)
    for col_name, domain in (("x", 1000), ("y", n // 100)):
        spans = file_span(col_name)
        avg = sum(spans) / len(spans)
        assert avg < 0.6 * domain, f"{col_name}: avg span {avg} of {domain}"

    back = spark.read.parquet(out)
    assert back.count() == n
    assert back.selectExpr("sum(x)", "sum(y)").collect() == df.selectExpr(
        "sum(x)", "sum(y)"
    ).collect()


def test_zorder_boundary_reuse_is_deterministic(spark, tmp_path):
    from nearscan_kafka_streams_spark.sinks.layout import zorder_value

    df = spark.range(0, 5_000).selectExpr(
        "cast(id % 100 as long) as x", "cast(id % 37 as long) as y"
    )
    z1, bounds = zorder_value(df, ["x", "y"], bits_per_col=4)
    z2, _ = zorder_value(df, ["x", "y"], bits_per_col=4, boundaries=bounds)
    a = [r[0] for r in df.select(z1).collect()]
    b = [r[0] for r in df.select(z2).collect()]
    assert a == b
    assert max(a) < (1 << 8)  # 2 cols x 4 bits


def test_write_with_bloom_filters_adds_footer_bytes(spark, tmp_path):
    """pyarrow here doesn't expose bloom offsets, so assert presence
    via the size delta: identical data + bloom filters must be
    strictly larger on disk, and reads stay correct."""
    from pathlib import Path

    from nearscan_kafka_streams_spark.sinks import write_with_bloom_filters

    df = spark.range(0, 200_000).selectExpr(
        "id", "cast(id as string) as k"
    ).coalesce(1)
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    df.write.mode("overwrite").parquet(plain)
    write_with_bloom_filters(df, bloomed, ["k"], expected_ndv=200_000)

    def total(p):
        return sum(f.stat().st_size for f in Path(p).glob("*.parquet"))

    assert total(bloomed) > total(plain) + 50_000  # filter bytes present
    back = spark.read.parquet(bloomed).where("k = '123456'")
    assert back.count() == 1


def test_heavy_hitters_bounded_counters_still_exact_for_heavy(spark):
    """Misra-Gries two-pass: with counters FAR below the vocab size,
    any value whose count clears N/counters must survive candidate
    generation, and the recount makes its reported count exact."""
    import random

    from nearscan_kafka_streams_spark.functions.profiling import heavy_hitters

    rng = random.Random(7)
    rows = [("dominant",)] * 500 + [
        (f"tail{rng.randrange(200)}",) for _ in range(500)
    ]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "v string").repartition(4)
    out = heavy_hitters(df, "v", k=5, counters=8).collect()
    # N=1000, counters=8 -> guarantee bar 125; dominant(500) clears it
    assert out[0]["value"] == "dominant" and out[0]["n"] == 500
    # every reported count is the exact global count (pass 2 recounts)
    truth = {}
    for (v,) in rows:
        truth[v] = truth.get(v, 0) + 1
    for r in out:
        assert truth[r["value"]] == r["n"]


def test_heavy_hitters_matches_full_groupby_when_condition_holds(spark):
    """With counters >= vocab the MG pass degenerates to exact local
    counting, so the result equals the full-shuffle top-k bit for bit
    (the degenerate-oracle pattern; the driver gate checks the same on
    the documents corpus)."""
    from pyspark.sql import functions as F

    from nearscan_kafka_streams_spark.functions.profiling import heavy_hitters

    rows = [(w,) for w in "a b c a b a d e a b c".split()]
    df = spark.createDataFrame(rows, "v string").repartition(3)
    got = [(r["value"], r["n"]) for r in heavy_hitters(df, "v", k=3, counters=64).collect()]
    want = [
        (r["v"], r["n"])
        for r in df.groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("v").asc())
        .limit(3)
        .collect()
    ]
    assert got == want


def test_compact_parquet_reduces_file_count_preserves_rows(spark, tmp_path):
    """Small-files compaction: 40 tiny files -> the computed handful,
    with byte-identical row content and a file count derived from the
    exact on-disk size (not a row estimate)."""
    from pathlib import Path

    from nearscan_kafka_streams_spark.sinks.layout import compact_parquet

    src = str(tmp_path / "small")
    for i in range(40):
        spark.range(i * 10, i * 10 + 10).withColumnRenamed(
            "id", "v"
        ).coalesce(1).write.mode("append").parquet(src)
    n_in = len(list(Path(src).rglob("*.parquet")))
    assert n_in >= 40

    dst = str(tmp_path / "compacted")
    n_out = compact_parquet(spark, src, dst, target_mb=128)
    files_out = len(list(Path(dst).rglob("*.parquet")))
    assert n_out == 1 and files_out == 1  # 40 tiny files fit one target
    a = sorted(r["v"] for r in spark.read.parquet(src).collect())
    b = sorted(r["v"] for r in spark.read.parquet(dst).collect())
    assert a == b == list(range(400))


def test_heavy_hitters_non_string_column(spark):
    """The MG worker's output schema derives from the value column's
    type: a bigint column must survive Arrow conversion and join back
    without implicit casts."""
    from nearscan_kafka_streams_spark.functions.profiling import heavy_hitters

    rows = [(i % 3,) for i in range(30)] + [(99,)]
    df = spark.createDataFrame(rows, "v long").repartition(3)
    out = heavy_hitters(df, "v", k=2, counters=16).collect()
    assert [(r["value"], r["n"]) for r in out] == [(0, 10), (1, 10)]


def test_compact_parquet_preserves_hive_partition_columns(spark, tmp_path):
    """Default (non-recursive) compaction of a partitionBy-written
    dataset must keep the partition columns -- recursive listing would
    silently drop them."""
    from nearscan_kafka_streams_spark.sinks.layout import compact_parquet

    src = str(tmp_path / "parted")
    spark.createDataFrame(
        [(i, f"d{i % 3}") for i in range(30)], "v long, date string"
    ).write.partitionBy("date").parquet(src)
    dst = str(tmp_path / "parted_out")
    compact_parquet(spark, src, dst, target_mb=128)
    out = spark.read.parquet(dst)
    assert set(out.columns) == {"v", "date"}
    assert out.where("date = 'd1'").count() == 10


def test_global_row_number_and_ntile_match_window(spark):
    """Distributed two-pass rank == single-task ROW_NUMBER/NTILE for
    every k (including k > n), with only the tiny offsets side ever
    crossing a SinglePartition exchange."""
    from pyspark.sql.window import Window

    from nearscan_kafka_streams_spark.functions.scan import (
        global_ntile,
        global_row_number,
    )

    df = spark.range(0, 5_000).selectExpr(
        "cast(pmod(id * 2654435761, 1000003) as long) as k", "id"
    )
    w = Window.orderBy("k", "id")
    got = global_row_number(df, ["k", "id"], out_col="rn", num_partitions=16)
    expect = df.withColumn("rn", F.row_number().over(w).cast("long"))
    assert (
        got.join(expect.withColumnRenamed("rn", "r2"), ["k", "id"])
        .where("rn != r2")
        .count()
        == 0
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") == 1

    for k in (4, 7, 9_999):  # even, uneven, and k > n
        got_b = global_ntile(
            df, ["k", "id"], k, out_col="b", num_partitions=16
        )
        exp_b = df.withColumn("b", F.ntile(k).over(w))
        assert (
            got_b.join(exp_b.withColumnRenamed("b", "b2"), ["k", "id"])
            .where("b != b2")
            .count()
            == 0
        ), f"ntile mismatch at k={k}"


def test_global_ntile_descending_order(spark):
    """Sort-order expressions (DESC) flow through the range
    partitioner and the local window identically."""
    from pyspark.sql.window import Window

    from nearscan_kafka_streams_spark.functions.scan import global_ntile

    df = spark.range(0, 1_000).selectExpr(
        "cast(pmod(id * 48271, 653) as long) as k", "id"
    )
    got = global_ntile(
        df,
        [F.col("k").desc(), F.col("id")],
        4,
        out_col="b",
        num_partitions=8,
    )
    exp = df.withColumn(
        "b", F.ntile(4).over(Window.orderBy(F.col("k").desc(), "id"))
    )
    assert (
        got.join(exp.withColumnRenamed("b", "b2"), ["k", "id"])
        .where("b != b2")
        .count()
        == 0
    )
