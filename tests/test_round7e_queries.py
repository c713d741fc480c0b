"""Round-7 wave-8 property tests: invariants the DuckDB hash oracle
can't express (bounds, conservation laws, bucket geometry) for the
privacy-EMD, autocorrelation, fan-out, inter-arrival, monotonicity and
trimmed-mean queries."""

from __future__ import annotations

import pyspark.sql.functions as F

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.round7w8 import (
    autocorr_events,
    interarrival_histogram_events,
    join_fanout_audit,
    monotonic_violations_orders,
    t_closeness_documents,
    trimmed_mean_lineitem,
)


def test_t_closeness_is_a_bounded_distance_per_class(spark, sf_dir):
    rows = t_closeness_documents(spark, sf_dir).collect()
    d = _t(spark, sf_dir, "documents")
    n_classes = d.select("lang", "source").distinct().count()
    assert len(rows) == n_classes
    for r in rows:
        # EMD of two distributions on a shared ordered support is in [0, 1]
        assert 0 <= r["t_ppm"] <= 1_000_000, r
        assert r["t_close"] == (r["t_ppm"] <= 200_000)
    # class sizes conserve the corpus
    assert sum(r["class_size"] for r in rows) == d.count()


def test_autocorr_cauchy_schwarz_bound(spark, sf_dir):
    rows = autocorr_events(spark, sf_dir).collect()
    assert [r["lag"] for r in rows] == list(range(1, 25))
    for r in rows:
        # |sum c_t c_{t+k}| <= sum c_t^2 (Cauchy-Schwarz on the
        # zero-padded series), so the ppm ratio is within +-1e6
        assert -1_000_000 <= r["acf_ppm"] <= 1_000_000, r
        assert r["n_pairs"] > 0


def test_join_fanout_internal_consistency(spark, sf_dir):
    rows = join_fanout_audit(spark, sf_dir).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["max_per_key"] <= r["n_children"]
        assert r["n_keys"] <= r["n_children"]
        # mean fan-out >= 1 by construction (every key has >= 1 child)
        assert r["avg_fanout_milli"] >= 1000
        assert 0 < r["top_key_share_ppm"] <= 1_000_000


def test_interarrival_bucket_geometry_and_conservation(spark, sf_dir):
    rows = interarrival_histogram_events(spark, sf_dir).collect()
    e = _t(spark, sf_dir, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    # every consecutive pair contributes exactly one gap
    assert sum(r["n_gaps"] for r in rows) == n_events - n_users
    for r in rows:
        b = r["bucket"]
        if b == 0:
            assert r["max_gap_s"] <= 0
        else:
            # bucket b holds [2^(b-1), 2^b)
            assert r["min_gap_s"] >= 2 ** (b - 1), r
            assert r["max_gap_s"] < 2**b, r


def test_monotonic_violations_conservation(spark, sf_dir):
    rows = monotonic_violations_orders(spark, sf_dir).collect()
    o = _t(spark, sf_dir, "orders")
    n_orders = o.count()
    n_cust = o.select("o_custkey").distinct().count()
    assert sum(r["n_pairs"] for r in rows) == n_orders - n_cust
    for r in rows:
        assert 0 <= r["n_violations"] <= r["n_pairs"]
        assert 0 <= r["violation_ppm"] <= 1_000_000


def test_trimmed_mean_inside_untrimmed_range(spark, sf_dir):
    row = trimmed_mean_lineitem(spark, sf_dir).collect()[0]
    li = _t(spark, sf_dir, "lineitem")
    n = li.count()
    assert row["n_total"] == n
    assert row["n_kept"] == n - 2 * (n // 10)
    lo, hi = (
        li.select(
            F.expr("min(CAST(round(l_extendedprice * 100) AS BIGINT))"),
            F.expr("max(CAST(round(l_extendedprice * 100) AS BIGINT))"),
        ).collect()[0]
    )
    assert lo * 1000 <= row["mean_millicents"] <= hi * 1000
