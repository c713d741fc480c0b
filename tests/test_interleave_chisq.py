"""Stride-scheduled mixture interleave + chi-square contingency."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.queries.corpus_ops import (
    INTERLEAVE_WEIGHT_DEFAULT,
    INTERLEAVE_WEIGHTS,
    chisq_lang_source,
    interleave_mixture_schedule,
)
from nearscan_kafka_streams_spark.queries._base import _t


def test_interleave_prefixes_track_weights(spark, sf_dir):
    """Stride scheduling's defining guarantee: in every prefix of the
    schedule, each source's share stays within a bounded drift of its
    weight share -- no source ever arrives in a burst."""
    rows = sorted(
        interleave_mixture_schedule(spark, sf_dir).collect(),
        key=lambda r: (r["stride_key"], r["source"], r["doc_id"]),
    )
    n_src = Counter(r["source"] for r in rows)
    weights = {
        s: INTERLEAVE_WEIGHTS.get(s, INTERLEAVE_WEIGHT_DEFAULT)
        for s in n_src
    }
    # a source participates in the interleave until exhausted; check
    # prefixes up to the first exhaustion point
    horizon_key = min(
        max(r["stride_key"] for r in rows if r["source"] == s) for s in n_src
    )
    active = [r for r in rows if r["stride_key"] <= horizon_key]
    w_total = sum(weights.values())
    seen: Counter = Counter()
    for i, r in enumerate(active, start=1):
        seen[r["source"]] += 1
        for s, w in weights.items():
            expect = i * w / w_total
            # stride drift bound: within 1 emission interval per source
            assert abs(seen[s] - expect) <= (16 // w) + 1, (
                i, s, seen[s], expect
            )


def test_interleave_keys_unique_per_source_and_complete(spark, sf_dir):
    out = interleave_mixture_schedule(spark, sf_dir)
    n_docs = _t(spark, sf_dir, "documents").count()
    assert out.count() == n_docs
    # within a source, ranks are dense 1..n and stride keys strictly grow
    per = (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("rank_in_source").alias("max_rank"),
            F.count_distinct("stride_key").alias("n_keys"),
        )
        .collect()
    )
    for r in per:
        assert r["max_rank"] == r["n"] == r["n_keys"]


def test_interleave_deterministic_across_partitionings(spark, sf_dir):
    a = sorted(map(tuple, interleave_mixture_schedule(spark, sf_dir).collect()))
    d = _t(spark, sf_dir, "documents").repartition(13)
    w = F.lit(INTERLEAVE_WEIGHT_DEFAULT)
    for src, wt in INTERLEAVE_WEIGHTS.items():
        w = F.when(F.col("source") == src, F.lit(wt)).otherwise(w)
    # same computation over a different physical layout
    from pyspark.sql.window import Window

    r = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    b = sorted(
        map(
            tuple,
            d.select(
                "doc_id", "source", r.alias("rank_in_source"),
                w.alias("weight16"),
            )
            .withColumn(
                "stride_key",
                (2 * F.col("rank_in_source") - 1)
                * (F.lit(16) / F.col("weight16")).cast("long"),
            )
            .collect(),
        )
    )
    assert a == b


def test_chisq_matches_python_model(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("lang", "source").collect()
    cells: Counter = Counter((r["lang"], r["source"]) for r in docs)
    rows: Counter = Counter()
    cols: Counter = Counter()
    for (lang, src), n in cells.items():
        rows[lang] += n
        cols[src] += n
    total = sum(cells.values())
    want = {}
    for (lang, src), n in cells.items():
        dev = float(n * total - rows[lang] * cols[src])
        denom = float(total * rows[lang] * cols[src])
        want[(lang, src)] = (n, round(dev * dev / denom * 1e6))
    got = {
        (r["lang"], r["source"]): (r["n"], r["chi2_micro"])
        for r in chisq_lang_source(spark, sf_dir).collect()
    }
    assert got == want


def test_chisq_independent_data_is_zero(spark):
    """A perfectly independent contingency table has zero chi-square
    everywhere: 2 langs x 2 sources in exact proportion."""
    data = (
        [("en", "a")] * 40 + [("en", "b")] * 10
        + [("fr", "a")] * 8 + [("fr", "b")] * 2
    )
    df = spark.createDataFrame(data, ["lang", "source"])
    cells = df.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    row_t = cells.groupBy("lang").agg(F.sum("n").alias("row_n"))
    col_t = cells.groupBy("source").agg(F.sum("n").alias("col_n"))
    total = cells.agg(F.sum("n").alias("total_n"))
    out = (
        cells.join(F.broadcast(row_t), "lang")
        .join(F.broadcast(col_t), "source")
        .crossJoin(F.broadcast(total))
    )
    dev = (
        F.col("n") * F.col("total_n") - F.col("row_n") * F.col("col_n")
    ).cast("double")
    denom = (
        F.col("total_n") * F.col("row_n") * F.col("col_n")
    ).cast("double")
    res = out.select(
        F.round(dev * dev / denom * 1e6).cast("long").alias("chi2_micro")
    ).collect()
    assert all(r["chi2_micro"] == 0 for r in res)


def test_chisq_plan_scans_corpus_once(spark, sf_dir):
    """The corpus is aggregated ONCE; totals are window sums over the
    domain-sized cell table (re-aggregation joins would make Catalyst
    re-scan the corpus per total -- 4 scans, measured)."""
    plan = (
        chisq_lang_source(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("documents.parquet") == 1, plan[:2000]
