"""Data-quality constraint checking."""

from __future__ import annotations

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.functions.checks import (
    TableChecks,
    check_foreign_key,
    check_table,
)


def _report(df):
    return {r["check_name"]: (r["observed"], r["passed"]) for r in df.collect()}


def test_clean_table_passes_all_checks(spark):
    df = spark.createDataFrame(
        [(1, "a", "O", 10.0), (2, "b", "F", 5.5), (3, "c", "P", 1.0)],
        ["id", "name", "status", "price"],
    )
    rep = _report(
        check_table(
            df,
            TableChecks(
                complete=["id", "name"],
                unique=[["id"]],
                in_domain={"status": ["O", "F", "P"]},
                satisfies={"positive_price": F.col("price") > 0},
            ),
        )
    )
    assert all(obs == 0 and ok for obs, ok in rep.values()), rep


def test_violations_counted_per_check(spark):
    df = spark.createDataFrame(
        [
            (1, "a", "O", 10.0),
            (1, None, "X", -2.0),   # dup id, null name, bad domain, bad price
            (2, "c", None, None),   # null status (domain), null price (satisfies)
        ],
        ["id", "name", "status", "price"],
    )
    rep = _report(
        check_table(
            df,
            TableChecks(
                complete=["id", "name"],
                unique=[["id"]],
                in_domain={"status": ["O", "F", "P"]},
                satisfies={"positive_price": F.col("price") > 0},
            ),
        )
    )
    assert rep["complete:id"] == (0, True)
    assert rep["complete:name"] == (1, False)
    assert rep["unique:id"] == (1, False)
    assert rep["domain:status"] == (2, False)   # 'X' + NULL
    assert rep["satisfies:positive_price"] == (2, False)  # -2.0 + NULL


def test_foreign_key_orphans(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], ["id", "parent_id"]
    )
    parent = spark.createDataFrame([(10,), (20,)], ["pid"])
    rep = _report(check_foreign_key(child, "parent_id", parent, "pid"))
    # 99 is an orphan; NULL keys are not FK violations (SQL semantics)
    assert rep["fk:parent_id"] == (1, False)


def test_data_quality_orders_green_on_testdata(spark):
    from nearscan_kafka_streams_spark.queries.corpus_ops import (
        data_quality_orders,
    )

    rep = _report(data_quality_orders(spark, "/root/testdata/sf0.001"))
    assert len(rep) == 7
    assert all(obs == 0 and ok for obs, ok in rep.values()), rep


def test_empty_checks_returns_empty_report(spark):
    df = spark.createDataFrame([(1,)], ["id"])
    rep = check_table(df, TableChecks())
    assert rep.columns == ["check_name", "observed", "expected", "passed"]
    assert rep.count() == 0


def test_unique_ignores_null_keys(spark):
    # two null-keyed rows are NOT uniqueness violations (that's a
    # completeness concern); the duplicated non-null key is one
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (None, "z"), (None, "w"), (2, "v")],
        "id int, v string",
    )
    rep = _report(check_table(df, TableChecks(unique=[["id"]])))
    assert rep["unique:id"] == (1, False)
    rep2 = _report(
        check_table(df, TableChecks(complete=["id"], unique=[["id"]]))
    )
    assert rep2["complete:id"] == (2, False)

    # multi-column key: a row with ANY null key component is excluded
    df3 = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, None), (2, None)], "k1 int, k2 string"
    )
    rep3 = _report(check_table(df3, TableChecks(unique=[["k1", "k2"]])))
    assert rep3["unique:k1,k2"] == (1, False)


def test_check_table_single_scan(spark):
    """The WHOLE report -- row-local checks AND uniqueness -- must be
    one aggregate over one scan (stack unpivot of a single row), never
    a union of per-check re-scans."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("grp")
    )
    rep_df = check_table(
        df,
        TableChecks(
            complete=["id", "grp"],
            unique=[["id"]],
            satisfies={"nonneg": F.col("id") >= 0},
        ),
    )
    plan = rep_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (0, 100") == 1
    assert "Union" not in plan

