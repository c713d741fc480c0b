"""Reference-topology operator shapes over the events table
(T1 dedup, J1/J2 interval join, as-of join, U1 flat-map, A1 sum+max_by)."""
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    _t,
    register,
)

# --------------------------------------------------------------------------
# Reference-topology operator shapes over the events stream table
# (T1 dedup, J1/J2 interval join, as-of join, U1 flat-map, A1 sum+max_by)
# --------------------------------------------------------------------------


def dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 shape (batch oracle semantics): distinct projection.

    Reference: dedup transformer TokenBalance.java:369-427."""
    e = _t(spark, sf_dir, "events")
    return e.select("user_id", "event_type").distinct()


DEDUP_EVENTS_SQL = "SELECT DISTINCT user_id, event_type FROM events"
register(dedup_events, oracle=DEDUP_EVENTS_SQL)


def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 shape: keyed interval join -- for each error event, the
    purchase events of the same user within +/-30 minutes.

    Reference: JoinWindows.of(2000ms) on receipt_id
    (TokenBalance.java:116-122); key = user_id, tolerance widened to
    match the testdata's event density.  Scale: equi-key part shuffles
    hash(user_id); the time predicate prunes within groups (and bounds
    stream-stream join state in the streaming variant)."""
    e = _t(spark, sf_dir, "events")
    err = e.where(F.col("event_type") == "error").select(
        F.col("user_id"), F.col("event_id").alias("error_id"), F.col("ts").alias("err_ts")
    )
    pur = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("pur_ts")
    )
    return (
        err.join(pur, "user_id")
        .where(
            (F.col("pur_ts") >= F.col("err_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("pur_ts") <= F.col("err_ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        .select("user_id", "error_id", "purchase_id")
    )


INTERVAL_JOIN_SQL = """
SELECT e.user_id AS user_id, e.event_id AS error_id, p.event_id AS purchase_id
FROM events e JOIN events p
  ON e.user_id = p.user_id
 AND e.event_type = 'error' AND p.event_type = 'purchase'
 AND p.ts BETWEEN e.ts - INTERVAL 30 MINUTE AND e.ts + INTERVAL 30 MINUTE
"""
register(interval_join_events, oracle=INTERVAL_JOIN_SQL)


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the user's most recent prior
    signup (if any).  Spark lacks a native as-of operator; composition:
    range join + max_by per left row -- no driver loop, one shuffle."""
    e = _t(spark, sf_dir, "events")
    pur = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pur_ts")
    )
    sign = e.where(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_id"), F.col("ts").alias("sign_ts")
    )
    joined = pur.join(sign, "user_id").where(F.col("sign_ts") <= F.col("pur_ts"))
    return (
        joined.groupBy("user_id", "purchase_id")
        .agg(
            F.max_by(
                "signup_id",
                F.struct(F.col("sign_ts").alias("ts"), F.col("signup_id").alias("id")),
            ).alias("last_signup_id")
        )
        .select("user_id", "purchase_id", "last_signup_id")
    )


ASOF_JOIN_SQL = """
SELECT user_id, purchase_id, last_signup_id FROM (
  SELECT p.user_id AS user_id, p.event_id AS purchase_id,
         s.event_id AS last_signup_id,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY s.ts DESC, s.event_id DESC) AS rn
  FROM events p JOIN events s
    ON p.user_id = s.user_id
   AND p.event_type = 'purchase' AND s.event_type = 'signup'
   AND s.ts <= p.ts
) WHERE rn = 1
"""
register(asof_join_events, oracle=ASOF_JOIN_SQL)


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 shape: JSON field extraction + aggregation.

    Reference: Gson args decode (TokenBalance.java:153-155)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


JSON_EXTRACT_SQL = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(*) AS n
FROM events GROUP BY event_type
"""
register(json_extract_events, oracle=JSON_EXTRACT_SQL)


def flatmap_legs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 shape: per-row CASE -> array<struct> -> explode (0/1/2 rows).

    purchase -> debit+credit legs; signup -> one zero 'welcome' leg;
    other types -> nothing.  Reference: flatMapValues switch
    (TokenBalance.java:152-270).  Oracle uses the equivalent UNION ALL."""
    e = _t(spark, sf_dir, "events")
    leg_type = (
        "struct<account:bigint,amount:double,reason:string>"
    )
    legs = F.when(
        F.col("event_type") == "purchase",
        F.array(
            F.struct(
                F.col("user_id").alias("account"),
                (-F.round(F.col("value"), 2)).alias("amount"),
                F.lit("purchase_debit").alias("reason"),
            ),
            F.struct(
                F.lit(-1).cast("bigint").alias("account"),
                F.round(F.col("value"), 2).alias("amount"),
                F.lit("purchase_credit").alias("reason"),
            ),
        ),
    ).when(
        F.col("event_type") == "signup",
        F.array(
            F.struct(
                F.col("user_id").alias("account"),
                F.lit(0.0).alias("amount"),
                F.lit("welcome").alias("reason"),
            )
        ),
    ).otherwise(F.expr(f"CAST(array() AS array<{leg_type}>)"))
    return (
        e.withColumn("_legs", legs)
        .select("event_id", F.explode("_legs").alias("_leg"))
        .select(
            "event_id",
            F.col("_leg.account").alias("account"),
            F.col("_leg.amount").alias("amount"),
            F.col("_leg.reason").alias("reason"),
        )
    )


FLATMAP_SQL = """
SELECT event_id, user_id AS account, -round(value, 2) AS amount,
       'purchase_debit' AS reason
FROM events WHERE event_type = 'purchase'
UNION ALL
SELECT event_id, -1 AS account, round(value, 2) AS amount,
       'purchase_credit' AS reason
FROM events WHERE event_type = 'purchase'
UNION ALL
SELECT event_id, user_id AS account, 0.0 AS amount, 'welcome' AS reason
FROM events WHERE event_type = 'signup'
"""
register(flatmap_legs_events, oracle=FLATMAP_SQL)


def running_balance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 shape: keyed sum + latest-event metadata via max_by on a
    composite (ts, id) ordering -- the token_balance aggregation
    (TokenBalance.java:279-329) over the events table."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.max_by(
                "event_id",
                F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("id")),
            ).alias("latest_event_id"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


RUNNING_BALANCE_SQL = """
WITH agg AS (
  SELECT user_id, round(sum(value), 2) AS total_value, count(*) AS n_events
  FROM events GROUP BY user_id
), latest AS (
  SELECT user_id, event_id AS latest_event_id
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) = 1
)
SELECT a.user_id AS user_id, a.total_value, l.latest_event_id, a.n_events
FROM agg a JOIN latest l ON a.user_id = l.user_id
"""
register(running_balance_events, oracle=RUNNING_BALANCE_SQL)


def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style tumbling window aggregation (batch form):
    events per (1-hour window, event_type).  In streaming this is the
    same expression over readStream with a watermark."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )


TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 2) AS total
FROM events GROUP BY date_trunc('hour', ts), event_type
"""
register(tumbling_window_events, oracle=TUMBLING_SQL)


def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING (hopping) window aggregation: 10-minute windows every 5
    minutes, so each event lands in exactly two overlapping windows --
    the smoothing/trend form the tumbling query can't express.  Native
    ``F.window(ts, len, slide)``; in streaming the same expression runs
    with a watermark (tested in tests/test_streaming_window.py).
    Sums use the integer ten-thousandths recipe so the oracle hash is
    summation-order independent."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0
            ).alias("total"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total"
        )
    )


SLIDING_SQL = """
WITH expanded AS (
  SELECT event_type, value,
         TIMESTAMP '1970-01-01'
           + INTERVAL ((CAST(floor(epoch(ts) / 300) AS BIGINT) - g.i) * 300)
             SECOND AS window_start
  FROM events, unnest(generate_series(0, 1)) AS g(i)
)
SELECT window_start, event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
         AS total
FROM expanded
GROUP BY window_start, event_type
"""
register(sliding_window_events, oracle=SLIDING_SQL)


def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE session windows: per-user sessions closed by a 5-minute
    inactivity gap via ``F.session_window`` -- the streaming-capable
    merging-window operator (the batch ``sessionize_events`` builds the
    same islands with lag/cumsum; this exercises Spark's dedicated
    SessionWindow aggregation, whose state merges in streaming).
    Window end is last event + gap by definition; the oracle rebuilds
    it as max(ts) + 5 minutes over lag/cumsum islands."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", "5 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
        .orderBy("user_id", "session_start")
    )


SESSION_WINDOW_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL 5 MINUTE THEN 0 ELSE 1 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 5 MINUTE AS session_end, count(*) AS n
FROM islands GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""
register(session_window_events, oracle=SESSION_WINDOW_SQL)


def scalar_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface: date parts, string ops, conditional --
    the F1-F8 families (SURVEY (S)2.6) over one projection."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.upper("event_type").alias("etype_upper"),
        F.concat_ws("-", "event_type", F.col("user_id").cast("string")).alias(
            "etype_user"
        ),
        F.substring("event_type", 1, 3).alias("etype3"),
        F.length("props").alias("props_len"),
        F.when(F.col("value") > 100, F.lit("high"))
        .when(F.col("value") > 10, F.lit("mid"))
        .otherwise(F.lit("low"))
        .alias("value_band"),
        F.round(F.abs(-F.col("value")), 2).alias("abs_value"),
        F.coalesce(F.get_json_object("props", "$.missing"), F.lit("none")).alias(
            "fallback"
        ),
    )


SCALAR_FN_SQL = """
SELECT event_id,
       CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
       CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
       upper(event_type) AS etype_upper,
       concat_ws('-', event_type, CAST(user_id AS VARCHAR)) AS etype_user,
       substring(event_type, 1, 3) AS etype3,
       CAST(length(props) AS INT) AS props_len,
       CASE WHEN value > 100 THEN 'high' WHEN value > 10 THEN 'mid'
            ELSE 'low' END AS value_band,
       round(abs(-value), 2) AS abs_value,
       coalesce(json_extract_string(props, '$.missing'), 'none') AS fallback
FROM events
"""
register(scalar_functions_events, oracle=SCALAR_FN_SQL)


def array_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions: collect + sort + size + element access
    (deterministic: collect_list order is pinned by array_sort)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("event_type")).alias("types"))
        .select(
            "user_id",
            F.size("types").alias("n"),
            F.element_at("types", 1).alias("first_type"),
            F.array_distinct("types").alias("distinct_types"),
        )
        .select(
            "user_id",
            "n",
            "first_type",
            F.size("distinct_types").alias("n_distinct"),
            F.array_join("distinct_types", ",").alias("distinct_csv"),
        )
    )


ARRAY_AGG_SQL = """
WITH t AS (
  SELECT user_id, list_sort(list(event_type)) AS types
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(len(types) AS INT) AS n, types[1] AS first_type,
       CAST(len(list_distinct(types)) AS INT) AS n_distinct,
       array_to_string(list_sort(list_distinct(types)), ',') AS distinct_csv
FROM t
"""
register(array_agg_events, oracle=ARRAY_AGG_SQL)


def approx_sketches_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates: HLL distinct + quantile sketch (no
    oracle: sketch estimates are algorithm-specific; accuracy vs exact
    is pinned in tests/)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("approx_median"),
        F.count(F.lit(1)).alias("n"),
    )


register(approx_sketches_events)


