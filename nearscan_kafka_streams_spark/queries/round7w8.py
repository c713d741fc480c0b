"""Round-7 wave 8 + round-8 additions: t-closeness, autocorrelation,
assortativity, fan-out, inter-arrival, monotonicity, trimmed mean,
mutual-NN, k-core, zone-map audit, water-filling, prefix census."""
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _t,
    token_count,
    register,
)
from .dedup import (  # noqa: F401
    jaccard_edges_frame,
)
from .round5 import (  # noqa: F401
    _co_event_edges,
)

# --------------------------------------------------------------------------
# round-7 wave 8: t-closeness (completing the k-anonymity/l-diversity
# privacy triad), exact integer autocorrelation, degree assortativity
# over the staged co-event graph, FK fan-out audit, inter-arrival
# histogram, out-of-order ingestion audit, exact trimmed mean
# --------------------------------------------------------------------------


def t_closeness_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit -- the third leg of the privacy-release triad
    (k_anonymity_documents counts class sizes, l_diversity_documents
    counts distinct sensitive values; this bounds how much a class's
    SENSITIVE-VALUE DISTRIBUTION leaks): per quasi-identifier class
    (lang, source), the Earth Mover's Distance between the class's
    length-bin distribution and the corpus-wide one, for the ordered
    attribute bin = n_chars div 200.

    EMD for an ordered attribute is the mean absolute difference of
    cumulative shares: sum_i |P_c(<=i) - P_g(<=i)| / (m-1).  Computed
    as EXACT integer ppm by clearing denominators -- the cumulative
    difference at bin i is (cum_c*N - cum_g*n_c) / (n_c*N), so

        t_ppm = sum_i |cum_c_i*N - cum_g_i*n_c| * 1e6
                div ((m-1) * n_c * N)

    with every product formed in DECIMAL(38,0) (cum*N reaches ~1e24 at
    corpus scale -- int64 wraps; DuckDB multiplies in HUGEINT).

    Scale: two hash aggregates over the corpus (per-bin, per-class-bin)
    collapse everything to a classes x bins GRID bounded by metadata
    cardinality, not rows; the cumulative windows run on that grid
    (the round-6 window-buffering discipline), and the totals frame is
    a broadcast cross join."""
    d = _t(spark, sf_dir, "documents")
    binned = d.select(
        "lang", "source", F.expr("CAST(n_chars div 200 AS BIGINT)").alias("bin")
    )
    gbin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("g_n")
    )
    gcum = gbin.select(
        "bin",
        F.sum("g_n")
        .over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_g"),
    )
    tot = gbin.agg(
        F.sum("g_n").cast("decimal(38,0)").alias("N"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
    )
    cls = binned.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_c")
    )
    cbin = binned.groupBy("lang", "source", "bin").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c_n")
    )
    grid = (
        cls.crossJoin(F.broadcast(gcum))
        .join(cbin, ["lang", "source", "bin"], "left")
        .select(
            "lang",
            "source",
            "n_c",
            "bin",
            "cum_g",
            F.coalesce(F.col("c_n"), F.lit(0).cast("decimal(38,0)")).alias(
                "c_n"
            ),
        )
    )
    cums = grid.withColumn(
        "cum_c",
        F.sum("c_n").over(
            Window.partitionBy("lang", "source")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    dist = (
        cums.crossJoin(F.broadcast(tot))
        .groupBy("lang", "source", "n_c", "N", "m")
        .agg(
            F.sum(
                F.abs(F.col("cum_c") * F.col("N") - F.col("cum_g") * F.col("n_c"))
            )
            .cast("decimal(38,0)")
            .alias("s")
        )
    )
    return dist.select(
        "lang",
        "source",
        F.col("n_c").cast("long").alias("class_size"),
        F.expr(
            "CAST((s * 1000000) div (greatest(m - 1, 1) * n_c * N) AS BIGINT)"
        ).alias("t_ppm"),
        F.expr(
            "(s * 1000000) div (greatest(m - 1, 1) * n_c * N) <= 200000"
        ).alias("t_close"),
    ).orderBy("lang", "source")


T_CLOSENESS_SQL = r"""
WITH binned AS (
  SELECT lang, source, n_chars // 200 AS bin FROM documents
), gbin AS (
  SELECT bin, CAST(count(*) AS HUGEINT) AS g_n FROM binned GROUP BY bin
), gcum AS (
  SELECT bin, sum(g_n) OVER (ORDER BY bin) AS cum_g FROM gbin
), tot AS (
  SELECT CAST(sum(g_n) AS HUGEINT) AS N,
         CAST(count(*) AS HUGEINT) AS m
  FROM gbin
), cls AS (
  SELECT lang, source, CAST(count(*) AS HUGEINT) AS n_c
  FROM binned GROUP BY lang, source
), cbin AS (
  SELECT lang, source, bin, CAST(count(*) AS HUGEINT) AS c_n
  FROM binned GROUP BY lang, source, bin
), grid AS (
  SELECT c.lang, c.source, c.n_c, g.bin, g.cum_g,
         COALESCE(cb.c_n, 0) AS c_n
  FROM cls c CROSS JOIN gcum g
  LEFT JOIN cbin cb
    ON cb.lang = c.lang AND cb.source = c.source AND cb.bin = g.bin
), cums AS (
  SELECT lang, source, n_c, cum_g,
         sum(c_n) OVER (PARTITION BY lang, source ORDER BY bin) AS cum_c
  FROM grid
), dist AS (
  SELECT lang, source, n_c,
         sum(abs(cum_c * N - cum_g * n_c)) AS s
  FROM cums CROSS JOIN tot
  GROUP BY lang, source, n_c
)
SELECT lang, source, CAST(n_c AS BIGINT) AS class_size,
       CAST((s * 1000000) // (greatest(m - 1, 1) * n_c * N) AS BIGINT)
         AS t_ppm,
       (s * 1000000) // (greatest(m - 1, 1) * n_c * N) <= 200000 AS t_close
FROM dist CROSS JOIN tot
ORDER BY lang, source
"""
register(t_closeness_documents, oracle=T_CLOSENESS_SQL)


def autocorr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags
    1..24 h -- the seasonality detector behind traffic forecasting and
    anomaly baselines (a strong lag-24 peak = daily cycle).

    Exact integer ppm with NO mean subtraction in floats: with
    S = sum(x), n = hours, multiplying the centered estimator through
    by n^2 gives

        acf_ppm(k) = 1e6 * sum_t (n*x_t - S)(n*x_{t+k} - S)
                     div sum_t (n*x_t - S)^2

    where the numerator runs over observed hour pairs exactly k hours
    apart and the denominator over all observed hours.  n*x ~ 1e14 at
    warehouse scale, its square ~1e28: products are formed in
    DECIMAL(38,0) (DuckDB: HUGEINT), per the cast-before-multiply
    discipline.  Missing hours simply contribute no pair (identical
    rule in both engines).

    Scale: ONE aggregate collapses the event log to the hourly grid --
    bounded by the time range, not data size (26 M rows for 3000
    years) -- and the 24-lag self-join runs on that grid."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias(
            "hh"
        )
    ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("x"))
    tot = hourly.agg(
        F.sum("x").cast("decimal(38,0)").alias("S"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    centered = hourly.crossJoin(F.broadcast(tot)).select(
        "hh", (F.col("n") * F.col("x") - F.col("S")).alias("c")
    )
    den = centered.agg(
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("den")
    )
    lags = spark.range(1, 25).select(F.col("id").cast("long").alias("lag"))
    l, r = centered.alias("l"), centered.alias("r")
    pairs = l.crossJoin(F.broadcast(lags)).join(
        r, F.col("r.hh") == F.col("l.hh") + F.col("lag")
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("l.c") * F.col("r.c"))
            .cast("decimal(38,0)")
            .alias("num"),
        )
        .crossJoin(F.broadcast(den))
        .where(F.col("den") > 0)
        .select(
            "lag",
            "n_pairs",
            F.expr("CAST((num * 1000000) div den AS BIGINT)").alias(
                "acf_ppm"
            ),
        )
        .orderBy("lag")
    )


AUTOCORR_SQL = r"""
WITH hourly AS (
  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hh,
         CAST(count(*) AS HUGEINT) AS x
  FROM events GROUP BY 1
), tot AS (
  SELECT CAST(sum(x) AS HUGEINT) AS S, CAST(count(*) AS HUGEINT) AS n
  FROM hourly
), centered AS (
  SELECT hh, n * x - S AS c FROM hourly CROSS JOIN tot
), den AS (
  SELECT sum(c * c) AS den FROM centered
), lags AS (
  SELECT CAST(k AS BIGINT) AS lag FROM generate_series(1, 24) t(k)
), pairs AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         sum(l.c * r.c) AS num
  FROM lags JOIN centered l ON true
  JOIN centered r ON r.hh = l.hh + lag
  GROUP BY lag
)
SELECT lag, n_pairs,
       CAST((num * 1000000) // den AS BIGINT) AS acf_ppm
FROM pairs CROSS JOIN den
WHERE den > 0
ORDER BY lag
"""
register(autocorr_events, oracle=AUTOCORR_SQL)


def degree_assortativity_users(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Degree assortativity of the user co-occurrence graph: the
    Pearson correlation between the degrees at the two ends of each
    edge -- positive means hubs link to hubs (community structure),
    negative means hubs link to leaves (star/broadcast patterns, the
    bot-ring signature).  Third metric over the SAME staged co-event
    graph as the triangle census and clustering coefficient
    (``edges=`` accepts the ``co_event_edges_users`` frame).

    Exactness: over the symmetrized edge list both degree marginals
    are identical, so Pearson reduces to the SQRT-FREE rational

        r = (M*Sxy - Sx^2) / (M*Sxx - Sx^2)

    published as integer ppm; products of degree sums reach ~1e24 on
    a billion-edge graph, so every term is formed in DECIMAL(38,0)
    (DuckDB: HUGEINT).

    Scale: degrees are one aggregate over the (persisted) edge list;
    the stats are one aggregate over 2|E| rows; output is one row."""
    if edges is None:
        edges = _co_event_edges(spark, sf_dir)
    directed = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    deg = directed.groupBy("src").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("d")
    )
    joined = (
        directed.join(deg.withColumnRenamed("src", "s2"),
                      F.col("src") == F.col("s2"))
        .select("src", "dst", F.col("d").alias("dx"))
        .join(
            deg.select(F.col("src").alias("d2"), F.col("d").alias("dy")),
            F.col("dst") == F.col("d2"),
        )
        .select("dx", "dy")
    )
    stats = joined.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("M"),
        F.sum("dx").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("decimal(38,0)").alias("sxy"),
    )
    return stats.select(
        F.expr("CAST(M div 2 AS BIGINT)").alias("n_edges"),
        F.expr(
            "CAST(CASE WHEN M * sxx - sx * sx > 0 THEN "
            "((M * sxy - sx * sx) * 1000000) div (M * sxx - sx * sx) "
            "ELSE 0 END AS BIGINT)"
        ).alias("assortativity_ppm"),
    )


DEGREE_ASSORTATIVITY_SQL = r"""
WITH b0 AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS bh
  FROM events
), b AS (
  SELECT user_id, event_type, bh
  FROM (SELECT *, count(*) OVER (PARTITION BY event_type, bh) AS bsize
        FROM b0)
  WHERE bsize <= 1000
), prs AS (
  SELECT l.user_id AS u, r.user_id AS v, count(*) AS n_shared
  FROM b l JOIN b r
    ON l.event_type = r.event_type AND l.bh = r.bh
   AND l.user_id < r.user_id
  GROUP BY l.user_id, r.user_id
), e AS (
  SELECT u, v FROM prs WHERE n_shared >= 2
), directed AS (
  SELECT u AS src, v AS dst FROM e
  UNION ALL
  SELECT v AS src, u AS dst FROM e
), deg AS (
  SELECT src, CAST(count(*) AS HUGEINT) AS d FROM directed GROUP BY src
), joined AS (
  SELECT a.d AS dx, bb.d AS dy
  FROM directed t
  JOIN deg a ON a.src = t.src
  JOIN deg bb ON bb.src = t.dst
), stats AS (
  SELECT CAST(count(*) AS HUGEINT) AS M,
         sum(dx) AS sx, sum(dx * dx) AS sxx, sum(dx * dy) AS sxy
  FROM joined
)
SELECT CAST(M // 2 AS BIGINT) AS n_edges,
       CAST(CASE WHEN M * sxx - sx * sx > 0 THEN
              ((M * sxy - sx * sx) * 1000000) // (M * sxx - sx * sx)
            ELSE 0 END AS BIGINT) AS assortativity_ppm
FROM stats
"""
register(degree_assortativity_users, oracle=DEGREE_ASSORTATIVITY_SQL)


def join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK fan-out audit across the star schema's six edges: per edge,
    child rows (non-null FK), distinct keys, the heaviest key's child
    count, mean fan-out in milli, and the top key's share in ppm --
    the pre-join skew census a planner (or a human sizing a shuffle)
    reads BEFORE running the join that referential_integrity_audit has
    validated.  A top-share spike says 'salt this key' (cf.
    salted_skew_join_events for the treatment).

    Scale: per edge one (fk)-keyed aggregate then one tiny rollup --
    the same shuffle the later join would need anyway, nothing
    quadratic; six edges union for free.  Counts cast to
    DECIMAL(38,0) before the *1000/*1e6 scalings (1e12 children x 1e6
    brushes int64's ceiling)."""
    edges = [
        ("customer.c_nationkey->nation", "customer", "c_nationkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey"),
    ]
    out = None
    for name, child, fk in edges:
        c = _t(spark, sf_dir, child)
        per_key = (
            c.where(F.col(fk).isNotNull())
            .groupBy(F.col(fk).alias("k"))
            .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"))
        )
        one = per_key.agg(
            F.lit(name).alias("edge"),
            F.sum("cnt").cast("decimal(38,0)").alias("n_children"),
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n_keys"),
            F.max("cnt").cast("decimal(38,0)").alias("max_per_key"),
        ).select(
            "edge",
            F.col("n_children").cast("long").alias("n_children"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("max_per_key").cast("long").alias("max_per_key"),
            F.expr("CAST((n_children * 1000) div n_keys AS BIGINT)").alias(
                "avg_fanout_milli"
            ),
            F.expr(
                "CAST((max_per_key * 1000000) div n_children AS BIGINT)"
            ).alias("top_key_share_ppm"),
        )
        out = one if out is None else out.unionAll(one)
    return out.orderBy("edge")


JOIN_FANOUT_SQL = r"""
WITH per AS (
  SELECT edge, CAST(sum(cnt) AS HUGEINT) AS n_children,
         CAST(count(*) AS HUGEINT) AS n_keys,
         CAST(max(cnt) AS HUGEINT) AS max_per_key
  FROM (
    SELECT 'customer.c_nationkey->nation' AS edge, c_nationkey AS k,
           count(*) AS cnt
    FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 2
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders', l_orderkey, count(*)
    FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 2
    UNION ALL
    SELECT 'lineitem.l_partkey->part', l_partkey, count(*)
    FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 2
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier', l_suppkey, count(*)
    FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 2
    UNION ALL
    SELECT 'orders.o_custkey->customer', o_custkey, count(*)
    FROM orders WHERE o_custkey IS NOT NULL GROUP BY 2
    UNION ALL
    SELECT 'supplier.s_nationkey->nation', s_nationkey, count(*)
    FROM supplier WHERE s_nationkey IS NOT NULL GROUP BY 2
  )
  GROUP BY edge
)
SELECT edge, CAST(n_children AS BIGINT) AS n_children,
       CAST(n_keys AS BIGINT) AS n_keys,
       CAST(max_per_key AS BIGINT) AS max_per_key,
       CAST((n_children * 1000) // n_keys AS BIGINT) AS avg_fanout_milli,
       CAST((max_per_key * 1000000) // n_children AS BIGINT)
         AS top_key_share_ppm
FROM per
ORDER BY edge
"""
register(join_fanout_audit, oracle=JOIN_FANOUT_SQL)


def interarrival_histogram_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inter-arrival-time histogram: per-user gaps between consecutive
    events (ordered by ts, event_id), bucketed on a log2 scale --
    bucket 0 is a 0-second gap, bucket b covers [2^(b-1), 2^b)
    seconds -- the burstiness profile behind rate limiting, bot
    screens, and session-timeout tuning (sessionize_events' 1800 s
    gap sits where this histogram's mass splits).

    Exactness: gaps are computed on integer MICROseconds then floored
    to whole seconds once (floor(a) - floor(b) != floor(a-b) on
    sub-second timestamps -- both engines difference first); the
    bucket is length(bin(gap)) (= floor(log2)+1), a string-length
    identity both engines share, never a float log.

    Scale: one user-partitioned window (lag) over the log, then a
    ~40-group aggregate -- no global sort anywhere."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select("user_id", "ts", "event_id",
                 F.unix_micros("ts").alias("tus"))
        .withColumn("prev", F.lag("tus").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            F.expr("CAST((tus - prev) div 1000000 AS BIGINT)").alias("gap_s")
        )
    )
    return (
        gaps.select(
            F.when(F.col("gap_s") <= 0, F.lit(0))
            .otherwise(F.length(F.bin("gap_s")))
            .cast("long")
            .alias("bucket"),
            "gap_s",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
        .orderBy("bucket")
    )


INTERARRIVAL_SQL = r"""
WITH gaps AS (
  SELECT (epoch_us(ts)
          - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)) // 1000000
         AS gap_s
  FROM events
)
SELECT CASE WHEN gap_s <= 0 THEN 0
            ELSE length(bin(gap_s)) END AS bucket,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s
FROM gaps
WHERE gap_s IS NOT NULL
GROUP BY 1
ORDER BY bucket
"""
register(interarrival_histogram_events, oracle=INTERARRIVAL_SQL)


def monotonic_violations_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Out-of-order ingestion audit: within each customer's order
    stream (ordered by o_orderkey -- the ingestion sequence), count
    consecutive pairs where o_orderdate moves BACKWARD, grouped by the
    violating order's priority -- the data-quality screen that
    separates 'late-arriving data' (expected, handled by watermarks)
    from 'broken upstream ordering' (not).  Publishes violation rate
    in ppm per priority class.

    Exactness: pair and violation counts are exact integers; the rate
    is one integer division with counts cast to DECIMAL(38,0) before
    the 1e6 scaling.  Scale: one customer-partitioned window (lag)
    over orders, then a 5-group aggregate."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    pairs = (
        o.select("o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority")
        .withColumn("prev_d", F.lag("o_orderdate").over(w))
        .where(F.col("prev_d").isNotNull())
    )
    return (
        pairs.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n_pairs"),
            F.sum((F.col("o_orderdate") < F.col("prev_d")).cast("int"))
            .cast("decimal(38,0)")
            .alias("n_violations"),
        )
        .select(
            "o_orderpriority",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_violations").cast("long").alias("n_violations"),
            F.expr(
                "CAST((n_violations * 1000000) div n_pairs AS BIGINT)"
            ).alias("violation_ppm"),
        )
        .orderBy("o_orderpriority")
    )


MONOTONIC_VIOLATIONS_SQL = r"""
WITH pairs AS (
  SELECT o_orderpriority, o_orderdate,
         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey) AS prev_d
  FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN o_orderdate < prev_d THEN 1 ELSE 0 END)
            AS BIGINT) AS n_violations,
       CAST((CAST(sum(CASE WHEN o_orderdate < prev_d THEN 1 ELSE 0 END)
                  AS HUGEINT) * 1000000)
            // CAST(count(*) AS HUGEINT) AS BIGINT) AS violation_ppm
FROM pairs
WHERE prev_d IS NOT NULL
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
register(monotonic_violations_orders, oracle=MONOTONIC_VIOLATIONS_SQL)


def trimmed_mean_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed mean of line-item price: drop the bottom and
    top decile BY GLOBAL RANK (total order: price, orderkey,
    linenumber) and average the middle 80% -- the robust center that
    survives the fat tails MAD/IQR screens only flag.  One row:
    total rows, kept rows, kept sum in cents, mean in milli-cents.

    Exactness: prices become integer cents once (round(p*100), the
    house money convention); rank boundaries are integer (n div 10);
    the mean is one integer division with the sum in DECIMAL(38,0)
    (cents x 1e12 rows x1000 is past int64) -- and ``sum_cents`` is
    PUBLISHED wide too, as the decimal's exact string form: a BIGINT
    publish would silently null in Spark's non-ANSI overflow cast
    (while DuckDB raises on HUGEINT->BIGINT) exactly at the 1e12-row
    scale the query claims to support.  String rather than decimal
    because DuckDB hands DECIMAL(38,0) to pandas as float64, which
    breaks the cross-engine value hash; the digits string is exact
    and hash-stable in both engines.

    Scale: the global rank is ``functions.scan.global_row_number`` --
    one range shuffle, partition-local sorts, closed-form offsets --
    never a single-task ROW_NUMBER window; everything after is one
    aggregate.  ``n_total`` rides the rank pass's offset broadcast
    (``total_col``) instead of a second full scan of lineitem."""
    from ..functions.scan import global_row_number

    li = _t(spark, sf_dir, "lineitem")
    cents = li.select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = global_row_number(
        cents,
        ["cents", "l_orderkey", "l_linenumber"],
        out_col="rn",
        total_col="n_total",
    )
    kept = ranked.where(
        (F.col("rn") > F.expr("n_total div 10"))
        & (F.col("rn") <= F.expr("n_total - n_total div 10"))
    )
    return kept.groupBy("n_total").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum(F.col("cents").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sum_cents"),
    ).select(
        "n_total",
        "n_kept",
        F.col("sum_cents").cast("decimal(38,0)").cast("string").alias("sum_cents"),
        F.expr(
            "CAST((sum_cents * 1000) div n_kept AS BIGINT)"
        ).alias("mean_millicents"),
    )


TRIMMED_MEAN_SQL = r"""
WITH ranked AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         row_number() OVER (
           ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
                    l_orderkey, l_linenumber) AS rn
  FROM lineitem
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM ranked
)
SELECT n_total,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(CAST(cents AS HUGEINT)) AS VARCHAR) AS sum_cents,
       CAST((sum(CAST(cents AS HUGEINT)) * 1000)
            // CAST(count(*) AS HUGEINT) AS BIGINT) AS mean_millicents
FROM ranked CROSS JOIN tot
WHERE rn > n_total // 10 AND rn <= n_total - n_total // 10
GROUP BY n_total
"""
register(trimmed_mean_lineitem, oracle=TRIMMED_MEAN_SQL)


def mutual_nn_pairs_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual nearest-neighbor pairs: (a, b) where b is a's exact
    cosine top-1 neighbor AND a is b's -- the reciprocal-best-match
    criterion used for cross-source record alignment and
    high-confidence near-dup pairing (a one-sided top-1 match is
    often a hub vector; mutuality filters hubs out).

    Exact all-pairs variant, the oracle-checkable sibling of the
    bucketed/LSH production path (same pattern as
    ``dedup_embedding_allpairs``): cosine is computed ONCE per
    unordered pair (u < v self-join, the symmetric closure is a
    projection), each side's top-1 is a per-node window with a
    deterministic neighbor-id tie-break, and mutuality is one
    equi-join of the top-1 list against its own transpose.

    Scale: the u<v join is quadratic BY CONTRACT (exactness); at
    corpus scale the same top-1-window + transpose-join construction
    runs over LSH/IVF candidate pairs instead (functions.similarity),
    where it is linear in candidates.  The pair frame is persisted:
    it feeds the window AND the final cosine lookup."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        _persist_tracked,
        _spread,
    )
    from nearscan_kafka_streams_spark.functions.similarity import (
        dot_expr,
        norm_expr,
    )

    # _spread: the embeddings file arrives as ONE scan split at test
    # scale, which would serialize the quadratic cosine stage on a
    # single task (measured 16.7 s at sf0.1; ~3 s spread); no-op at
    # scale where the scan has many splits.
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    # constant bucket key keeps the exact all-pairs join HASH-join
    # shaped (one bucket) instead of BroadcastNestedLoopJoin -- the
    # same zero-bits trick dedup_embedding_allpairs uses; the LSH/IVF
    # production path replaces _b with real bucket ids and the plan
    # shape is then already right
    sig = emb.select(
        "vec_id",
        "embedding",
        F.lit(0).alias("_b"),
        norm_expr(F.col("embedding")).alias("_n"),
    )
    l, r = sig.alias("l"), sig.alias("r")
    pairs = _persist_tracked(
        l.join(
            r,
            (F.col("l._b") == F.col("r._b"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        ).select(
            F.col("l.vec_id").alias("a"),
            F.col("r.vec_id").alias("b"),
            (
                dot_expr(F.col("l.embedding"), F.col("r.embedding"))
                / (F.col("l._n") * F.col("r._n"))
            ).alias("cosine"),
        )
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "cosine"
        )
    )
    # rank on the cosine QUANTIZED to 9 dp: full-precision doubles
    # differ by an ulp between Spark's fold-dot/norm and DuckDB's
    # list_cosine_similarity, and an ulp at a rank-1 near-tie flips
    # the mutual pair set (round-8 ADVICE); sub-1e-9 ties fall to the
    # deterministic b-asc tie-break in both engines instead
    w = Window.partitionBy("a").orderBy(
        F.round(F.col("cosine"), 9).desc(), F.col("b").asc()
    )
    nn = (
        sym.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("a", "b", "cosine")
    )
    m1, m2 = nn.alias("m1"), nn.alias("m2")
    return (
        m1.join(
            m2,
            (F.col("m1.a") == F.col("m2.b"))
            & (F.col("m1.b") == F.col("m2.a")),
        )
        .where(F.col("m1.a") < F.col("m1.b"))
        .select(
            F.col("m1.a").alias("left_id"),
            F.col("m1.b").alias("right_id"),
            F.round(F.col("m1.cosine"), 6).alias("cosine"),
        )
        .orderBy("left_id")
    )


MUTUAL_NN_SQL = r"""
WITH pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
), sym AS (
  SELECT a, b, cosine FROM pairs
  UNION ALL
  SELECT b AS a, a AS b, cosine FROM pairs
), nn AS (
  SELECT a, b, cosine,
         row_number() OVER (
           PARTITION BY a ORDER BY round(cosine, 9) DESC, b ASC) AS rk
  FROM sym
)
SELECT m1.a AS left_id, m1.b AS right_id, round(m1.cosine, 6) AS cosine
FROM nn m1 JOIN nn m2 ON m1.a = m2.b AND m1.b = m2.a
WHERE m1.rk = 1 AND m2.rk = 1 AND m1.a < m1.b
ORDER BY left_id
"""
register(mutual_nn_pairs_embeddings, oracle=MUTUAL_NN_SQL)


def k_core_peel_users(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    rounds: int = 6,
) -> DataFrame:
    """k-core peeling of the user co-occurrence graph: ``rounds``
    rounds of "drop every node whose current degree < k (and its
    edges)", reporting per round how many nodes fell, and the node
    and edge counts of the surviving subgraph -- the standard dense-
    community / spam-ring core extraction (the r-th row is the graph
    after r peels; once a row repeats, the k-core is reached).

    k is DATA-DEPENDENT but exact: k = (3 * n_edges) div (2 * n_nodes)
    of the initial graph -- three quarters of the mean degree, in pure
    integer arithmetic -- so the peel bites at every scale factor: the
    co-event graph's density grows with sf, and any fixed k is either
    vacuous (dense graph, nothing below k) or total (sparse graph,
    everything collapses).  Measured at sf0.01: removals cascade
    10 -> 6 -> 2 -> 0 with a 132-node core surviving; k at the mean
    or above instead collapses the whole graph by round 2 (survivors
    lose their edges to peeled neighbors).

    The round count is PART OF THE SEMANTICS (both engines run
    exactly ``rounds`` peels; converged rounds remove 0), which keeps
    the query a bounded DAG -- no driver-side fixpoint test, no
    collect.  A node "remains" while it still has an edge, so counts
    derive purely from the edge frame.  Each round's edge frame is
    cut from its lineage (``_cut_lineage``, the iterative-algorithm
    discipline connected_components follows): every round references
    the previous frame ~5x (degree agg, two semi joins, node/edge
    counts), so an uncut plan grows 5^rounds and stalls the driver in
    analysis before any data moves.

    Scale: each round is one degree aggregate over the (small) edge
    list plus two semi joins -- never touches the event log after the
    shared ``_co_event_edges`` build (bucket-capped pair generation);
    the edge frame shrinks monotonically.  ``edges=`` accepts the
    staged ``co_event_edges_users`` frame (same seam as the triangle
    family)."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        _cut_lineage,
        _persist_tracked,
    )

    if edges is None:
        cur = _co_event_edges(spark, sf_dir)
    else:
        cur = _persist_tracked(edges.select("u", "v"))

    def nodes_of(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .distinct()
        )

    kval = (
        cur.agg(F.count(F.lit(1)).alias("ne"))
        .crossJoin(
            nodes_of(cur).agg(F.count(F.lit(1)).alias("nn"))
        )
        # greatest(nn, 1): an empty thresholded edge set must yield
        # k=0 in BOTH engines, not Spark's non-ANSI NULL vs DuckDB's
        # division-by-zero error (round-8 ADVICE)
        .select(
            F.expr(
                "CAST((3 * ne) div (2 * greatest(nn, 1)) AS BIGINT)"
            ).alias("kk")
        )
    )
    kval = _persist_tracked(kval)
    out = None
    for r in range(1, rounds + 1):
        n_prev = nodes_of(cur).agg(
            F.count(F.lit(1)).cast("long").alias("n_prev")
        )
        keep = _persist_tracked(
            cur.select(F.col("u").alias("node"))
            .unionByName(cur.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .crossJoin(F.broadcast(kval))
            .where(F.col("deg") >= F.col("kk"))
            .select("node")
        )
        nxt = _cut_lineage(
            cur.join(
                keep.select(F.col("node").alias("u")), "u", "left_semi"
            )
            .join(keep.select(F.col("node").alias("v")), "v", "left_semi")
            .select("u", "v")
        )
        stats = (
            nodes_of(nxt)
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .crossJoin(
                nxt.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            )
            .crossJoin(n_prev)
        )
        row = stats.crossJoin(F.broadcast(kval)).select(
            F.lit(r).cast("long").alias("round"),
            F.col("kk").cast("long").alias("k"),
            (F.col("n_prev") - F.col("n_nodes"))
            .cast("long")
            .alias("n_removed"),
            "n_nodes",
            "n_edges",
        )
        out = row if out is None else out.unionAll(row)
        cur = nxt
    return out.orderBy("round")


def _k_core_round_cte(r: int) -> str:
    # every CTE is MATERIALIZED: each round references the previous
    # round's edge set three times (degree agg, filter, node count),
    # and DuckDB's default CTE inlining makes the unrolled 6-round
    # chain EXPONENTIAL in evaluation (measured ~10x per extra round;
    # 3 rounds = 85 s at sf0.01).  Materialization makes it linear.
    p = r - 1
    return f"""d{r} AS MATERIALIZED (
  SELECT node, count(*) AS deg
  FROM (SELECT u AS node FROM e{p} UNION ALL SELECT v AS node FROM e{p})
  GROUP BY node
),
k{r} AS MATERIALIZED (
  SELECT node FROM d{r} WHERE deg >= (SELECT k FROM kk)
),
e{r} AS MATERIALIZED (
  SELECT u, v FROM e{p}
  WHERE u IN (SELECT node FROM k{r}) AND v IN (SELECT node FROM k{r})
),
n{r} AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM (SELECT u AS node FROM e{r} UNION SELECT v AS node FROM e{r})
)"""


def _k_core_sql(rounds: int = 6) -> str:
    base = """b0 AS MATERIALIZED (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS bh
  FROM events
), b AS MATERIALIZED (
  SELECT user_id, event_type, bh
  FROM (SELECT *, count(*) OVER (PARTITION BY event_type, bh) AS bsize
        FROM b0)
  WHERE bsize <= 1000
), p0 AS MATERIALIZED (
  SELECT l.user_id AS u, r.user_id AS v, count(*) AS n_shared
  FROM b l JOIN b r
    ON l.event_type = r.event_type AND l.bh = r.bh
   AND l.user_id < r.user_id
  GROUP BY l.user_id, r.user_id
), e0 AS MATERIALIZED (SELECT u, v FROM p0 WHERE n_shared >= 2),
n0 AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM (SELECT u AS node FROM e0 UNION SELECT v AS node FROM e0)
),
kk AS MATERIALIZED (
  SELECT CAST((3 * (SELECT count(*) FROM e0))
              // (2 * greatest((SELECT n FROM n0), 1))
              AS BIGINT) AS k
)"""
    ctes = [base] + [_k_core_round_cte(r) for r in range(1, rounds + 1)]
    legs = [
        f"""SELECT CAST({r} AS BIGINT) AS round,
       (SELECT k FROM kk) AS k,
       (SELECT n FROM n{r - 1}) - (SELECT n FROM n{r}) AS n_removed,
       (SELECT n FROM n{r}) AS n_nodes,
       CAST((SELECT count(*) FROM e{r}) AS BIGINT) AS n_edges"""
        for r in range(1, rounds + 1)
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(legs)
        + "\nORDER BY round"
    )


K_CORE_SQL = _k_core_sql()
register(k_core_peel_users, oracle=K_CORE_SQL)


_PRUNE_Z = (
    "((bp div 1) % 2) * 2 + ((bs div 1) % 2) * 1 + "
    "((bp div 2) % 2) * 8 + ((bs div 2) % 2) * 4 + "
    "((bp div 4) % 2) * 32 + ((bs div 4) % 2) * 16 + "
    "((bp div 8) % 2) * 128 + ((bs div 8) % 2) * 64"
)


def scan_pruning_audit_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zone-map pruning audit: how many of 64 equal-row file buckets a
    min/max footer would SKIP for a (l_partkey band, l_suppkey band)
    predicate pair, under three physical layouts of the same rows --
    natural arrival order, single-column sort on l_partkey, and the
    Z-order interleave of (l_partkey, l_suppkey).  This is the
    decision table behind ``zorder_layout_lineitem``'s layout stats:
    single-column sort prunes its own dimension perfectly and the
    other not at all; Z-order prunes both; natural order neither.
    Output: (layout, predicate, n_buckets, n_pruned, rows_skipped).

    Exactness: band bounds are integer fractions of the column maxima
    (mp div 4 .. mp div 2); bucket = ((rn - 1) * 64) div n_total over
    a total-order global rank; everything integer.

    Scale: each layout's rank is ``functions.scan.global_row_number``
    (one range shuffle, partition-local sorts -- never a single-task
    ROW_NUMBER), zone maps are one 64-group aggregate with map-side
    combine, and the verdict reads the 64-row zone table only.  The
    shared projection (keys + z-interleave) is persisted ONCE and fed
    to all three layout rankings: previously each layout's range
    shuffle re-read the parquet scan and re-derived the bands/z --
    three full input scans for one audit (guide s2.4/s5: share one
    materialization across same-source passes); the band columns bp/bs
    exist only to build z and are dropped before the persist."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        _persist_tracked,
    )
    from nearscan_kafka_streams_spark.functions.scan import (
        global_row_number,
    )

    li = _t(spark, sf_dir, "lineitem")
    maxima = li.agg(
        F.max("l_partkey").alias("mp"),
        F.max("l_suppkey").alias("ms"),
        F.count(F.lit(1)).alias("n_total"),
    )
    base = _persist_tracked(
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .crossJoin(F.broadcast(maxima))
        .select(
            "*",
            F.expr("CAST(l_partkey * 16 div (mp + 1) AS BIGINT)").alias(
                "bp"
            ),
            F.expr("CAST(l_suppkey * 16 div (ms + 1) AS BIGINT)").alias(
                "bs"
            ),
        )
        .withColumn("z", F.expr(f"CAST({_PRUNE_Z} AS BIGINT)"))
        .drop("bp", "bs")
    )
    layouts = [
        ("natural", ["l_orderkey", "l_linenumber"]),
        ("part_sorted", ["l_partkey", "l_orderkey", "l_linenumber"]),
        ("zorder", ["z", "l_orderkey", "l_linenumber"]),
    ]
    out = None
    for layout, order_cols in layouts:
        ranked = global_row_number(base, order_cols, out_col="rn")
        zone = (
            ranked.withColumn(
                "bucket", F.expr("CAST((rn - 1) * 64 div n_total AS BIGINT)")
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("l_partkey").alias("min_part"),
                F.max("l_partkey").alias("max_part"),
                F.min("l_suppkey").alias("min_supp"),
                F.max("l_suppkey").alias("max_supp"),
                F.max("mp").alias("mp"),
                F.max("ms").alias("ms"),
            )
        )
        part_pruned = F.expr(
            "max_part < mp div 4 OR min_part > mp div 2"
        )
        supp_pruned = F.expr(
            "max_supp < ms div 4 OR min_supp > ms div 2"
        )
        stats = zone.agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(F.when(part_pruned, 1).otherwise(0))
            .cast("long")
            .alias("np_part"),
            F.sum(F.when(part_pruned, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rs_part"),
            F.sum(F.when(supp_pruned, 1).otherwise(0))
            .cast("long")
            .alias("np_supp"),
            F.sum(F.when(supp_pruned, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rs_supp"),
        )
        for pred, np_col, rs_col in (
            ("part_band", "np_part", "rs_part"),
            ("supp_band", "np_supp", "rs_supp"),
        ):
            row = stats.select(
                F.lit(layout).alias("layout"),
                F.lit(pred).alias("predicate"),
                "n_buckets",
                F.col(np_col).alias("n_pruned"),
                F.col(rs_col).alias("rows_skipped"),
            )
            out = row if out is None else out.unionAll(row)
    return out.orderBy("layout", "predicate")


def _prune_layout_sql(layout: str, order_by: str) -> str:
    z_sql = _PRUNE_Z.replace("div", "//")
    return f"""zone_{layout} AS (
  SELECT (rn - 1) * 64 // n_total AS bucket,
         CAST(count(*) AS BIGINT) AS n_rows,
         min(l_partkey) AS min_part, max(l_partkey) AS max_part,
         min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp,
         max(mp) AS mp, max(ms) AS ms
  FROM (SELECT *, row_number() OVER (ORDER BY {order_by}) AS rn
        FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                     mp, ms, n_total,
                     CAST({z_sql} AS BIGINT) AS z
              FROM (SELECT l_orderkey, l_linenumber, l_partkey,
                           l_suppkey, mp, ms, n_total,
                           CAST(l_partkey * 16 // (mp + 1) AS BIGINT) AS bp,
                           CAST(l_suppkey * 16 // (ms + 1) AS BIGINT) AS bs
                    FROM lineitem CROSS JOIN maxima)))
  GROUP BY bucket
),
stat_{layout} AS (
  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(CASE WHEN max_part < mp // 4 OR min_part > mp // 2
                       THEN 1 ELSE 0 END) AS BIGINT) AS np_part,
         CAST(sum(CASE WHEN max_part < mp // 4 OR min_part > mp // 2
                       THEN n_rows ELSE 0 END) AS BIGINT) AS rs_part,
         CAST(sum(CASE WHEN max_supp < ms // 4 OR min_supp > ms // 2
                       THEN 1 ELSE 0 END) AS BIGINT) AS np_supp,
         CAST(sum(CASE WHEN max_supp < ms // 4 OR min_supp > ms // 2
                       THEN n_rows ELSE 0 END) AS BIGINT) AS rs_supp
  FROM zone_{layout}
)"""


def _scan_pruning_sql() -> str:
    layouts = [
        ("natural", "l_orderkey, l_linenumber"),
        ("part_sorted", "l_partkey, l_orderkey, l_linenumber"),
        ("zorder", "z, l_orderkey, l_linenumber"),
    ]
    ctes = [
        """maxima AS (
  SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms,
         CAST(count(*) AS BIGINT) AS n_total
  FROM lineitem
)"""
    ] + [_prune_layout_sql(name, ob) for name, ob in layouts]
    legs = []
    for name, _ in layouts:
        for pred, np_col, rs_col in (
            ("part_band", "np_part", "rs_part"),
            ("supp_band", "np_supp", "rs_supp"),
        ):
            legs.append(
                f"""SELECT '{name}' AS layout, '{pred}' AS predicate,
       n_buckets, {np_col} AS n_pruned, {rs_col} AS rows_skipped
FROM stat_{name}"""
            )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(legs)
        + "\nORDER BY layout, predicate"
    )


SCAN_PRUNING_SQL = _scan_pruning_sql()
register(scan_pruning_audit_lineitem, oracle=SCAN_PRUNING_SQL)


def token_budget_waterfill_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Water-filling token-budget allocation across sources: given a
    global budget B (= half the corpus's tokens, data-dependent but
    exact), give every source min(its available tokens, waterline L)
    where L is the leveled fair share -- the standard mixture
    allocator when a pretraining recipe wants "equal shares, but a
    small source can't contribute more than it has" (complements the
    per-language fixed budget of ``mixture_budget_sample``).

    Exact closed form, no iteration: sort sources by availability
    ascending; source i is FULLY funded iff
    prefix(i-1) + avail_i * (S - i + 1) <= B (funding it to its full
    size leaves enough to level every later source at least as high);
    feasibility is monotone in i, so k = max feasible i, and the
    waterline for the S - k unfunded sources is
    L = (B - prefix(k)) div (S - k).  Pure integer arithmetic.

    Scale: the corpus collapses to ONE row per source (a hash
    aggregate with map-side combine) before any window; the ordering
    window runs over the #sources-sized grid (20 rows), the standard
    pre-collapsed-grid discipline."""
    from nearscan_kafka_streams_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("avail")
    )
    tot = per.agg(
        F.sum("avail").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("s_n"),
    ).select("*", F.expr("total div 2").alias("budget"))
    w = Window.orderBy("avail", "source")
    ranked = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("i", F.row_number().over(w).cast("long"))
        .withColumn("prefix", F.sum("avail").over(w))
        .withColumn(
            "feasible",
            F.expr("prefix - avail + avail * (s_n - i + 1) <= budget"),
        )
    )
    kk = ranked.agg(
        F.max(F.when(F.col("feasible"), F.col("i")).otherwise(0))
        .cast("long")
        .alias("k"),
        F.max(F.when(F.col("feasible"), F.col("prefix")).otherwise(0))
        .cast("long")
        .alias("prefix_k"),
    )
    return (
        ranked.crossJoin(F.broadcast(kk))
        .select(
            "source",
            "avail",
            F.expr(
                "CASE WHEN i <= k THEN avail "
                "WHEN s_n > k THEN (budget - prefix_k) div (s_n - k) "
                "ELSE 0 END"
            )
            .cast("long")
            .alias("allocated"),
            F.expr("i <= k").alias("fully_funded"),
        )
        .orderBy("source")
    )


WATERFILL_SQL = r"""
WITH per AS (
  SELECT source,
         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END) AS BIGINT) AS avail
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(avail) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS s_n,
         CAST(sum(avail) // 2 AS BIGINT) AS budget
  FROM per
), ranked AS (
  SELECT source, avail, total, s_n, budget,
         CAST(row_number() OVER (ORDER BY avail, source) AS BIGINT) AS i,
         CAST(sum(avail) OVER (ORDER BY avail, source) AS BIGINT) AS prefix
  FROM per CROSS JOIN tot
), feas AS (
  SELECT *, prefix - avail + avail * (s_n - i + 1) <= budget AS feasible
  FROM ranked
), kk AS (
  SELECT CAST(max(CASE WHEN feasible THEN i ELSE 0 END) AS BIGINT) AS k,
         CAST(max(CASE WHEN feasible THEN prefix ELSE 0 END) AS BIGINT)
           AS prefix_k
  FROM feas
)
SELECT source, avail,
       CAST(CASE WHEN i <= k THEN avail
                 WHEN s_n > k THEN (budget - prefix_k) // (s_n - k)
                 ELSE 0 END AS BIGINT) AS allocated,
       i <= k AS fully_funded
FROM feas CROSS JOIN kk
ORDER BY source
"""
register(token_budget_waterfill_sources, oracle=WATERFILL_SQL)


def boilerplate_prefix_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shared-opening-template census: documents whose first 8
    whitespace tokens are identical, grouped by that prefix -- the
    C4-style boilerplate/template detector (navigation chrome, cookie
    banners, licence headers, scraper templates all surface as
    high-count shared prefixes spanning many sources) that catches
    near-dups the whole-document fingerprint misses.

    Output: top-20 shared prefixes (>= 2 docs) with doc count,
    distinct-source span, and the smallest doc id as the inspection
    sample; deterministic (count desc, prefix asc) ordering.

    Scale: one projection computes the 8-token prefix per document
    (the prefix string, not the document, is the shuffle key and is
    bounded ~tens of bytes); one hash aggregate; top-20 via
    TakeOrdered.  No self-joins, no windows over the corpus."""
    d = _t(spark, sf_dir, "documents")
    arr = F.split(F.trim(F.col("text")), r"\s+")
    p = d.where(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        "source",
        F.concat_ws(" ", F.slice(arr, 1, 8)).alias("prefix"),
        F.size(arr).alias("nt"),
    )
    return (
        p.where(F.col("nt") >= 8)
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("sample_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("prefix"))
        .limit(20)
    )


def dedup_cluster_source_span(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Mirror-crawl detector: how many near-dup clusters span 1, 2, 3+
    DISTINCT sources -- a cluster confined to one source is internal
    re-posting, while clusters spanning many sources flag mirror
    sites / syndication the per-source exact-dup share
    (``duplicate_share_by_source``) cannot see (near-dups, and
    cross-source by construction).  Output per span width: cluster
    count, total docs involved, and the smallest component id as the
    inspection sample.

    Scale: connected components over the (tiny) exact Jaccard>=0.8
    edge frame (staged via ``edges=`` like the rest of the cluster
    family), ONE doc_id-keyed join against the (doc_id, source)
    projection, then two aggregates whose output is bounded by the
    number of distinct span widths (<= #sources)."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        connected_components,
    )

    if edges is None:
        edges = jaccard_edges_frame(spark, sf_dir)
    comp = connected_components(edges)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    per_cluster = (
        comp.join(docs, comp["node"] == docs["doc_id"])
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.count_distinct("source").alias("ns"),
        )
    )
    return (
        per_cluster.groupBy("ns")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("nd").cast("long").alias("n_docs"),
            F.min("component").cast("long").alias("sample_component"),
        )
        .select(
            F.col("ns").cast("long").alias("n_sources"),
            "n_clusters",
            "n_docs",
            "sample_component",
        )
        .orderBy("n_sources")
    )


CLUSTER_SOURCE_SPAN_SQL = r"""
WITH RECURSIVE g AS (
  SELECT doc_id,
         list_distinct([substring(t, i, 3)
                        for i in range(1, greatest(length(t) - 2, 1) + 1)]) AS grams
  FROM (SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents)
),
p AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
         length(list_intersect(a.grams, b.grams)) AS i,
         length(a.grams) AS la, length(b.grams) AS lb
  FROM g a JOIN g b ON a.doc_id < b.doc_id
),
e AS (
  SELECT left_id AS a, right_id AS b FROM p WHERE 5 * i >= 4 * (la + lb - i)
  UNION ALL
  SELECT right_id, left_id FROM p WHERE 5 * i >= 4 * (la + lb - i)
),
reach(node, label) AS (
  SELECT a, a FROM e
  UNION
  SELECT e.b, r.label FROM reach r JOIN e ON e.a = r.node
),
comp AS (
  SELECT node AS doc_id, min(label) AS component
  FROM reach GROUP BY node
),
per_cluster AS (
  SELECT component, count(*) AS nd, count(DISTINCT d.source) AS ns
  FROM comp JOIN documents d USING (doc_id)
  GROUP BY component
)
SELECT CAST(ns AS BIGINT) AS n_sources,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(nd) AS BIGINT) AS n_docs,
       CAST(min(component) AS BIGINT) AS sample_component
FROM per_cluster
GROUP BY ns
ORDER BY n_sources
"""
register(dedup_cluster_source_span, oracle=CLUSTER_SOURCE_SPAN_SQL)


BOILERPLATE_PREFIX_SQL = r"""
WITH p AS (
  SELECT doc_id, source,
         array_to_string(
           list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 8),
           ' ') AS prefix,
         len(regexp_split_to_array(trim(text), '\s+')) AS nt
  FROM documents
  WHERE length(trim(text)) > 0
)
SELECT prefix,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(min(doc_id) AS BIGINT) AS sample_doc_id
FROM p
WHERE nt >= 8
GROUP BY prefix
HAVING count(*) >= 2
ORDER BY n_docs DESC, prefix
LIMIT 20
"""
register(boilerplate_prefix_census, oracle=BOILERPLATE_PREFIX_SQL)


