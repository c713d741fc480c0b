"""Round-6 waves: skyline, graph communities, sequence mining,
attribution, string-distance dedup, drift/calibration statistics."""
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _t,
    register,
)
from .dedup import (  # noqa: F401
    jaccard_edges_frame,
)

# --------------------------------------------------------------------------
# round-6 second wave: skyline, graph communities, sequence mining,
# attribution, and string-distance dedup
# --------------------------------------------------------------------------


def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of orders maximizing BOTH
    o_totalprice and o_orderdate: an order is on the frontier iff no
    other order has price >= AND date >= with at least one strict.
    The multi-objective top-k primitive (best-effort candidate
    selection without a scalarized score).

    Scale shape: never the quadratic dominance anti-join.  Distinct
    prices aggregate to (price, max_date); dominance by a strictly
    HIGHER price reduces to a running max of date over prices
    descending.  That scan is distributed by bucketing prices
    (floor(price/10k)): the in-bucket running max is a window
    partitioned by bucket (parallel), and the cross-bucket carry-in
    is a running max over per-bucket maxima -- a frame with one row
    per bucket, the same distributed-prefix-scan shape as
    pack_training_sequences (scan.py:28).  Any price in a higher
    bucket is strictly greater than any price in a lower one, so
    carry-in + local running max == the global strictly-higher-price
    running max."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy("o_totalprice").agg(F.max("o_orderdate").alias("pmax"))
    g = g.withColumn(
        "bkt", F.floor(F.col("o_totalprice") / F.lit(10000.0))
    )
    wloc = (
        Window.partitionBy("bkt")
        .orderBy(F.col("o_totalprice").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g1 = g.withColumn("local_best", F.max("pmax").over(wloc))
    wbkt = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = (
        g.groupBy("bkt")
        .agg(F.max("pmax").alias("bmax"))
        .withColumn("carry", F.max("bmax").over(wbkt))
        .select("bkt", "carry")
    )
    # greatest() skips nulls; null best_higher == nothing strictly
    # pricier exists
    g2 = g1.join(carry, "bkt").withColumn(
        "best_higher", F.greatest("local_best", "carry")
    )
    return (
        o.join(
            g2.select("o_totalprice", "pmax", "best_higher"),
            "o_totalprice",
        )
        .where(
            (F.col("o_orderdate") == F.col("pmax"))
            & (
                F.col("best_higher").isNull()
                | (F.col("best_higher") < F.col("o_orderdate"))
            )
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )


PARETO_FRONTIER_SQL = r"""
WITH g AS (
  SELECT o_totalprice AS price, max(o_orderdate) AS pmax
  FROM orders GROUP BY 1
), g2 AS (
  SELECT price, pmax,
         max(pmax) OVER (ORDER BY price DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS best_higher
  FROM g
)
SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
FROM orders o JOIN g2 ON o.o_totalprice = g2.price
WHERE o.o_orderdate = g2.pmax
  AND (g2.best_higher IS NULL OR g2.best_higher < o.o_orderdate)
ORDER BY o.o_totalprice DESC, o.o_orderkey
"""
register(pareto_frontier_orders, oracle=PARETO_FRONTIER_SQL)


def label_propagation_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels on the user co-occurrence graph by THREE
    synchronous min-label propagation rounds: every node starts
    labelled with its own id; each round a node takes the min of its
    own label and its neighbors' labels.  Fixed round count makes the
    result deterministic and oracle-expressible (the fixpoint variant
    is the connected-components family, covered by dedup_clusters).

    Edges reuse the triangle_count construction -- users co-acting in
    the same (event_type, hour) bucket at least twice, bucket_cap
    guarding the quadratic pair blow-up (see triangle_count_users).

    Scale shape: each round is one equi-join edge->label plus a
    min-aggregate -- hash-partitioned on user id, no broadcast of the
    label frame needed since both sides shuffle on the same key; the
    edge list is persisted once and orders of magnitude smaller than
    the event log."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        _persist_tracked,
    )

    bucket_cap = 1000
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bh"),
    ).distinct()
    wcap = Window.partitionBy("event_type", "bh")
    # persisted: the pair self-join reads the capped membership twice
    b = _persist_tracked(
        b.withColumn("bsize", F.count(F.lit(1)).over(wcap))
        .where(F.col("bsize") <= bucket_cap)
        .drop("bsize")
    )
    l, r = b.alias("l"), b.alias("r")
    edges = _persist_tracked(
        l.join(
            r,
            (F.col("l.event_type") == F.col("r.event_type"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.user_id") < F.col("r.user_id")),
        )
        .groupBy(
            F.col("l.user_id").alias("u"), F.col("r.user_id").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .select("u", "v")
    )
    # self-loops fold "min of own and neighbors' labels" into ONE
    # aggregate, so each round references the label frame exactly
    # once -- Catalyst re-plans a derived frame per use, and the
    # two-reference least()-form doubles the physical plan every
    # iteration (2^rounds lineage blow-up, measured at 390 exchanges
    # for 3 rounds before this shape)
    sym = edges.select(
        F.col("u").alias("s"), F.col("v").alias("d")
    ).unionAll(edges.select(F.col("v").alias("s"), F.col("u").alias("d")))
    nodes = sym.select("s").distinct()
    symself = _persist_tracked(
        sym.unionAll(nodes.select("s", F.col("s").alias("d")))
    )
    lab = nodes.select(
        F.col("s").alias("user_id"), F.col("s").alias("label")
    )
    for _ in range(3):
        lab = (
            symself.alias("e")
            .join(lab.alias("nl"), F.col("e.d") == F.col("nl.user_id"))
            .groupBy(F.col("e.s").alias("user_id"))
            .agg(F.min("nl.label").alias("label"))
        )
    return lab.select(
        "user_id", F.col("label").cast("long").alias("label")
    ).orderBy("user_id")


LABEL_PROPAGATION_SQL = r"""
WITH b0 AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS bh
  FROM events
), b AS (
  SELECT user_id, event_type, bh FROM (
    SELECT *, count(*) OVER (PARTITION BY event_type, bh) AS bsize
    FROM b0
  ) WHERE bsize <= 1000
), edges AS (
  SELECT l.user_id AS u, r.user_id AS v
  FROM b l JOIN b r
    ON l.event_type = r.event_type AND l.bh = r.bh
   AND l.user_id < r.user_id
  GROUP BY 1, 2 HAVING count(*) >= 2
), sym AS (
  SELECT u AS s, v AS d FROM edges
  UNION ALL SELECT v, u FROM edges
), l0 AS (
  SELECT DISTINCT s AS user_id, s AS label FROM sym
), l1 AS (
  SELECT p.user_id, least(p.label, min(q.label)) AS label
  FROM l0 p JOIN sym e ON e.s = p.user_id JOIN l0 q ON q.user_id = e.d
  GROUP BY p.user_id, p.label
), l2 AS (
  SELECT p.user_id, least(p.label, min(q.label)) AS label
  FROM l1 p JOIN sym e ON e.s = p.user_id JOIN l1 q ON q.user_id = e.d
  GROUP BY p.user_id, p.label
), l3 AS (
  SELECT p.user_id, least(p.label, min(q.label)) AS label
  FROM l2 p JOIN sym e ON e.s = p.user_id JOIN l2 q ON q.user_id = e.d
  GROUP BY p.user_id, p.label
)
SELECT user_id, CAST(label AS BIGINT) AS label FROM l3 ORDER BY user_id
"""
register(label_propagation_users, oracle=LABEL_PROPAGATION_SQL)


def markov_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event-type
    sequences: for each (src, dst) pair, the transition count and the
    conditional probability P(dst | src) in exact integer parts-per-
    million (count * 1e6 div row_total) -- behavioral sequence mining
    (next-event prediction features, funnel leakage).

    Determinism: per-user ordering breaks timestamp ties by event_id
    in both engines.  Scale shape: one window partitioned by user_id
    (lead), one hash aggregate on (src, dst) -- cardinality bounded
    by |event_type|^2 -- and the per-src total via a window over that
    tiny aggregate, never a second scan of the log."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    t = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("dst", F.lead("event_type").over(w))
        .where(F.col("dst").isNotNull())
    )
    agg = t.groupBy(F.col("event_type").alias("src"), "dst").agg(
        F.count(F.lit(1)).alias("n")
    )
    wsrc = Window.partitionBy("src")
    return (
        agg.withColumn("src_total", F.sum("n").over(wsrc))
        .select(
            "src",
            "dst",
            F.col("n").cast("long").alias("n_trans"),
            F.expr("(n * 1000000) div src_total")
            .cast("long")
            .alias("ppm"),
        )
        .orderBy("src", "dst")
    )


MARKOV_TRANSITIONS_SQL = r"""
WITH t AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS dst
  FROM events
), a AS (
  SELECT src, dst, count(*) AS n
  FROM t WHERE dst IS NOT NULL GROUP BY 1, 2
)
SELECT src, dst, CAST(n AS BIGINT) AS n_trans,
       CAST((n * 1000000) // sum(n) OVER (PARTITION BY src) AS BIGINT)
         AS ppm
FROM a ORDER BY src, dst
"""
register(markov_transitions_events, oracle=MARKOV_TRANSITIONS_SQL)


def attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution over 30-minute-gap sessions: each
    session containing a purchase is attributed to its FIRST event's
    type; per first-touch type, the conversion count and the exact
    integer mean time-to-convert in ms (sum of first-purchase-minus-
    session-start, div by n*1000) -- the marketing-attribution shape
    layered on the sessionize primitive (operators/sessionize.py).

    Scale shape: one window partitioned by user_id builds session ids
    (running sum of gap flags), a second per-(user, session) window
    takes the first touch, then a two-level aggregate; nothing global
    until the final |event_type|-row result."""
    e = _t(spark, sf_dir, "events")
    t = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
    )
    worder = Window.partitionBy("user_id").orderBy("tus", "event_id")
    t = t.withColumn(
        "ns",
        F.when(
            F.col("tus") - F.lag("tus").over(worder) > 1_800_000_000, 1
        ).otherwise(0),
    ).withColumn(
        "sid",
        F.sum("ns").over(
            worder.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    wses = Window.partitionBy("user_id", "sid").orderBy(
        "tus", "event_id"
    )
    t = t.withColumn("first_touch", F.first("event_type").over(wses))
    g = (
        t.groupBy("user_id", "sid", "first_touch")
        .agg(
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("tus"))
            ).alias("conv_tus"),
            F.min("tus").alias("start_tus"),
        )
        .where(F.col("conv_tus").isNotNull())
    )
    return (
        g.groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            F.expr(
                "sum(conv_tus - start_tus) div (count(1) * 1000)"
            )
            .cast("long")
            .alias("avg_ms"),
        )
        .orderBy("first_touch")
    )


ATTRIBUTION_SQL = r"""
WITH f AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                OVER (PARTITION BY user_id
                      ORDER BY epoch_us(ts), event_id) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events
), s AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
), s2 AS (
  SELECT *, first_value(event_type)
              OVER (PARTITION BY user_id, sid
                    ORDER BY tus, event_id) AS first_touch
  FROM s
), g AS (
  SELECT user_id, sid, first_touch,
         min(CASE WHEN event_type = 'purchase' THEN tus END) AS conv_tus,
         min(tus) AS start_tus
  FROM s2 GROUP BY 1, 2, 3
)
SELECT first_touch, CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(conv_tus - start_tus) // (count(*) * 1000) AS BIGINT)
         AS avg_ms
FROM g WHERE conv_tus IS NOT NULL GROUP BY 1 ORDER BY 1
"""
register(attribution_events, oracle=ATTRIBUTION_SQL)


def dedup_edit_distance_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-duplicate mining by Levenshtein distance on document
    titles (first 32 chars): the 20 most-similar ASCII title pairs
    within (lang, first-word) blocks, ordered (distance, doc_a,
    doc_b) -- the string-edit member of the dedup family
    (complements token-set jaccard/containment and hash-based
    minhash/simhash, which all miss single-character typos).

    ASCII gate: Spark's levenshtein counts CODEPOINTS while the
    oracle engine's counts BYTES, so the two agree exactly only on
    ASCII; the gate is oracle-parity only -- the Spark side is
    codepoint-correct on any input.

    Blow-up guard (same contract as triangle_count_users): the
    in-block self-join is quadratic in block membership, so blocks
    with more than ``block_cap`` titles are dropped -- a block that
    hot means the blocking key has collapsed and pairs from it carry
    no typo signal.  sf0.1 blocks peak at ~120 members; the default
    5000 changes nothing on the test corpora while bounding any
    block to ~12.5M cheap 32-char comparisons.  Top-k resolves via
    TakeOrdered, never a global sort."""
    block_cap = 5000
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.substring("text", 1, 32).alias("title"),
        F.substring_index("text", " ", 1).alias("w1"),
    ).where(F.col("title").rlike("^[ -~]*$"))
    wb = Window.partitionBy("lang", "w1")
    t = (
        t.withColumn("bsize", F.count(F.lit(1)).over(wb))
        .where(F.col("bsize") <= block_cap)
        .drop("bsize")
    )
    # the in-block levenshtein fan-out is compute-amplifying (a
    # byte-small title frame fans out to every within-block pair), so
    # AQE's bytes-based coalescing funnels the broadcast-join probe
    # onto one task (round-12 stage census: 1.1 s of 1.7 s wall on a
    # single task).  A user repartition is exempt from AQE coalescing
    # -- the same pin the exact-similarity verify stages carry.
    t = t.repartition(spark.sparkContext.defaultParallelism)
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.w1") == F.col("b.w1"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein("a.title", "b.title")
            .cast("long")
            .alias("dist"),
        )
        .orderBy("dist", "doc_a", "doc_b")
        .limit(20)
    )


EDIT_DISTANCE_SQL = r"""
WITH t0 AS (
  SELECT doc_id, lang, substr(text, 1, 32) AS title,
         split_part(text, ' ', 1) AS w1
  FROM documents
), t1 AS (
  SELECT * FROM t0 WHERE regexp_matches(title, '^[ -~]*$')
), t AS (
  SELECT doc_id, lang, title, w1 FROM (
    SELECT *, count(*) OVER (PARTITION BY lang, w1) AS bsize FROM t1
  ) WHERE bsize <= 5000
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
FROM t a JOIN t b
  ON a.lang = b.lang AND a.w1 = b.w1 AND a.doc_id < b.doc_id
ORDER BY dist, doc_a, doc_b LIMIT 20
"""
register(dedup_edit_distance_titles, oracle=EDIT_DISTANCE_SQL)


def psi_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per language bin between the
    lexicographically-first source (the "reference snapshot") and all
    other sources pooled -- the standard distribution-drift monitor a
    corpus pipeline runs between ingestion snapshots before retraining
    mixtures.  psi_micro = round(1e6 * (p-q) * ln(p/q)) per bin, the
    char_entropy micro-nat discipline: the one transcendental is
    quantized to BIGINT per bin BEFORE any cross-engine aggregation,
    and p/q shares are also reported as exact integer ppm.

    Bins present on only one side are excluded (inner join) -- PSI is
    undefined there without an epsilon convention; the exact ppm
    columns still expose one-sided mass through the totals.

    Scale: two |lang|-row aggregates plus two scalar counts off one
    scan each; every join after the aggregates touches <= |lang| rows
    (broadcast)."""
    d = _t(spark, sf_dir, "documents")
    amin = d.groupBy().agg(F.min("source").alias("a_src"))
    d2 = d.crossJoin(F.broadcast(amin)).select(
        "lang", (F.col("source") == F.col("a_src")).alias("is_a")
    )
    ca = d2.where("is_a").groupBy("lang").agg(
        F.count(F.lit(1)).alias("ca")
    )
    cb = d2.where("NOT is_a").groupBy("lang").agg(
        F.count(F.lit(1)).alias("cb")
    )
    na = d2.where("is_a").groupBy().agg(F.count(F.lit(1)).alias("na"))
    nb = d2.where("NOT is_a").groupBy().agg(
        F.count(F.lit(1)).alias("nb")
    )
    return (
        ca.join(cb, "lang")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "lang",
            F.col("ca").cast("long").alias("n_a"),
            F.col("cb").cast("long").alias("n_b"),
            F.expr("ca * 1000000 div na").cast("long").alias("p_ppm"),
            F.expr("cb * 1000000 div nb").cast("long").alias("q_ppm"),
            F.expr(
                "CAST(round(1000000.0 "
                "* (CAST(ca AS DOUBLE)/na - CAST(cb AS DOUBLE)/nb) "
                "* ln((CAST(ca AS DOUBLE)*nb)/(CAST(cb AS DOUBLE)*na))"
                ") AS BIGINT)"
            ).alias("psi_micro"),
        )
        .orderBy("lang")
    )


PSI_DRIFT_SQL = r"""
WITH amin AS (SELECT min(source) AS a_src FROM documents),
d2 AS (
  SELECT lang, source = (SELECT a_src FROM amin) AS is_a FROM documents
),
ca AS (SELECT lang, count(*) AS ca FROM d2 WHERE is_a GROUP BY 1),
cb AS (SELECT lang, count(*) AS cb FROM d2 WHERE NOT is_a GROUP BY 1),
na AS (SELECT count(*) AS na FROM d2 WHERE is_a),
nb AS (SELECT count(*) AS nb FROM d2 WHERE NOT is_a)
SELECT ca.lang, CAST(ca AS BIGINT) AS n_a, CAST(cb AS BIGINT) AS n_b,
       CAST(ca * 1000000 // na AS BIGINT) AS p_ppm,
       CAST(cb * 1000000 // nb AS BIGINT) AS q_ppm,
       CAST(round(1000000.0
            * (CAST(ca AS DOUBLE)/na - CAST(cb AS DOUBLE)/nb)
            * ln((CAST(ca AS DOUBLE)*nb)/(CAST(cb AS DOUBLE)*na))
            ) AS BIGINT) AS psi_micro
FROM ca JOIN cb USING (lang) CROSS JOIN na CROSS JOIN nb
ORDER BY ca.lang
"""
register(psi_drift_documents, oracle=PSI_DRIFT_SQL)


def ngram_novelty_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content novelty: the fraction of a source's distinct
    word-5-gram fingerprints that appear in NO other source -- the
    complement of source_overlap_matrix (that query prices pairwise
    redundancy; this one prices what a source uniquely contributes,
    the number a mixture designer weighs against its size).

    Scale: shingle once scan-side, one (fp, source) distinct, one
    fp-keyed window count (groups bounded by |sources|), one
    |sources|-row aggregate -- all shuffles keyed by fingerprint."""
    from nearscan_kafka_streams_spark.functions.dedup import _spread

    # same single-split starvation as source_overlap_matrix (round-12
    # stage census: 1.1 s of 2.0 s wall on one task); no-op at scale
    d = _spread(_t(spark, sf_dir, "documents"))
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    grams = (
        d.select("source", words.alias("ws"))
        .where(F.size("ws") >= 5)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 4),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ",
                            *[F.element_at("ws", i + j) for j in range(5)],
                        )
                    ),
                )
            ).alias("fp"),
        )
    )
    fp = grams.select("fp", "source").distinct()
    fp2 = fp.withColumn(
        "nsrc", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    )
    return (
        fp2.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("nsrc") == 1).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm",
            F.expr("n_novel * 1000000 div n_grams").cast("long"),
        )
        .orderBy("source")
    )


NGRAM_NOVELTY_SQL = r"""
WITH w AS (
  SELECT source,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                      ' ') AS ws
  FROM documents
), g AS (
  SELECT source,
         unnest([md5(array_to_string(ws[i:i+4], ' '))
                 for i in range(1, greatest(len(ws) - 4, 0) + 1)]) AS fp
  FROM w WHERE len(ws) >= 5
), fp AS (
  SELECT DISTINCT fp, source FROM g
), fp2 AS (
  SELECT source, count(*) OVER (PARTITION BY fp) AS nsrc FROM fp
)
SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS novelty_ppm
FROM fp2 GROUP BY source ORDER BY source
"""
register(ngram_novelty_sources, oracle=NGRAM_NOVELTY_SQL)


def user_saturation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience saturation curve: new distinct users per day and the
    cumulative distinct-user count -- the growth curve read off any
    event log (or, for a corpus, the marginal-new-documents curve per
    crawl batch).  Exact dedup via per-user min-day, so no day ever
    recounts a returning user.

    Scale: one user-keyed aggregate (the only big shuffle), one
    |days|-row aggregate, and the running sum windows over the tiny
    daily frame."""
    e = _t(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = first_day.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # day emitted as a string: DATE round-trips through pandas as
    # datetime64 on one engine and datetime.date on the other, which
    # the hash compare renders differently
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(wcum).cast("long").alias("cum_users"),
    ).orderBy("day")


USER_SATURATION_SQL = r"""
WITH fd AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
), daily AS (
  SELECT day, count(*) AS new_users FROM fd GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(sum(new_users) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users
FROM daily ORDER BY day
"""
register(user_saturation_events, oracle=USER_SATURATION_SQL)


def rfm_segments_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile-score every customer on Recency
    (last order date), Frequency (order count), and Monetary (total
    spend), then report the segment census -- the classic marketing /
    cohort-prioritization rollup.

    Determinism: ``ntile`` bucket membership depends on total order,
    so every ORDER BY ends in the unique ``o_custkey``; monetary sums
    are exact DECIMAL.  Scale shape: one customer-keyed aggregate
    (the only log-sized shuffle), then three distributed exact-NTILE
    passes (``functions.scan.global_ntile``) over the |customers|
    frame -- each is one range shuffle with partition-local sorts,
    never a single-task global window."""
    from ..functions.scan import global_ntile

    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("o_totalprice").alias("mon"),
    )
    scored = per
    for out, cols in (
        ("r_score", [F.col("last_d").desc(), F.col("o_custkey")]),
        ("f_score", [F.col("freq").desc(), F.col("o_custkey")]),
        ("m_score", [F.col("mon").desc(), F.col("o_custkey")]),
    ):
        scored = global_ntile(scored, cols, 4, out_col=out)
    scored = scored.select("o_custkey", "r_score", "f_score", "m_score")
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min("o_custkey").cast("long").alias("sample_custkey"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


RFM_SQL = r"""
WITH per AS (
  SELECT o_custkey, max(o_orderdate) AS last_d, count(*) AS freq,
         sum(o_totalprice) AS mon
  FROM orders GROUP BY 1
), scored AS (
  SELECT o_custkey,
         ntile(4) OVER (ORDER BY last_d DESC, o_custkey) AS r_score,
         ntile(4) OVER (ORDER BY freq DESC, o_custkey)  AS f_score,
         ntile(4) OVER (ORDER BY mon DESC, o_custkey)   AS m_score
  FROM per
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(min(o_custkey) AS BIGINT) AS sample_custkey
FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""
register(rfm_segments_customers, oracle=RFM_SQL)


def benford_digits_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: the observed leading-digit
    distribution vs the Benford expectation, in exact integer
    per-mille -- the standard first-pass anomaly/fraud screen on any
    monetary column.

    Exactness: the nine Benford per-mille expectations are hard-coded
    integer constants (round(1000*log10(1+1/d))) so NO transcendental
    is evaluated in either engine; observed shares use bigint
    ``div``.  Scale shape: a 9-group hash aggregate over one scan --
    embarrassingly parallel, no joins, no windows over big data."""
    e = _t(spark, sf_dir, "orders")
    expected = F.expr(
        "CASE digit WHEN '1' THEN 301 WHEN '2' THEN 176 "
        "WHEN '3' THEN 125 WHEN '4' THEN 97 WHEN '5' THEN 79 "
        "WHEN '6' THEN 67 WHEN '7' THEN 58 WHEN '8' THEN 51 "
        "ELSE 46 END"
    )
    d = e.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        ).alias("digit")
    )
    agg = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    wtot = Window.partitionBy()
    return (
        agg.withColumn("total", F.sum("n").over(wtot))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.expr("(n * 1000) div total").cast("long").alias("obs_milli"),
            expected.cast("long").alias("benford_milli"),
        )
        .withColumn(
            "dev_milli",
            (F.col("obs_milli") - F.col("benford_milli")).cast("long"),
        )
        .orderBy("digit")
    )


BENFORD_SQL = r"""
WITH d AS (
  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                1, 1) AS digit
  FROM orders
), agg AS (
  SELECT digit, count(*) AS n FROM d GROUP BY 1
)
SELECT digit, CAST(n AS BIGINT) AS n,
       CAST((n * 1000) // sum(n) OVER () AS BIGINT) AS obs_milli,
       CAST(CASE digit WHEN '1' THEN 301 WHEN '2' THEN 176
                       WHEN '3' THEN 125 WHEN '4' THEN 97
                       WHEN '5' THEN 79  WHEN '6' THEN 67
                       WHEN '7' THEN 58  WHEN '8' THEN 51
                       ELSE 46 END AS BIGINT) AS benford_milli,
       CAST((n * 1000) // sum(n) OVER ()
            - CASE digit WHEN '1' THEN 301 WHEN '2' THEN 176
                         WHEN '3' THEN 125 WHEN '4' THEN 97
                         WHEN '5' THEN 79  WHEN '6' THEN 67
                         WHEN '7' THEN 58  WHEN '8' THEN 51
                         ELSE 46 END AS BIGINT) AS dev_milli
FROM agg ORDER BY digit
"""
register(benford_digits_orders, oracle=BENFORD_SQL)


def tokenizer_fertility_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: subword-ish tokens per
    whitespace word (in exact integer per-mille) -- the standard
    check that a tokenizer doesn't explode on some language before
    committing a 100 TB tokenization run.

    Token classes ([A-Za-z]+ | [0-9]+ | single other non-space) are
    spelled with the same regex in both engines.  Scale shape: pure
    per-row codegen expressions then a |lang|-sized aggregate --
    no shuffle beyond the tiny final group."""
    d = _t(spark, sf_dir, "documents")
    # pattern passed as a column literal (F.lit), NOT through F.expr's
    # SQL parser, so the \s escape reaches the Java regex engine intact
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    per = d.select(
        "lang",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
        ).alias("n_sub"),
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim("text"), r"\s+")))
        .alias("n_words"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_sub").cast("long").alias("sum_subtokens"),
            F.sum("n_words").cast("long").alias("sum_words"),
        )
        .withColumn(
            "fertility_milli",
            F.expr("(sum_subtokens * 1000) div sum_words").cast("long"),
        )
        .orderBy("lang")
    )


FERTILITY_SQL = r"""
WITH per AS (
  SELECT lang,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
           AS n_sub,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END
           AS n_words
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_sub) AS BIGINT) AS sum_subtokens,
       CAST(sum(n_words) AS BIGINT) AS sum_words,
       CAST(sum(n_sub) * 1000 // sum(n_words) AS BIGINT)
         AS fertility_milli
FROM per GROUP BY lang ORDER BY lang
"""
register(tokenizer_fertility_documents, oracle=FERTILITY_SQL)


def bfs_reachability_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability over the user co-occurrence graph
    (same capped (event_type, hour) edge definition as
    ``triangle_count_users``): how many users sit at each hop
    distance 0..3 from the smallest user id -- blast-radius /
    influence-frontier analysis as an ITERATIVE Spark algorithm.

    The edge relation is NEVER materialized: a hop expands the
    frontier through bucket MEMBERSHIP (frontier -> its buckets ->
    their members), which reaches exactly the same neighbor set as
    the pairwise edge list -- u is in visited, so v != u needs no
    explicit check -- at linear cost per hop instead of the
    quadratic per-bucket pair generation the triangle census pays.
    The driver loop runs a fixed 3 rounds; frontier/visited persist
    per level.  Min-level semantics fall out of frontier =
    newly-visited-only; the oracle states the same thing as a
    recursive CTE with min(lvl) over the explicit edge set."""
    bucket_cap = 1000
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bh"),
    ).distinct()
    wcap = Window.partitionBy("event_type", "bh")
    b = (
        b.withColumn("bsize", F.count(F.lit(1)).over(wcap))
        .where(F.col("bsize") <= bucket_cap)
        .drop("bsize")
        .persist()
    )
    seed = e.agg(F.min("user_id").alias("user_id"))
    frontier = seed.select("user_id").persist()
    visited = frontier.withColumn("lvl", F.lit(0)).persist()
    pinned = [b, frontier, visited]
    out = [visited.groupBy("lvl").agg(F.count(F.lit(1)).alias("n"))]
    try:
        for lvl in range(1, 4):
            # no broadcast hints: the frontier starts at 1 row but
            # visited approaches the full reachable set by depth 3,
            # so join strategy is left to AQE (which broadcasts the
            # small sides at bench scale and shuffles at 100 TB)
            fb = (
                b.join(frontier, "user_id")
                .select("event_type", "bh")
                .distinct()
            )
            nxt = (
                b.join(fb, ["event_type", "bh"])
                .select("user_id")
                .distinct()
                .join(
                    visited.select("user_id"), "user_id", "left_anti"
                )
                .persist()
            )
            pinned.append(nxt)
            if nxt.isEmpty():
                break
            visited = visited.unionByName(
                nxt.withColumn("lvl", F.lit(lvl))
            ).persist()
            pinned.append(visited)
            frontier = nxt
            out.append(
                nxt.groupBy(F.lit(lvl).alias("lvl")).agg(
                    F.count(F.lit(1)).alias("n")
                )
            )
        res = out[0]
        for f in out[1:]:
            res = res.unionByName(f)
        return (
            res.select(
                F.col("lvl").cast("int").alias("lvl"),
                F.col("n").cast("long").alias("n_users"),
            )
            .orderBy("lvl")
            .localCheckpoint(eager=True)
        )
    finally:
        for df in pinned:
            df.unpersist()


BFS_REACH_SQL = r"""
WITH RECURSIVE b0 AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS bh
  FROM events
), b AS (
  SELECT user_id, event_type, bh
  FROM (SELECT *, count(*) OVER (PARTITION BY event_type, bh) AS bsize
        FROM b0)
  WHERE bsize <= 1000
), e AS (
  SELECT DISTINCT l.user_id AS src, r.user_id AS dst
  FROM b l JOIN b r
    ON l.event_type = r.event_type AND l.bh = r.bh
   AND l.user_id <> r.user_id
), reach(user_id, lvl) AS (
  SELECT min(user_id), 0 FROM events
  UNION
  SELECT e.dst, r.lvl + 1
  FROM reach r JOIN e ON e.src = r.user_id
  WHERE r.lvl < 3
), minlvl AS (
  SELECT user_id, min(lvl) AS lvl FROM reach GROUP BY 1
)
SELECT CAST(lvl AS INT) AS lvl, CAST(count(*) AS BIGINT) AS n_users
FROM minlvl GROUP BY lvl ORDER BY lvl
"""
register(bfs_reachability_users, oracle=BFS_REACH_SQL)


def hhi_concentration_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of event value by user, per
    event type: is the volume spread across the audience or owned by
    a few whales?  The standard market-concentration index, computed
    EXACTLY on quantized shares.

    Exactness contract: values quantize to integer milli-units; each
    user's share is integer parts-per-million via DECIMAL(38)
    multiply + ``div`` (exact in both engines whenever the QUOTIENT
    fits int64 -- Spark's decimal `div` wraps silently on result
    overflow, so the ppm form, bounded by 1e6, is the safe shape);
    the index is then sum(ppm^2) <= 1e12, which fits bigint for ANY
    user count because shares sum to <= 1e6.  Scale shape: one
    (event_type, user) aggregate, one tiny per-type total, one
    |users|-row second aggregate."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("event_type", "user_id").agg(
        F.sum(F.expr("CAST(round(value * 1000) AS BIGINT)")).alias(
            "s_milli"
        )
    )
    shares = per.withColumn(
        "ppm",
        F.expr(
            "(CAST(s_milli AS DECIMAL(38,0)) * 1000000)"
            " div CAST(sum(s_milli) OVER"
            " (PARTITION BY event_type) AS DECIMAL(38,0))"
        ),
    )
    return (
        shares.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.col("ppm") * F.col("ppm"))
            .cast("long")
            .alias("hhi_ppm2"),
            F.max("ppm").cast("long").alias("top_share_ppm"),
        )
        .orderBy("event_type")
    )


HHI_SQL = r"""
WITH per AS (
  SELECT event_type, user_id,
         sum(CAST(round(value * 1000) AS BIGINT)) AS s_milli
  FROM events GROUP BY 1, 2
), shares AS (
  SELECT event_type,
         (CAST(s_milli AS HUGEINT) * 1000000)
           // sum(CAST(s_milli AS HUGEINT)) OVER (PARTITION BY event_type)
           AS ppm
  FROM per
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(ppm * ppm) AS BIGINT) AS hhi_ppm2,
       CAST(max(ppm) AS BIGINT) AS top_share_ppm
FROM shares GROUP BY 1 ORDER BY 1
"""
register(hhi_concentration_events, oracle=HHI_SQL)


def outliers_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers by MEDIAN ABSOLUTE DEVIATION per event_type:
    flag values with |v - median| > 3 * 1.4826 * MAD (the robust
    z-score screen).  Complements ``outliers_iqr_events``: MAD has a
    50% breakdown point vs the IQR fences' 25%, so it survives heavier
    contamination -- the screen of choice when a feed can go fully
    bad.

    Scale shape: two per-group exact-percentile aggregates (median,
    then median of absolute deviations), each a tiny broadcast back to
    a scan-side flag pass -- three scans of the log, no self-join, no
    global sort.  The 1.4826 normal-consistency constant folds
    identically in both engines (same literal, same multiply order),
    and only ROUNDED medians are emitted while flags compare unrounded
    -- the `outliers_iqr_events` float discipline."""
    e = _t(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    med = e.groupBy("event_type").agg(F.percentile(v, 0.5).alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(v - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("ad"), 0.5).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type").withColumn(
        "is_outlier",
        F.col("ad") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.col("is_outlier").cast("long")), F.lit(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


OUTLIERS_MAD_SQL = r"""
WITH med AS (
  SELECT event_type, quantile_cont(CAST(value AS DOUBLE), 0.5) AS med
  FROM events GROUP BY 1
), dev AS (
  SELECT e.event_type, abs(CAST(e.value AS DOUBLE) - m.med) AS ad, m.med
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       round(min(d.med), 6) AS med,
       round(min(m2.mad), 6) AS mad,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN d.ad > 3.0 * 1.4826 * m2.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m2 USING (event_type)
GROUP BY 1 ORDER BY 1
"""
register(outliers_mad_events, oracle=OUTLIERS_MAD_SQL)


def percentiles_global_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global tail percentiles (p50/p90/p99/p999 of
    ``l_extendedprice`` over ALL of lineitem) -- the latency-report /
    price-distribution primitive where the percentile is taken over
    the whole table, not per group.

    ``percentile_acctbal`` covers the per-group exact aggregate; a
    GLOBAL ``F.percentile`` would pull every value into one reducer.
    This is the scalable exact form: distributed two-pass rank
    (``functions.scan.global_row_number`` -- one range shuffle,
    partition-local sorts), then each requested percentile is the row
    whose rank equals ``ceil(p * n)`` (PERCENTILE_DISC semantics).
    ``n`` rides the rank pass's offset broadcast (``total_col``), so
    target matching is a scan-local filter + explode of the (at most
    four) matching labels per row -- no second pass over the frame and
    no extra join; two percentiles landing on the same rank (tiny
    ``n``) still emit one row each, exactly like the join form.  All
    rank arithmetic is integer (``(num*n + den-1) div den``), so Spark
    and the oracle agree bit-for-bit; DECIMAL prices are never touched
    by floats."""
    from ..functions.scan import global_row_number

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("price"),
        "l_orderkey",
        "l_linenumber",
    )
    numbered = global_row_number(
        li,
        ["price", "l_orderkey", "l_linenumber"],
        out_col="rn",
        total_col="n",
    )
    pcts = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100), ("p999", 999, 1000)]
    targets = F.array(
        *[
            F.struct(
                F.lit(lbl).alias("pct"),
                F.expr(f"({num}*n + {den - 1}) div {den}")
                .cast("long")
                .alias("target"),
            )
            for lbl, num, den in pcts
        ]
    )
    return (
        numbered.select(
            F.col("n").alias("n_rows"),
            F.col("rn").cast("long").alias("rk"),
            "price",
            F.explode(
                F.filter(targets, lambda t: t["target"] == F.col("rn"))
            ).alias("t"),
        )
        .select("t.pct", "rk", "price", "n_rows")
        .orderBy("pct")
    )


PERCENTILES_GLOBAL_SQL = r"""
WITH numbered AS (
  SELECT l_extendedprice AS price,
         row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                            l_linenumber) AS rn
  FROM lineitem
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
targets AS (
  SELECT 'p50' AS pct, (1*n + 1) // 2 AS target, n FROM tot
  UNION ALL SELECT 'p90', (9*n + 9) // 10, n FROM tot
  UNION ALL SELECT 'p99', (99*n + 99) // 100, n FROM tot
  UNION ALL SELECT 'p999', (999*n + 999) // 1000, n FROM tot
)
SELECT pct, CAST(rn AS BIGINT) AS rk, price, n AS n_rows
FROM numbered JOIN targets ON rn = target
ORDER BY pct
"""
register(percentiles_global_lineitem, oracle=PERCENTILES_GLOBAL_SQL)


def gini_user_activity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event volume -- the inequality /
    concentration scalar that complements ``hhi_concentration_events``
    (HHI weighs the head; Gini sees the whole Lorenz curve).

    Exact integer form of the rank formula
    ``G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))`` with users
    sorted ascending by count: reported as the exact integer
    numerator/denominator plus a truncated milli-Gini.  Tie order
    inside equal counts cannot change the result (equal x across a
    contiguous rank range), so the tie-break key is determinism-only.

    Scale: one user-keyed aggregate (the only log-sized shuffle), one
    distributed rank over the per-user frame
    (``functions.scan.global_row_number``), one scalar aggregate.
    Numerator terms stay within BIGINT while n_users * max_count *
    n_users < 2^63 -- ~10^9 users at 10^9 events each overflows; at
    that scale lift ``weighted`` into DECIMAL(38,0)."""
    from ..functions.scan import global_row_number

    e = _t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    numbered = global_row_number(per, ["x", "user_id"], out_col="i")
    agg = numbered.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("total_events"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("weighted"),
    )
    # rearrangement inequality: ascending ranks make the numerator
    # non-negative, so Spark div == DuckDB // (both truncate, and
    # floor == trunc for non-negative operands)
    return agg.select(
        "n_users",
        "total_events",
        F.expr("2*weighted - (n_users + 1)*total_events")
        .cast("long")
        .alias("gini_num"),
        F.expr("n_users * total_events").cast("long").alias("gini_den"),
        F.expr(
            "(1000 * (2*weighted - (n_users + 1)*total_events))"
            " div (n_users * total_events)"
        )
        .cast("long")
        .alias("gini_milli"),
    )


GINI_SQL = r"""
WITH per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1
), numbered AS (
  SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM per
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS BIGINT) AS total_events,
         CAST(sum(i * x) AS BIGINT) AS weighted
  FROM numbered
)
SELECT n_users, total_events,
       CAST(2*weighted - (n_users + 1)*total_events AS BIGINT) AS gini_num,
       CAST(n_users * total_events AS BIGINT) AS gini_den,
       CAST((1000 * (2*weighted - (n_users + 1)*total_events))
            // (n_users * total_events) AS BIGINT) AS gini_milli
FROM agg
"""
register(gini_user_activity_events, oracle=GINI_SQL)


def sorted_neighborhood_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking for record linkage: sort customers
    by name, pair every record with its next ``w=3`` neighbors in sort
    order, keep pairs within Levenshtein distance 4 -- the classic
    linear-candidate alternative to the quadratic all-pairs matcher
    (and to hash blocking, which misses near-misses that sort
    adjacently).

    Scale: the sort is the distributed two-pass rank
    (``functions.scan.global_row_number``); the neighbor pairing is an
    EQUI-join on the rank (each row explodes to its w successor ranks)
    -- so the whole query is two range/hash shuffles and never an
    all-pairs product.  Levenshtein is exact-integer in both engines."""
    from ..functions.scan import global_row_number

    w = 3
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    numbered = global_row_number(
        c, ["c_name", "c_custkey"], out_col="rn"
    )
    probes = numbered.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + F.lit(w))
        ).alias("rn_b"),
    )
    neighbors = numbered.select(
        F.col("rn").alias("rn_b"),
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
    )
    return (
        probes.join(neighbors, "rn_b")
        .withColumn("lev", F.levenshtein("name_a", "name_b"))
        .where(F.col("lev") <= 4)
        .select(
            F.col("custkey_a").cast("long").alias("custkey_a"),
            F.col("custkey_b").cast("long").alias("custkey_b"),
            F.col("lev").cast("int").alias("lev"),
        )
        .orderBy("custkey_a", "custkey_b")
    )


SORTED_NEIGHBORHOOD_SQL = r"""
WITH numbered AS (
  SELECT c_custkey, c_name,
         row_number() OVER (ORDER BY c_name, c_custkey) AS rn
  FROM customer
)
SELECT CAST(a.c_custkey AS BIGINT) AS custkey_a,
       CAST(b.c_custkey AS BIGINT) AS custkey_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS lev
FROM numbered a
JOIN numbered b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
WHERE levenshtein(a.c_name, b.c_name) <= 4
ORDER BY custkey_a, custkey_b
"""
register(sorted_neighborhood_customers, oracle=SORTED_NEIGHBORHOOD_SQL)


def auc_lang_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a retrieval/quality score against a binary
    label, computed distributed via the tie-aware Mann-Whitney U
    statistic -- the model-eval primitive for ranking a quality
    classifier (here: does document length separate English from
    non-English docs; the *value* of the AUC is irrelevant to the
    contract, only its exactness).

    AUC = P(score_pos > score_neg) + 0.5 * P(tie).  With per-distinct-
    score counts (p_s positives, n_s negatives) and the running count
    of negatives strictly below s:

        AUC = (2 * sum_s p_s * cum_neg_below(s) + sum_s p_s * n_s)
              / (2 * P * N)

    Every term is an integer; the published figure is one integer
    division to micro-units, so the result is hash-stable across
    engines with zero float summation anywhere.

    Scale: one shuffle (groupBy score) collapses the data to at most
    |distinct scores| rows -- bounded by the score quantization, NOT
    the corpus size -- then a single-partition cumulative window over
    that small frame and a scalar aggregate.  At 100 TB the wide stage
    touches ~1e5 rows regardless of input rows."""
    d = _t(spark, sf_dir, "documents")
    per_score = (
        d.select(
            F.col("n_chars").alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy("score")
        # Per-score counts fit BIGINT trivially, but the numerator is
        # ~2*P*N*1e6 which wraps int64 past a few million docs per
        # class -- so carry p_s / n_s (and hence cum_neg_below) in
        # decimal(38,0) BEFORE any product, matching the oracle's
        # HUGEINT sums (cast-before-multiply, the ks_drift pattern).
        .agg(
            F.sum("pos").cast("decimal(38,0)").alias("p_s"),
            F.sum(1 - F.col("pos")).cast("decimal(38,0)").alias("n_s"),
        )
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    scored = per_score.withColumn(
        "cum_neg_below",
        F.coalesce(F.sum("n_s").over(w), F.lit(0).cast("decimal(38,0)")),
    )
    return scored.agg(
        F.expr(
            "CAST((2 * sum(p_s * cum_neg_below) + sum(p_s * n_s)) * 1000000 "
            "div (2 * sum(p_s) * sum(n_s)) AS BIGINT)"
        ).alias("auc_micro"),
        F.sum("p_s").cast("long").alias("n_pos"),
        F.sum("n_s").cast("long").alias("n_neg"),
    )


AUC_LANG_QUALITY_SQL = r"""
WITH per_score AS (
  SELECT n_chars AS score,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p_s,
         sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n_s
  FROM documents
  GROUP BY n_chars
), cum AS (
  SELECT p_s, n_s,
         COALESCE(sum(n_s) OVER (ORDER BY score
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cum_neg_below
  FROM per_score
)
SELECT CAST((2 * sum(p_s * cum_neg_below) + sum(p_s * n_s)) * 1000000
            // (2 * sum(p_s) * sum(n_s)) AS BIGINT) AS auc_micro,
       CAST(sum(p_s) AS BIGINT) AS n_pos,
       CAST(sum(n_s) AS BIGINT) AS n_neg
FROM cum
"""
register(auc_lang_quality_documents, oracle=AUC_LANG_QUALITY_SQL)


def calibration_bins_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a score vs a binary label: fixed-
    width score buckets, each reporting support, the exact score mass
    (sum, not a float mean) and the positive rate in micro-units --
    the calibration check run on every trained quality classifier
    before its threshold is trusted.

    Exactness: bucket = score div 256 (integer); pos_rate_micro =
    1e6 * n_pos div n -- integers end-to-end, so the hash is stable.

    Scale: a single map-side-combinable groupBy on a derived integer
    key; output rows = number of buckets (score range / 256), not data
    size.  No window, no join, one shuffle."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.expr("CAST(n_chars div 256 AS BIGINT)").alias("bucket"),
            F.col("n_chars"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("n_chars").cast("long").alias("score_sum"),
        )
        .withColumn(
            "pos_rate_micro",
            F.expr("CAST(n_pos * 1000000 div n AS BIGINT)"),
        )
        .orderBy("bucket")
    )


CALIBRATION_BINS_SQL = r"""
SELECT CAST(n_chars // 256 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(sum(n_chars) AS BIGINT) AS score_sum,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS pos_rate_micro
FROM documents
GROUP BY 1
ORDER BY bucket
"""
register(calibration_bins_documents, oracle=CALIBRATION_BINS_SQL)


def ohlc_bars_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars: per (event_type, hour) bucket the
    opening value (first by event time, event_id tiebreak), high, low,
    closing value, and tick count -- the market-data aggregate the
    reference's token-transfer stream feeds (nearscan's transfer
    amounts play the 'price' role here).

    Values quantize to integer centi-units before any comparison, so
    min/max/first/last are integer-exact and the hash is stable.

    Scale: open/close are ``min_by``/``max_by`` over the unique
    (tus, event_id) tick order -- a PURE aggregate, so the whole bar
    is ONE map-side-combinable groupBy with no window, no per-bucket
    sort, and no partition buffering (a window PARTITION BY bucket
    would materialize 1/|buckets| of the table per partition -- the
    WindowExec-spill shape at 100 TB).  Output rows = buckets,
    independent of event count."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar_ts"),
        F.struct(F.unix_micros("ts").alias("tus"), "event_id").alias("ord"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("qv"),
    )
    return (
        base.groupBy("event_type", "bar_ts")
        .agg(
            F.min_by("qv", "ord").alias("open_centi"),
            F.max("qv").alias("high_centi"),
            F.min("qv").alias("low_centi"),
            F.max_by("qv", "ord").alias("close_centi"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
        .orderBy("event_type", "bar_ts")
    )


OHLC_BARS_SQL = r"""
WITH base AS (
  SELECT event_type,
         date_trunc('hour', ts) AS bar_ts,
         CAST(round(value * 100) AS BIGINT) AS qv,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type,
                        date_trunc('hour', ts)) AS cnt
  FROM events
)
SELECT event_type, bar_ts,
       max(CASE WHEN rn = 1 THEN qv END) AS open_centi,
       max(qv) AS high_centi,
       min(qv) AS low_centi,
       max(CASE WHEN rn = cnt THEN qv END) AS close_centi,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM base
GROUP BY event_type, bar_ts
ORDER BY event_type, bar_ts
"""
register(ohlc_bars_events, oracle=OHLC_BARS_SQL)


def ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the value
    distributions of two event populations (click vs purchase) -- the
    nonparametric drift test that, unlike PSI, needs no binning choice.

    D = max_x |ECDF_a(x) - ECDF_b(x)|.  Scaled to integers:
    |cum_a * n_b - cum_b * n_a| is exact; the published figure is
    1e6 * max(...) div (n_a * n_b).  Cross products are carried in
    DECIMAL(38,0) (DuckDB: HUGEINT) so the arithmetic survives
    row counts far past 2^31 without overflow.

    Scale: groupBy the quantized value (one shuffle, map-side combine)
    collapses the corpus to at most |distinct centi-values| rows --
    bounded by the quantization grid, not the data; the cumulative
    window then runs over that small frame.  The grid is persisted:
    both the cumulative pass and the totals read it, and Catalyst has
    no logical subtree dedup -- unpersisted, the corpus would be
    scanned twice."""
    from nearscan_kafka_streams_spark.functions.dedup import _persist_tracked

    e = _t(spark, sf_dir, "events")
    per_v = (
        e.where(F.col("event_type").isin("click", "purchase"))
        .select(
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("qv"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
        )
        .groupBy("qv")
        .agg(
            F.sum("a").alias("c_a"),
            F.sum(1 - F.col("a")).alias("c_b"),
        )
    )
    per_v = _persist_tracked(per_v)
    w = Window.orderBy("qv").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"),
    )
    return (
        cum.crossJoin(
            per_v.agg(
                F.sum("c_a").cast("decimal(38,0)").alias("n_a"),
                F.sum("c_b").cast("decimal(38,0)").alias("n_b"),
            )
        )
        .select(
            F.abs(
                F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
                - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a")
            ).alias("d_scaled"),
            "n_a",
            "n_b",
        )
        .agg(
            F.expr(
                "CAST(max(d_scaled) * 1000000 div (max(n_a) * max(n_b)) "
                "AS BIGINT)"
            ).alias("ks_micro"),
            F.max("n_a").cast("long").alias("n_a"),
            F.max("n_b").cast("long").alias("n_b"),
        )
    )


KS_DRIFT_SQL = r"""
WITH per_v AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS qv,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c_a,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c_b
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
), cum AS (
  SELECT sum(c_a) OVER (ORDER BY qv) AS cum_a,
         sum(c_b) OVER (ORDER BY qv) AS cum_b
  FROM per_v
), tot AS (
  SELECT CAST(sum(c_a) AS HUGEINT) AS n_a,
         CAST(sum(c_b) AS HUGEINT) AS n_b
  FROM per_v
)
SELECT CAST(max(abs(CAST(cum_a AS HUGEINT) * n_b
                    - CAST(cum_b AS HUGEINT) * n_a)) * 1000000
            // (max(n_a) * max(n_b)) AS BIGINT) AS ks_micro,
       CAST(max(n_a) AS BIGINT) AS n_a,
       CAST(max(n_b) AS BIGINT) AS n_b
FROM cum, tot
"""
register(ks_drift_events, oracle=KS_DRIFT_SQL)


def trend_slope_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of event value over time, closed form from
    the five sufficient statistics (n, Sx, Sy, Sxx, Sxy) -- the
    distributed group-wise regression that powers drift/engagement
    trend screens without ever materializing per-user series.

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)

    Exactness: x = whole seconds since the user's first event
    (integer), y = centi-units (integer); every sufficient statistic
    is an exact integer sum whose addends are cast to DECIMAL(38,0)
    BEFORE the qx*qx / qx*qy products are formed (DuckDB casts to
    HUGEINT before multiplying), so the cross terms cannot overflow
    even at ~1e8-second horizons, and the published slope is one
    integer division to micro-units -- no float anywhere, hash-stable.

    Scale: a min-window and an aggregate, both partitioned by user_id
    -- one shuffle total (AQE reuses the exchange).  Output rows =
    users with >= 2 distinct timestamps."""
    e = _t(spark, sf_dir, "events")
    wmin = Window.partitionBy("user_id")
    base = e.select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("qy"),
    ).withColumn(
        "qx",
        F.expr("CAST((tus - min(tus) OVER (PARTITION BY user_id)) "
               "div 1000000 AS BIGINT)"),
    )
    # Cast-before-multiply (the ks_drift_events pattern): qx ~ 1e8 s
    # horizons make qx*qx ~ 1e16 per row, so a BIGINT sum wraps after
    # ~1e3 events per user; the oracle multiplies in HUGEINT, so the
    # products must be formed in decimal(38,0) on the Spark side too.
    dqx = F.col("qx").cast("decimal(38,0)")
    dqy = F.col("qy").cast("decimal(38,0)")
    stats = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dqx).cast("decimal(38,0)").alias("sx"),
        F.sum(dqy).cast("decimal(38,0)").alias("sy"),
        F.sum(dqx * dqx).cast("decimal(38,0)").alias("sxx"),
        F.sum(dqx * dqy).cast("decimal(38,0)").alias("sxy"),
    )
    return (
        stats.withColumn("den", F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .where(F.col("den") > 0)
        .select(
            "user_id",
            F.expr(
                "CAST(((n * sxy - sx * sy) * 1000000) div den AS BIGINT)"
            ).alias("slope_micro"),
            F.col("n").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


TREND_SLOPE_SQL = r"""
WITH base AS (
  SELECT user_id,
         CAST((epoch_us(ts)
               - min(epoch_us(ts)) OVER (PARTITION BY user_id))
              // 1000000 AS HUGEINT) AS qx,
         CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS qy
  FROM events
), stats AS (
  SELECT user_id,
         CAST(count(*) AS HUGEINT) AS n,
         sum(qx) AS sx, sum(qy) AS sy,
         sum(qx * qx) AS sxx, sum(qx * qy) AS sxy
  FROM base
  GROUP BY user_id
)
SELECT user_id,
       CAST(((n * sxy - sx * sy) * 1000000)
            // (n * sxx - sx * sx) AS BIGINT) AS slope_micro,
       CAST(n AS BIGINT) AS n_events
FROM stats
WHERE n * sxx - sx * sx > 0
ORDER BY user_id
"""
register(trend_slope_users, oracle=TREND_SLOPE_SQL)


def cohens_kappa_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two independent rule-based
    labelers (length >= 300 chars vs whitespace-token count >= 55,
    both near the corpus median so each labeler genuinely splits) --
    the chance-corrected agreement statistic used to vet weak
    labelers / annotator pairs before their labels train anything.

    kappa = (N*(a+d) - ((a+b)(a+c) + (c+d)(b+d)))
            / (N^2     - ((a+b)(a+c) + (c+d)(b+d)))

    from the 2x2 confusion counts -- a single rational in integers;
    published as one integer division to micro-units (both engines
    truncate toward zero, and a negative kappa truncates identically).
    Degenerate corpus contract: the denominator is zero iff both
    labelers are constant AND equal (observed agreement is then 1), so
    that case publishes kappa_micro = 1000000 rather than 0/0.

    Scale: one scalar aggregate over conditional counts -- map-side
    combine does all the work; no shuffle wider than 4 longs."""
    d = _t(spark, sf_dir, "documents")
    conf = d.select(
        F.when(F.length("text") >= 300, 1).otherwise(0).alias("la"),
        F.when(
            F.size(F.split(F.col("text"), " ")) >= 55, 1
        ).otherwise(0).alias("lb"),
    ).agg(
        F.sum(F.expr("CAST(la = 1 AND lb = 1 AS INT)")).alias("a"),
        F.sum(F.expr("CAST(la = 1 AND lb = 0 AS INT)")).alias("b"),
        F.sum(F.expr("CAST(la = 0 AND lb = 1 AS INT)")).alias("c"),
        F.sum(F.expr("CAST(la = 0 AND lb = 0 AS INT)")).alias("d"),
    ).select(
        # (a+b+c+d)*(a+d)*1e6 wraps int64 near N ~ 3e6 docs (and the
        # degenerate-case guard compares the same wrapped terms), so
        # lift the four confusion counts to decimal(38,0) BEFORE the
        # kappa rational -- the oracle carries them in HUGEINT.
        F.col("a").cast("decimal(38,0)").alias("a"),
        F.col("b").cast("decimal(38,0)").alias("b"),
        F.col("c").cast("decimal(38,0)").alias("c"),
        F.col("d").cast("decimal(38,0)").alias("d"),
    )
    return conf.select(
        F.expr(
            "CAST(CASE WHEN (a+b+c+d)*(a+b+c+d) = (a+b)*(a+c) + (c+d)*(b+d) "
            "THEN 1000000 ELSE "
            "((a+b+c+d) * (a+d) - ((a+b)*(a+c) + (c+d)*(b+d))) * 1000000 "
            "div ((a+b+c+d)*(a+b+c+d) - ((a+b)*(a+c) + (c+d)*(b+d))) "
            "END AS BIGINT)"
        ).alias("kappa_micro"),
        F.expr("CAST(a AS BIGINT)").alias("n_both"),
        F.expr("CAST(d AS BIGINT)").alias("n_neither"),
        F.expr("CAST(b + c AS BIGINT)").alias("n_disagree"),
    )


COHENS_KAPPA_SQL = r"""
WITH conf AS (
  SELECT
    sum(CASE WHEN length(text) >= 300
              AND len(string_split(text, ' ')) >= 55
         THEN 1 ELSE 0 END) AS a,
    sum(CASE WHEN length(text) >= 300
              AND len(string_split(text, ' ')) < 55
         THEN 1 ELSE 0 END) AS b,
    sum(CASE WHEN length(text) < 300
              AND len(string_split(text, ' ')) >= 55
         THEN 1 ELSE 0 END) AS c,
    sum(CASE WHEN length(text) < 300
              AND len(string_split(text, ' ')) < 55
         THEN 1 ELSE 0 END) AS d
  FROM documents
)
SELECT CAST(CASE WHEN (a+b+c+d)*(a+b+c+d) = (a+b)*(a+c) + (c+d)*(b+d)
            THEN 1000000 ELSE
            ((a+b+c+d) * (a+d) - ((a+b)*(a+c) + (c+d)*(b+d))) * 1000000
            // ((a+b+c+d)*(a+b+c+d) - ((a+b)*(a+c) + (c+d)*(b+d)))
            END AS BIGINT) AS kappa_micro,
       CAST(a AS BIGINT) AS n_both,
       CAST(d AS BIGINT) AS n_neither,
       CAST(b + c AS BIGINT) AS n_disagree
FROM conf
"""
register(cohens_kappa_documents, oracle=COHENS_KAPPA_SQL)


def l_diversity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: for each quasi-identifier class (lang,
    length-bucket) the number of DISTINCT sensitive values (source)
    it contains -- the release gate k-anonymity alone misses (a class
    can hold 10 rows that all share one sensitive value; k holds, yet
    membership leaks the attribute).  Pairs with
    ``k_anonymity_documents``, which treats the same columns as QIs.

    Scale: one aggregate with a distinct count per class -- Spark
    plans this as two hash aggregates (expand + collapse), both
    map-side combinable; the report is sized by |classes| x
    |sensitive values|, never by rows."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            F.expr("CAST(n_chars div 100 AS BIGINT)").alias("len_bucket"),
            "source",
        )
        .groupBy("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("class_size"),
            F.countDistinct("source").cast("long").alias("l_distinct"),
        )
        .withColumn("l_diverse", F.col("l_distinct") >= 3)
        .orderBy("lang", "len_bucket")
    )


L_DIVERSITY_SQL = r"""
SELECT lang, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS class_size,
       CAST(count(DISTINCT source) AS BIGINT) AS l_distinct,
       count(DISTINCT source) >= 3 AS l_diverse
FROM documents
GROUP BY lang, n_chars // 100
ORDER BY lang, len_bucket
"""
register(l_diversity_documents, oracle=L_DIVERSITY_SQL)


def seasonal_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly screen: each (event_type,
    hour-of-day) bucket learns its integer baseline (mean value in
    milli-units) and its mean absolute deviation around that
    baseline, then counts events deviating more than 3x the MAD-mean
    -- the time-of-day-aware outlier monitor that a flat IQR/MAD
    screen (``outliers_iqr_events`` / ``outliers_mad_events``)
    cannot express.

    Exactness: baseline_milli = sum div n (integer); deviations are
    integer |v - baseline|; the 3x gate multiplies integers.  The
    division order is pinned identically in both engines, so the
    hash is stable with zero float arithmetic.

    Scale: deliberately NOT the window formulation -- a window
    PARTITION BY (event_type, hod) materializes 1/(|types|*24) of the
    whole table per window partition (hundreds of GB at 100 TB,
    guaranteed WindowExec spill).  Instead each pass is a map-side-
    combinable groupBy down to the 120-row bucket frame, broadcast-
    joined back: the big table is never window-buffered or shuffled
    (the only shuffles carry 120-key partials), at the cost of three
    column-pruned scans of the source -- the right trade at 100 TB,
    where re-scanning three narrow columns beats externally sorting
    the table, and a deployment can drop to two scans by caching the
    deviation frame when storage allows."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        F.expr("CAST(round(value * 1000) AS BIGINT)").alias("qv"),
    )
    mu = base.groupBy("event_type", "hod").agg(
        F.expr("CAST(sum(qv) div count(*) AS BIGINT)").alias("mu_milli"),
    )
    with_adev = base.join(F.broadcast(mu), ["event_type", "hod"]).withColumn(
        "adev", F.abs(F.col("qv") - F.col("mu_milli"))
    )
    mad = with_adev.groupBy("event_type", "hod").agg(
        F.expr("CAST(sum(adev) div count(*) AS BIGINT)").alias("mad_milli"),
    )
    return (
        with_adev.join(F.broadcast(mad), ["event_type", "hod"])
        .groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("mu_milli").alias("baseline_milli"),
            F.max("mad_milli").alias("mad_milli"),
            F.sum(
                F.expr("CAST(adev > 3 * mad_milli AS INT)")
            ).cast("long").alias("n_anomalies"),
        )
        .orderBy("event_type", "hod")
    )


SEASONAL_ANOMALY_SQL = r"""
WITH base AS (
  SELECT event_type,
         CAST(hour(ts) AS BIGINT) AS hod,
         CAST(round(value * 1000) AS BIGINT) AS qv
  FROM events
), with_mu AS (
  SELECT *,
         CAST(sum(qv) OVER (PARTITION BY event_type, hod)
              // count(*) OVER (PARTITION BY event_type, hod)
              AS BIGINT) AS mu_milli
  FROM base
), with_mad AS (
  SELECT *,
         abs(qv - mu_milli) AS adev,
         CAST(sum(abs(qv - mu_milli)) OVER (PARTITION BY event_type, hod)
              // count(*) OVER (PARTITION BY event_type, hod)
              AS BIGINT) AS mad_milli
  FROM with_mu
)
SELECT event_type, hod,
       CAST(count(*) AS BIGINT) AS n,
       max(mu_milli) AS baseline_milli,
       max(mad_milli) AS mad_milli,
       CAST(sum(CASE WHEN adev > 3 * mad_milli THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies
FROM with_mad
GROUP BY event_type, hod
ORDER BY event_type, hod
"""
register(seasonal_anomaly_events, oracle=SEASONAL_ANOMALY_SQL)


def weighted_median_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest
    price whose cumulative quantity weight reaches half the total --
    the robust 'typical traded price' that an unweighted median gets
    wrong when line sizes vary (and the weighted generalization of
    PERCENTILE_DISC that neither engine ships as a builtin).

    Exactness: prices in integer centi-units; weights go through
    round() BEFORE the bigint cast on BOTH engines (Spark's
    double->bigint cast truncates while DuckDB's rounds -- round()
    first makes the casts agree, and quantities are integral anyway);
    the pick is the first row where 2*cum_weight >= total -- pure
    integer comparisons, deterministic (price, orderkey, linenumber)
    order.

    Scale: the raw table first collapses to the per-(group, distinct
    price) weight grid via a map-side-combinable groupBy -- which
    price crosses the half-weight threshold is unchanged by merging
    equal prices, so the answer is identical -- and the cumulative
    window then runs over grid rows only (bounded by the price
    quantization, NOT row count; a window straight over the raw table
    would buffer 1/|groups| of 100 TB per partition)."""
    li = _t(spark, sf_dir, "lineitem")
    grid = (
        li.select(
            "l_returnflag",
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias(
                "price_centi"
            ),
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("w"),
        )
        .groupBy("l_returnflag", "price_centi")
        .agg(F.sum("w").alias("w"))
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_centi")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("l_returnflag")
    marked = grid.withColumn("cumw", F.sum("w").over(wcum)).withColumn(
        "totw", F.sum("w").over(wtot)
    )
    return (
        marked.where(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price_centi").alias("wmedian_centi"),
            F.max("totw").cast("long").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


WEIGHTED_MEDIAN_SQL = r"""
WITH base AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_centi,
         CAST(round(l_quantity) AS BIGINT) AS w,
         l_orderkey, l_linenumber
  FROM lineitem
), marked AS (
  SELECT l_returnflag, price_centi, w,
         sum(w) OVER (PARTITION BY l_returnflag
                      ORDER BY price_centi, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cumw,
         sum(w) OVER (PARTITION BY l_returnflag) AS totw
  FROM base
)
SELECT l_returnflag,
       min(price_centi) AS wmedian_centi,
       CAST(max(totw) AS BIGINT) AS total_weight
FROM marked
WHERE 2 * cumw >= totw
GROUP BY l_returnflag
ORDER BY l_returnflag
"""
register(weighted_median_lineitem, oracle=WEIGHTED_MEDIAN_SQL)


def gap_islands_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over each user's event stream: consecutive
    runs of the SAME event_type (ordered by time) collapse into
    islands; per user the island count and the longest run length --
    the classic change-point SQL shape (sessionize_events is the
    time-gap variant; this is the value-change variant, e.g. 'how
    long do users stay in an error loop').

    Islands via the standard two-window construction: flag rows where
    the type differs from its predecessor, cumulative-sum the flags
    into island ids, then aggregate twice.  All three windows AND both
    groupBys share the user_id partitioning -- one shuffle total.

    Output rows = users; every figure is an integer count."""
    e = _t(spark, sf_dir, "events")
    worder = Window.partitionBy("user_id").orderBy("tus", "event_id")
    base = e.select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        "event_type",
    )
    flagged = base.withColumn(
        "new_island",
        F.when(
            F.lag("event_type").over(worder).isNull()
            | (F.lag("event_type").over(worder) != F.col("event_type")),
            1,
        ).otherwise(0),
    ).withColumn(
        "island_id",
        F.sum("new_island").over(
            worder.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    runs = flagged.groupBy("user_id", "island_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            F.max("run_len").cast("long").alias("longest_run"),
            F.sum("run_len").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


GAP_ISLANDS_SQL = r"""
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
               OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS new_island
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), islands AS (
  SELECT user_id,
         sum(new_island) OVER (PARTITION BY user_id
                               ORDER BY tus, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island_id
  FROM flagged
), runs AS (
  SELECT user_id, island_id, count(*) AS run_len
  FROM islands
  GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(max(run_len) AS BIGINT) AS longest_run,
       CAST(sum(run_len) AS BIGINT) AS n_events
FROM runs
GROUP BY user_id
ORDER BY user_id
"""
register(gap_islands_events, oracle=GAP_ISLANDS_SQL)


def wow_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week volume and value deltas per event type: weekly
    integer aggregates, then lag-based absolute and relative change --
    the trend report every monitoring dashboard runs (and the shape
    where naive float percent math breaks hash equality; here the
    relative change is integer milli-units of exact integer sums).

    Scale: one groupBy (events collapse to |types| x |weeks| rows),
    then windows over that tiny frame partitioned by type."""
    e = _t(spark, sf_dir, "events")
    weekly = (
        e.select(
            "event_type",
            F.date_trunc("week", "ts").alias("week"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("qv"),
        )
        .groupBy("event_type", "week")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("qv").alias("value_centi"),
        )
    )
    wlag = Window.partitionBy("event_type").orderBy("week")
    return (
        weekly.withColumn("prev_n", F.lag("n").over(wlag))
        .withColumn("prev_value", F.lag("value_centi").over(wlag))
        .where(F.col("prev_n").isNotNull())
        .select(
            "event_type",
            "week",
            "n",
            F.col("value_centi").cast("long").alias("value_centi"),
            (F.col("n") - F.col("prev_n")).cast("long").alias("n_delta"),
            F.expr(
                "CAST((n - prev_n) * 1000 div prev_n AS BIGINT)"
            ).alias("n_change_milli"),
            F.expr(
                "CAST((value_centi - prev_value) * 1000 div prev_value "
                "AS BIGINT)"
            ).alias("value_change_milli"),
        )
        .orderBy("event_type", "week")
    )


WOW_CHANGE_SQL = r"""
WITH weekly AS (
  SELECT event_type,
         date_trunc('week', ts) AS week,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS value_centi
  FROM events
  GROUP BY 1, 2
), lagged AS (
  SELECT *,
         lag(n) OVER w AS prev_n,
         lag(value_centi) OVER w AS prev_value
  FROM weekly
  WINDOW w AS (PARTITION BY event_type ORDER BY week)
)
SELECT event_type, week, n, value_centi,
       CAST(n - prev_n AS BIGINT) AS n_delta,
       CAST((n - prev_n) * 1000 // prev_n AS BIGINT) AS n_change_milli,
       CAST((value_centi - prev_value) * 1000 // prev_value AS BIGINT)
         AS value_change_milli
FROM lagged
WHERE prev_n IS NOT NULL
ORDER BY event_type, week
"""
register(wow_change_events, oracle=WOW_CHANGE_SQL)


def activity_streaks_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (plus total
    active days): the retention primitive behind 'daily streak'
    product metrics, via the classic date-minus-dense-rank island
    trick -- consecutive calendar days collapse to one group key.

    Scale: distinct (user, day) first (events collapse to at most
    users x days rows -- the ONLY pass over the raw table), then a
    row_number window and two aggregates all partitioned by user_id."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grouped = days.withColumn(
        "grp",
        F.expr("date_sub(day, CAST(row_number() OVER (PARTITION BY user_id "
               "ORDER BY day) AS INT))"),
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("streak_len").cast("long").alias("longest_streak"),
            F.sum("streak_len").cast("long").alias("active_days"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
        )
        .orderBy("user_id")
    )


ACTIVITY_STREAKS_SQL = r"""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM events
), grouped AS (
  SELECT user_id,
         day - CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY day) AS INT) AS grp
  FROM days
), streaks AS (
  SELECT user_id, grp, count(*) AS streak_len
  FROM grouped
  GROUP BY user_id, grp
)
SELECT user_id,
       CAST(max(streak_len) AS BIGINT) AS longest_streak,
       CAST(sum(streak_len) AS BIGINT) AS active_days,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM streaks
GROUP BY user_id
ORDER BY user_id
"""
register(activity_streaks_users, oracle=ACTIVITY_STREAKS_SQL)


def conversion_lag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency distribution: for every purchase, the time
    since the same user's most recent prior view, bucketed into exact
    integer latency bands -- the funnel-LATENCY report
    (funnel_events counts who converts; this measures how fast).

    The 'most recent prior view' is a running last_value(... IGNORE
    NULLS) over the user's interleaved event stream -- the classic
    mixed-stream as-of shape with no join at all.  Bands are CASE
    thresholds on whole seconds (no logs, no floats).

    Scale: one window partitioned by user_id (single shuffle), then a
    map-side-combinable groupBy; output rows = number of bands."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = e.select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        "event_type",
    )
    lagged = base.withColumn(
        "prior_view_tus",
        F.last(
            F.when(F.col("event_type") == "view", F.col("tus")),
            ignorenulls=True,
        ).over(w),
    ).where(
        (F.col("event_type") == "purchase")
        & F.col("prior_view_tus").isNotNull()
    )
    banded = lagged.select(
        F.expr(
            "CASE WHEN (tus - prior_view_tus) div 1000000 < 60 THEN 'lt_1m' "
            "WHEN (tus - prior_view_tus) div 1000000 < 600 THEN 'lt_10m' "
            "WHEN (tus - prior_view_tus) div 1000000 < 3600 THEN 'lt_1h' "
            "WHEN (tus - prior_view_tus) div 1000000 < 86400 THEN 'lt_1d' "
            "ELSE 'ge_1d' END"
        ).alias("band"),
        F.expr("CAST((tus - prior_view_tus) div 1000000 AS BIGINT)").alias(
            "lag_s"
        ),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("lag_s").cast("long").alias("lag_sum_s"),
            F.min("lag_s").cast("long").alias("lag_min_s"),
            F.max("lag_s").cast("long").alias("lag_max_s"),
        )
        .orderBy("band")
    )


CONVERSION_LAG_SQL = r"""
WITH lagged AS (
  SELECT user_id, event_type,
         epoch_us(ts) AS tus,
         last_value(CASE WHEN event_type = 'view' THEN epoch_us(ts) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior_view_tus
  FROM events
), banded AS (
  SELECT CASE WHEN (tus - prior_view_tus) // 1000000 < 60 THEN 'lt_1m'
              WHEN (tus - prior_view_tus) // 1000000 < 600 THEN 'lt_10m'
              WHEN (tus - prior_view_tus) // 1000000 < 3600 THEN 'lt_1h'
              WHEN (tus - prior_view_tus) // 1000000 < 86400 THEN 'lt_1d'
              ELSE 'ge_1d' END AS band,
         CAST((tus - prior_view_tus) // 1000000 AS BIGINT) AS lag_s
  FROM lagged
  WHERE event_type = 'purchase' AND prior_view_tus IS NOT NULL
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(lag_s) AS BIGINT) AS lag_sum_s,
       CAST(min(lag_s) AS BIGINT) AS lag_min_s,
       CAST(max(lag_s) AS BIGINT) AS lag_max_s
FROM banded
GROUP BY band
ORDER BY band
"""
register(conversion_lag_events, oracle=CONVERSION_LAG_SQL)


def new_vs_returning_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: per calendar day, events from
    users whose FIRST-ever event falls on that day vs users seen
    before -- the acquisition/retention overview on every product
    dashboard.

    first-day via a min window over user_id; the comparison and both
    counts are integers/dates only.

    Scale: one user_id window shuffle, then a groupBy on day; output
    rows = days."""
    e = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    base = e.select(
        "user_id",
        F.to_date("ts").alias("day"),
    ).withColumn("first_day", F.min("day").over(wu))
    return (
        base.groupBy("day")
        .agg(
            # day emitted as a string below: DATE round-trips through
            # pandas as datetime64 on one engine and datetime.date on
            # the other (the user_saturation_events lesson)
            F.sum(F.expr("CAST(day = first_day AS INT)"))
            .cast("long")
            .alias("new_events"),
            F.sum(F.expr("CAST(day <> first_day AS INT)"))
            .cast("long")
            .alias("returning_events"),
            F.countDistinct(
                F.when(F.col("day") == F.col("first_day"), F.col("user_id"))
            )
            .cast("long")
            .alias("new_users"),
            F.countDistinct(
                F.when(F.col("day") != F.col("first_day"), F.col("user_id"))
            )
            .cast("long")
            .alias("returning_users"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "new_events",
            "returning_events",
            "new_users",
            "returning_users",
        )
        .orderBy("day")
    )


NEW_VS_RETURNING_SQL = r"""
WITH base AS (
  SELECT user_id,
         CAST(ts AS DATE) AS day,
         min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_day
  FROM events
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS new_events,
       CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS returning_events,
       CAST(count(DISTINCT CASE WHEN day = first_day THEN user_id END)
            AS BIGINT) AS new_users,
       CAST(count(DISTINCT CASE WHEN day <> first_day THEN user_id END)
            AS BIGINT) AS returning_users
FROM base
GROUP BY day
ORDER BY day
"""
register(new_vs_returning_events, oracle=NEW_VS_RETURNING_SQL)


def dedup_cluster_census(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Duplicate-cluster size census: how many near-dup clusters of
    each size the corpus contains and how many documents dedup would
    remove -- the operational report read before every dedup run
    (cluster-size histograms are how boilerplate explosions and
    mis-tuned thresholds are caught; a census dominated by one giant
    cluster means the threshold, not the corpus, is wrong).

    Composes the exact Jaccard>=0.8 component machinery of
    ``dedup_clusters`` and ADDs the docs it cannot see: documents with
    no near-dup edge join in as singleton clusters, so sizes sum to
    the corpus row count (asserted in tests).

    Scale: everything after the (already scale-shaped) pair join and
    component propagation is two tiny aggregates over |docs| rows.
    ``edges``: see ``dedup_clusters``."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        connected_components,
    )

    d = _t(spark, sf_dir, "documents")
    if edges is None:
        edges = jaccard_edges_frame(spark, sf_dir)
    comp = connected_components(edges).select(
        F.col("node").alias("doc_id"), "component"
    )
    labeled = d.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("docs_in_size"),
            F.sum(F.col("cluster_size") - 1).cast("long").alias(
                "docs_removable"
            ),
        )
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "n_clusters",
            "docs_in_size",
            "docs_removable",
        )
        .orderBy("cluster_size")
    )


DEDUP_CLUSTER_CENSUS_SQL = r"""
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
labeled AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
),
sizes AS (
  SELECT component, count(*) AS cluster_size
  FROM labeled GROUP BY component
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS docs_in_size,
       CAST(sum(cluster_size - 1) AS BIGINT) AS docs_removable
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
"""
register(dedup_cluster_census, oracle=DEDUP_CLUSTER_CENSUS_SQL)


