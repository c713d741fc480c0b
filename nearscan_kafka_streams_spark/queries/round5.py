"""Round-5 additions: time-series finance/telemetry aggregates, graph
structure, phrase mining, information-theoretic quality, retrieval
index construction, boilerplate removal, privacy audit, layout
statistics, nearest-event joins."""
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _t,
    register,
)

# --------------------------------------------------------------------------
# round-5 additions: time-series finance/telemetry aggregates, graph
# structure, phrase mining, information-theoretic quality, retrieval
# index construction, cross-document boilerplate removal, privacy
# audit, layout statistics, nearest-event joins
# --------------------------------------------------------------------------


def twap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each event's value
    holds until the user's next event; the average weights each value
    by its holding duration -- the standard tick-stream aggregate that
    a plain AVG gets wrong on irregular spacing.

    Exactness: values quantize to integer milli-units and durations to
    whole seconds BEFORE any arithmetic, so numerator/denominator are
    exact integer sums and the final figure is one integer division --
    hash-stable against any engine (the float-sum association recipe).
    Division sign contract: Spark's ``div`` and DuckDB's integer ``//``
    BOTH truncate toward zero (verified: ``SELECT -7//2`` -> -3 in the
    pinned DuckDB), and the numerator is non-negative anyway --
    durations are ordered (>= 0) and event values are magnitudes
    (min observed 0.01; a signed-value feed would still hash-match
    because the two engines share truncation semantics).

    Scale: one window (lead) and one aggregate, both partitioned by
    user_id -- a single shuffle; AQE reuses the partitioning between
    the two.  No driver materialization, no global sort except the
    final user-ordered result (sized by |users|, not |events|)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    seg = (
        e.select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("tus"),
            F.expr("CAST(round(value * 1000) AS BIGINT)").alias("qv_milli"),
        )
        .withColumn("next_tus", F.lead("tus").over(w))
        .where(F.col("next_tus").isNotNull())
        .select(
            "user_id",
            "qv_milli",
            F.expr("CAST((next_tus - tus) div 1000000 AS BIGINT)").alias(
                "dur_s"
            ),
        )
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(F.col("qv_milli") * F.col("dur_s")).alias("num"),
            F.sum("dur_s").alias("dur_total_s"),
        )
        .where(F.col("dur_total_s") > 0)
        .select(
            "user_id",
            F.expr("CAST(num div dur_total_s AS BIGINT)").alias("twap_milli"),
            F.col("dur_total_s").cast("long").alias("dur_total_s"),
        )
        .orderBy("user_id")
    )


TWAP_SQL = r"""
WITH seg AS (
  SELECT user_id,
         CAST(round(value * 1000) AS BIGINT) AS qv_milli,
         (lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id)
          - epoch_us(ts)) // 1000000 AS dur_s
  FROM events
)
SELECT user_id,
       CAST(CAST(sum(qv_milli * dur_s) AS BIGINT)
            // CAST(sum(dur_s) AS BIGINT) AS BIGINT) AS twap_milli,
       CAST(sum(dur_s) AS BIGINT) AS dur_total_s
FROM seg
WHERE dur_s IS NOT NULL
GROUP BY user_id
HAVING sum(dur_s) > 0
ORDER BY user_id
"""
register(twap_events, oracle=TWAP_SQL)


def _co_event_edges(
    spark: SparkSession, sf_dir: str, bucket_cap: int = 1000
) -> DataFrame:
    """Shared edge list of the user co-occurrence graph: users link
    when they act in the same (event_type, hour) bucket at least
    twice, canonical u < v orientation.  Used by the triangle census
    and the clustering-coefficient report (same graph, two metrics).

    Buckets with more than ``bucket_cap`` distinct users are dropped
    before pair generation (the quadratic-blow-up guard -- see
    triangle_count_users' docstring; the cap is part of the query
    semantics, mirrored in both oracles).  Returns a PERSISTED frame
    (tracked via the release_cached lifecycle): every consumer reads
    it several times and Catalyst would otherwise re-run the
    quadratic pair generation per use."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        _persist_tracked,
    )

    e = _t(spark, sf_dir, "events")
    b = e.select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bh"),
    ).distinct()
    wcap = Window.partitionBy("event_type", "bh")
    b = _persist_tracked(
        b.withColumn("bsize", F.count(F.lit(1)).over(wcap))
        .where(F.col("bsize") <= bucket_cap)
        .drop("bsize")
    )
    l, r = b.alias("l"), b.alias("r")
    pairs = (
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
    )
    return _persist_tracked(
        pairs.where(F.col("n_shared") >= 2).select("u", "v")
    )


def co_event_edges_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user co-occurrence graph EDGE LIST itself (canonical u < v,
    linked on >= 2 shared (event_type, hour) buckets, bucket-capped) --
    the frame every graph metric in this family composes over, exposed
    as a query so pipelines (and bench.py) can stage it once and hand
    it to ``triangle_count_users`` / ``clustering_coefficient_users``
    via their ``edges=`` parameter, exactly the
    ``jaccard_edges_frame`` staging seam.  The 2-arg default paths
    still compute independently (driver isolation).

    Scale: see ``_co_event_edges`` -- capped per-bucket pair
    generation, one aggregate; the edge list is orders of magnitude
    smaller than the event log."""
    return _co_event_edges(spark, sf_dir).orderBy("u", "v")


CO_EVENT_EDGES_SQL = r"""
WITH b0 AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS bh
  FROM events
), b AS (
  SELECT user_id, event_type, bh
  FROM (SELECT *, count(*) OVER (PARTITION BY event_type, bh) AS bsize
        FROM b0)
  WHERE bsize <= 1000
), pairs AS (
  SELECT l.user_id AS u, r.user_id AS v, count(*) AS n_shared
  FROM b l JOIN b r
    ON l.event_type = r.event_type AND l.bh = r.bh
   AND l.user_id < r.user_id
  GROUP BY l.user_id, r.user_id
)
SELECT u, v FROM pairs WHERE n_shared >= 2
ORDER BY u, v
"""
register(co_event_edges_users, oracle=CO_EVENT_EDGES_SQL)


# Orientation gate for the adjacency-intersection triangle plans:
# degree-ordered re-orientation pays two extra degree joins to bound
# per-node out-degree by O(sqrt(2m)) (compact-forward), which only wins
# when the graph is heavy-tailed enough that id-orientation's O(dmax)
# adjacency arrays dominate.  Gate: degree-order iff
# dmax > _ORIENT_GATE_MULT * sqrt(2m), evaluated in exact integer form
# (dmax^2 > mult^2 * 2m).  Calibration (round 12, SCALE.md hub-graph
# adjudication): the near-regular co-event graph sits at
# dmax/sqrt(2m) = 0.92 where degree-ordering measured a 6.5x LOSS
# (10.2 vs 1.56 s); the hub stress graph sits at 14.5 / 38.5 / 84.6
# (n = 5k / 50k / 150k) where id-orientation is super-linear (O(D^2)
# shuffled bytes per degree-D hub: 6.89 -> 39.4 s for x3 nodes) and
# degree-ordering stays flat (2.23 -> 3.47 s) -- 4 separates the two
# measured regimes with 4.3x margin below and 3.6x margin above.
_ORIENT_GATE_MULT = 4


def _oriented_edges(
    edges: DataFrame, orientation: str = "auto"
) -> tuple[DataFrame, str]:
    """Orient the canonical u<v edge list for adjacency-intersection
    triangle counting; returns ``(oriented, chosen)`` with columns
    still named (u, v).

    ``orientation``:
      - ``"id"``: keep the u<v id order (zero cost).  Per-edge
        intersect work and per-node adjacency arrays are O(dmax) --
        optimal on near-regular graphs, quadratic-in-degree on hubs.
      - ``"degree"``: re-orient every edge from its lower-degree
        endpoint (ties by id) -- any total order counts each triangle
        exactly once at its order-minimal base edge, and this one
        bounds out-degree by O(sqrt(2m)) regardless of dmax.  Costs
        two equi-joins of the edge list against the degree table; the
        oriented frame is persisted (it feeds the adjacency build and
        the base-edge join).
      - ``"auto"`` (default): ONE 1-row gate aggregate over the edge
        list (max degree + 2m, integer-exact compare against
        ``_ORIENT_GATE_MULT``) picks between them.  The ``collect`` is
        a bounded single-row driver pull, same class as the capped
        fit-sample / DESCRIBE-stats sites.

    Seam history: id-only until round 11 (degree-ordering measured as
    a 6.5x loss on the near-regular co-event graph, SCALE.md); the
    heavy-tail hub stress graph (round 12) is the input that breaks
    id-orientation -- a hub of degree D replicates its D-element
    adjacency array onto each of its D incident edges, O(D^2) shuffled
    bytes -- which the gate routes to degree-ordering."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        _persist_tracked,
    )

    if orientation not in ("id", "degree", "auto"):
        raise ValueError(f"unknown orientation {orientation!r}")
    deg = None
    if orientation == "auto":
        deg = (
            edges.select(F.col("u").alias("x"))
            .unionAll(edges.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        row = deg.agg(
            F.max("deg").alias("dmax"),
            F.sum("deg").alias("deg_sum"),
        ).collect()[0]
        dmax = int(row["dmax"] or 0)
        two_m = int(row["deg_sum"] or 0)
        orientation = (
            "degree"
            if dmax * dmax > _ORIENT_GATE_MULT * _ORIENT_GATE_MULT * two_m
            else "id"
        )
    if orientation == "id":
        return edges, "id"
    if deg is None:
        deg = (
            edges.select(F.col("u").alias("x"))
            .unionAll(edges.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(
            deg.select(F.col("x").alias("u"), F.col("deg").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("x").alias("v"), F.col("deg").alias("dv")),
            "v",
        )
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("u"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("v"),
        )
    )
    return _persist_tracked(oriented), "degree"


def triangle_count_users(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    orientation: str = "auto",
) -> DataFrame:
    """Triangle census of the user co-occurrence graph: users are
    linked when they act in the same (event_type, hour) bucket at
    least twice; triangles are closed 2-paths over the canonical
    u<v<w edge orientation -- the clustering-structure primitive
    (community detection, spam-ring discovery) counted EXACTLY.

    Scale shape: co-occurrence pairs are generated per bucket
    (bounded fan-out per (type,hour) group, never a global cross
    join); triangles are counted by adjacency intersection over the
    deduped edge list (see the inline note below -- never a wedge
    materialization).  Edge lists are orders of magnitude smaller
    than the event log, and the oriented u<v<w form counts each
    triangle exactly once with no post-dedup.

    Blow-up guard (the self-join is quadratic IN BUCKET MEMBERSHIP):
    buckets with more than ``bucket_cap`` distinct users are dropped
    before pair generation -- a bucket that hot is a flash crowd
    whose clique links everyone to everyone and carries no community
    signal, and at 100x data it would otherwise emit cap^2 pairs.
    The cap is part of the query semantics, mirrored exactly in the
    oracle; sf0.01 buckets peak at 10 members, so the default 1000
    changes nothing on the test corpora while bounding the worst
    bucket to ~500k pairs at any scale.

    ``edges``: optionally a pre-staged ``co_event_edges_users`` frame
    so the graph family pays the pair generation once; default None
    recomputes (driver isolation).

    ``orientation``: see ``_oriented_edges`` -- ``"auto"`` (default)
    gates between id-order (what the near-regular co-event graph
    resolves to, dmax/sqrt(2m)=0.92) and degree-order (heavy-tailed
    graphs: bounds adjacency arrays by O(sqrt(2m)) where a hub would
    otherwise shuffle O(dmax^2) bytes; executed and measured on the
    round-12 hub stress graph, SCALE.md)."""
    if edges is None:
        edges = _co_event_edges(spark, sf_dir)
    # Adjacency-intersection instead of the wedge double self-join
    # (round 11): per oriented edge (u,v), triangles through it with
    # apex w after v in the orientation order are |N+(u) ∩ N+(v)| --
    # each triangle counted exactly once at its order-minimal base
    # edge, for ANY total-order orientation.  The wedge join
    # materializes every OPEN 2-path through a shuffle before the
    # closure check (67.1M wedge rows for 24.6M triangles / 384k
    # edges at sf0.1, 148.5 s of executor time in one stage -- stage
    # census); the adjacency form shuffles only the edge list and one
    # O(m) neighbor-array frame, and the intersection is a JVM-side
    # probe per edge.  Measured 5.05 -> 1.56 s on staged edges,
    # identical counts.  Orientation choice (_oriented_edges gate):
    # id-order arrays are O(dmax) -- optimal near-regular (degree
    # ordering measured a 6.5x LOSS here: avg degree 512, max 804,
    # reorientation joins cost more than the 13% wedge reduction
    # buys) but O(D^2) shuffled bytes per degree-D hub; degree-order
    # bounds arrays by O(sqrt(2m)), the linear-vs-superlinear winner
    # on the round-12 hub stress graph (SCALE.md).
    oe, _chosen = _oriented_edges(edges, orientation)
    adj = oe.groupBy(F.col("u").alias("x")).agg(
        F.collect_list("v").alias("nbrs")
    )
    common = (
        oe.join(
            adj.select(F.col("x").alias("u"), F.col("nbrs").alias("nu")),
            "u",
        )
        .join(
            adj.select(F.col("x").alias("v"), F.col("nbrs").alias("nv")),
            "v",
        )
        .select(F.size(F.array_intersect("nu", "nv")).alias("k"))
    )
    nodes = edges.select(F.col("u").alias("x")).unionAll(
        edges.select(F.col("v").alias("x"))
    )
    return (
        edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .crossJoin(
            nodes.select(
                F.count_distinct("x").cast("long").alias("n_nodes")
            )
        )
        .crossJoin(
            common.agg(
                F.coalesce(F.sum("k"), F.lit(0))
                .cast("long")
                .alias("n_triangles")
            )
        )
        .select("n_nodes", "n_edges", "n_triangles")
    )


TRIANGLE_SQL = r"""
WITH b0 AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS bh
  FROM events
), b AS (
  SELECT user_id, event_type, bh
  FROM (SELECT *, count(*) OVER (PARTITION BY event_type, bh) AS bsize
        FROM b0)
  WHERE bsize <= 1000
), pairs AS (
  SELECT l.user_id AS u, r.user_id AS v, count(*) AS n_shared
  FROM b l JOIN b r
    ON l.event_type = r.event_type AND l.bh = r.bh
   AND l.user_id < r.user_id
  GROUP BY l.user_id, r.user_id
), edges AS (
  SELECT u, v FROM pairs WHERE n_shared >= 2
), tri AS (
  SELECT count(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
), nn AS (
  SELECT count(DISTINCT x) AS n_nodes
  FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM nn, tri
"""
register(triangle_count_users, oracle=TRIANGLE_SQL)


def _word_tokens(col: str = "text"):
    """Shared alpha-numeric tokenizer for the phrase/index family:
    lowercase, split on non-[a-z0-9] runs, drop empties.  Mirrored
    verbatim in the DuckDB oracles (list_filter over
    regexp_split_to_array)."""
    return F.filter(
        F.split(F.lower(F.col(col)), "[^a-z0-9]+"),
        lambda x: x != "",
    )


def collocation_lift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase mining: top-50 adjacent-bigram collocations ranked by
    LIFT = P(xy) / (P(x)P(y)), the count-ratio form of PMI (monotone
    in it, so the ranking is identical) kept EXACT: lift_ppm =
    c_xy * N * 10^6 div (c_x * c_y), all integer arithmetic -- no
    transcendentals to 1-ulp-flip a hash.  Corpus collocations seed
    tokenizer merge rules and multi-word-entity vocabularies.

    Scale: explode -> two hash aggregates (bigram + unigram counts,
    both combine map-side) and two equi-joins of the bigram table
    against the unigram table; the corpus is never re-scanned (the
    token frame is persisted via the tracked cache -- released by
    ``release_cached()`` between bench queries, same lifecycle as the
    staged LSH intermediates), and the final sort ranks only bigrams
    with support >= 5."""
    from nearscan_kafka_streams_spark.functions.dedup import _persist_tracked

    d = _t(spark, sf_dir, "documents")
    toks = d.select(_word_tokens().alias("t")).where(F.size("t") >= 2)
    toks = _persist_tracked(toks)
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    unigrams = toks.select(F.explode("t").alias("w"))
    uc = unigrams.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_total = unigrams.agg(F.count(F.lit(1)).alias("n"))
    bc = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    out = (
        bc.where(F.col("c_xy") >= 5)
        .join(uc.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("long").alias("c_xy"),
            F.expr(
                "CAST((c_xy * n * 1000000L) div (c_x * c_y) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "w1", "w2")
        .limit(50)
    )
    return out


COLLOCATION_SQL = r"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
), toks2 AS (
  SELECT t FROM toks WHERE len(t) >= 2
), unigrams AS (
  SELECT unnest(t) AS w FROM toks2
), uc AS (
  SELECT w, count(*) AS c FROM unigrams GROUP BY w
), n_total AS (
  SELECT count(*) AS n FROM unigrams
), bigrams AS (
  SELECT t[g] AS w1, t[g+1] AS w2
  FROM toks2, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS g)
), bc AS (
  SELECT w1, w2, count(*) AS c_xy FROM bigrams GROUP BY w1, w2
)
SELECT bc.w1, bc.w2, CAST(c_xy AS BIGINT) AS c_xy,
       CAST((c_xy * n * 1000000) // (x.c * y.c) AS BIGINT) AS lift_ppm
FROM bc
JOIN uc x ON x.w = bc.w1
JOIN uc y ON y.w = bc.w2
CROSS JOIN n_total
WHERE c_xy >= 5
ORDER BY lift_ppm DESC, w1, w2
LIMIT 50
"""
register(collocation_lift_documents, oracle=COLLOCATION_SQL)


def char_entropy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy in integer
    micro-nats: H = sum_c (c_i/n) ln(n/c_i), each character class's
    contribution quantized to a BIGINT *before* the per-document sum
    (the lm.py micro-nat discipline -- integer aggregation is
    association-free, so the hash is engine-stable).  Entropy is the
    cheapest gibberish/boilerplate detector: minified blobs and
    base64 runs score high, template repetition scores low.

    Scale: one character explode (rows = total corpus chars), one
    (doc, char) hash aggregate with map-side combine, one per-doc
    sum -- both shuffles keyed by doc_id, no global state."""
    from nearscan_kafka_streams_spark.functions.dedup import _spread

    # the per-character explode (rows = total corpus chars) executes
    # in the scan's partitioning, and a bench-scale parquet file
    # arrives as ONE split (round-12 stage census: 1.8 s of 3.0 s wall
    # on a single task).  _spread is a no-op at scale.
    d = _spread(_t(spark, sf_dir, "documents"))
    # empty-text guard: Spark's sequence(1, 0) infers step -1 and
    # yields [1, 0] (two phantom rows) where DuckDB's
    # generate_series(1, 0) is empty -- filter empties in BOTH engines
    # so zero-length documents are consistently absent from the report
    chars = d.where(F.length("text") > 0).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text)), "
                "i -> substring(text, i, 1))"
            )
        ).alias("ch"),
    )
    per_class = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    with_n = per_class.withColumn(
        "n", F.sum("c").over(Window.partitionBy("doc_id"))
    )
    term = with_n.select(
        "doc_id",
        "n",
        F.expr(
            "CAST(round(1000000.0 * (c / CAST(n AS DOUBLE)) "
            "* ln(CAST(n AS DOUBLE) / c)) AS BIGINT)"
        ).alias("t_micro"),
    )
    return (
        term.groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars_counted"),
            F.sum("t_micro").cast("long").alias("entropy_micronat"),
        )
        .orderBy("doc_id")
    )


CHAR_ENTROPY_SQL = r"""
WITH chars AS (
  SELECT doc_id, substr(text, CAST(g AS INT), 1) AS ch
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text))) AS g)
  WHERE length(text) > 0
), per_class AS (
  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
), with_n AS (
  SELECT doc_id, c,
         sum(c) OVER (PARTITION BY doc_id) AS n
  FROM per_class
)
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_chars_counted,
       CAST(sum(CAST(round(1000000.0 * (c / CAST(n AS DOUBLE))
                           * ln(CAST(n AS DOUBLE) / c)) AS BIGINT))
            AS BIGINT) AS entropy_micronat
FROM with_n
GROUP BY doc_id
ORDER BY doc_id
"""
register(char_entropy_documents, oracle=CHAR_ENTROPY_SQL)


def inverted_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction statistics: per term, document
    frequency, collection frequency, and the maximum within-document
    tf -- the posting-list headers a retrieval engine materializes
    (bm25_retrieval consumes exactly these).  Top-100 by df for a
    bounded result; every figure is an integer count.

    Scale: explode -> (doc, term) aggregate (map-side combine
    collapses within-doc repeats before the shuffle) -> term
    aggregate; posting lists themselves would partition BY TERM at
    write time -- the term-keyed shuffle here is already that
    layout."""
    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_word_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
            F.max("tf").cast("long").alias("max_tf"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(100)
    )


INVERTED_INDEX_SQL = r"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(
                 regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                 x -> x <> '')) AS term
        FROM documents)
  GROUP BY doc_id, term
)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS cf,
       CAST(max(tf) AS BIGINT) AS max_tf
FROM tf
GROUP BY term
ORDER BY df DESC, term
LIMIT 100
"""
register(inverted_index_terms, oracle=INVERTED_INDEX_SQL)


def dedup_cross_doc_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document sentence-level boilerplate removal (the
    RefinedWeb/C4 line-dedup family, at sentence granularity):
    normalized sentences appearing in MORE THAN 3 distinct documents
    are boilerplate (cookie banners, license headers); report per
    document how many sentence instances survive vs fall.

    Complements the span/winnowed dedups: those find long duplicated
    regions within document pairs; this finds short strings repeated
    across MANY documents -- different duplicate class, different
    join shape (sentence-keyed aggregate, no pairwise anything).

    Scale: explode -> sentence-hash aggregate (distinct-doc count
    combines map-side) -> join back on sentence.  The sentence table
    is the shuffle width; no document pair is ever formed."""
    d = _t(spark, sf_dir, "documents")
    sents = d.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "\\.")).alias("raw"),
    ).select(
        "doc_id", F.trim(F.lower(F.col("raw"))).alias("sent")
    ).where(F.col("sent") != "")
    docs_per_sent = sents.groupBy("sent").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    flagged = sents.join(docs_per_sent, "sent").select(
        "doc_id", (F.col("n_docs") > 3).cast("int").alias("is_boiler")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum("is_boiler").cast("long").alias("n_removed"),
        )
        .orderBy("doc_id")
    )


CROSS_DOC_SENTENCES_SQL = r"""
WITH sents AS (
  SELECT doc_id, trim(lower(s)) AS sent
  FROM (SELECT doc_id, unnest(string_split(text, '.')) AS s
        FROM documents)
  WHERE trim(lower(s)) <> ''
), dps AS (
  SELECT sent, count(DISTINCT doc_id) AS n_docs FROM sents GROUP BY sent
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(CASE WHEN d.n_docs > 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed
FROM sents s JOIN dps d ON s.sent = d.sent
GROUP BY s.doc_id
ORDER BY s.doc_id
"""
register(dedup_cross_doc_sentences, oracle=CROSS_DOC_SENTENCES_SQL)


def k_anonymity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers: every (lang, source,
    length-bucket) equivalence class with its size and whether it
    meets k=10 -- the release gate run before publishing a corpus
    with attached metadata (a class below k re-identifies its
    members; pair with pseudonymize_events for the column-level
    treatment).

    Scale: one hash aggregate over the quasi-identifier tuple; the
    report is sized by the number of classes, not rows."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            "source",
            F.expr("CAST(n_chars div 100 AS BIGINT)").alias("len_bucket"),
        )
        .groupBy("lang", "source", "len_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .withColumn("k_anonymous", F.col("class_size") >= 10)
        .orderBy("lang", "source", "len_bucket")
    )


K_ANONYMITY_SQL = r"""
SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS class_size,
       count(*) >= 10 AS k_anonymous
FROM documents
GROUP BY lang, source, n_chars // 100
ORDER BY lang, source, len_bucket
"""
register(k_anonymity_documents, oracle=K_ANONYMITY_SQL)


def equidepth_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order totals: 8 buckets of (nearly)
    equal row count with their boundaries -- the optimizer-statistics
    / data-layout primitive (equi-width histograms lie about skewed
    money columns; range-partition boundaries are exactly these).
    Deterministic: NTILE over a total order (price, orderkey).

    Scale: exact-NTILE via the distributed two-pass rank
    (``functions.scan.global_ntile``): one range shuffle, every sort
    partition-local, bucket = closed-form f(row_number, count) -- no
    single-task WindowExec anywhere in the plan.  Bit-identical to
    ``NTILE(8) OVER (ORDER BY price, orderkey)``."""
    from ..functions.scan import global_ntile

    o = _t(spark, sf_dir, "orders")
    return (
        global_ntile(
            o.select("o_totalprice", "o_orderkey"),
            ["o_totalprice", "o_orderkey"],
            8,
            out_col="bucket",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


EQUIDEPTH_SQL = r"""
SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
       min(o_totalprice) AS lo, max(o_totalprice) AS hi
FROM (SELECT o_totalprice, o_orderkey,
             ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders)
GROUP BY bucket
ORDER BY bucket
"""
register(equidepth_histogram_orders, oracle=EQUIDEPTH_SQL)


def asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event as-of join: each click matched to the closest
    purchase by the same user within +-1 hour, preferring the smaller
    absolute gap, then the EARLIER purchase on exact ties (the
    bidirectional variant of asof_join_events, which is
    backward-only).  Attribution pipelines use exactly this pairing.

    Scale: equi-join on user_id with the +-1 h band as a join-time
    range predicate -- candidates are bounded per user by the band,
    the per-click winner resolves in one partitioned window, and no
    global sort touches the event log."""
    e = _t(spark, sf_dir, "events")
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_micros("ts").alias("c_tus"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("p_tus"),
    )
    cand = c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_tus") >= F.col("c_tus") - 3_600_000_000)
        & (F.col("p_tus") <= F.col("c_tus") + 3_600_000_000),
    ).withColumn("abs_dt", F.abs(F.col("p_tus") - F.col("c_tus")))
    w = Window.partitionBy("click_id").orderBy(
        "abs_dt", "p_tus", "purchase_id"
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "click_id",
            "purchase_id",
            (F.col("p_tus") - F.col("c_tus")).cast("long").alias("dt_us"),
        )
        .orderBy("click_id")
    )


ASOF_NEAREST_SQL = r"""
WITH c AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_tus
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id AS p_user, epoch_us(ts) AS p_tus
  FROM events WHERE event_type = 'purchase'
), cand AS (
  SELECT click_id, purchase_id, p_tus - c_tus AS dt_us,
         abs(p_tus - c_tus) AS abs_dt, p_tus
  FROM c JOIN p
    ON c.user_id = p.p_user
   AND p.p_tus BETWEEN c.c_tus - 3600000000 AND c.c_tus + 3600000000
)
SELECT click_id, purchase_id, CAST(dt_us AS BIGINT) AS dt_us
FROM (SELECT *, row_number() OVER (PARTITION BY click_id
                                   ORDER BY abs_dt, p_tus, purchase_id) AS rn
      FROM cand)
WHERE rn = 1
ORDER BY click_id
"""
register(asof_nearest_events, oracle=ASOF_NEAREST_SQL)


