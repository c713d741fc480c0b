"""Round-7 additions: market-basket rules, clustering coefficient,
referential integrity, embedding statistics, session mining,
Z-order layout, quality-budget curve, bucketed joins, RRF."""
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _t,
    register,
)
from .relational import (  # noqa: F401
    _bm25_scored_docs,
)
from .text import (  # noqa: F401
    _lang_hits_sql,
)
from .dedup import (  # noqa: F401
    jaccard_edges_frame,
)
from .corpus_ops import (  # noqa: F401
    _md5_banded_candidates,
)
from .round5 import (  # noqa: F401
    _co_event_edges,
    _oriented_edges,
)

# --------------------------------------------------------------------------
# round-7 additions: market-basket rules, graph clustering coefficient,
# referential-integrity audit, embedding column statistics / Gram
# matrix / centroid similarity, near-time event dedup, session path
# mining, behavioral entropy, Z-order layout statistics, quality-vs-
# token-budget curve, per-source duplicate share, bucketed co-located
# join
# --------------------------------------------------------------------------


def association_rules_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: each order's
    set of distinct part BRANDS is a basket; directed rules A -> B are
    ranked by lift with support/confidence published alongside -- the
    classic co-purchase mining primitive (and, in a training-data
    pipeline, the same machinery that mines tag/source co-occurrence).

    Exactness: support/confidence/lift are integer ppm via the
    collocation discipline -- counts cast to DECIMAL(38,0) BEFORE the
    c_ab * N products (DuckDB multiplies in HUGEINT), one integer
    division each, no floats.

    Scale: the brand dimension joins broadcast (|part| rows collapse
    to 25 brands); baskets are distinct (order, brand) pairs keyed by
    order; the pair self-join is per-order with fan-out bounded by
    brand cardinality squared (<= 625 directed pairs per order), so it
    scales linearly in orders -- never a global cross join.  Basket
    and single counts reuse one persisted basket frame."""
    from nearscan_kafka_streams_spark.functions.dedup import _persist_tracked

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    baskets = _persist_tracked(
        li.join(
            F.broadcast(
                p.select(
                    F.col("p_partkey").alias("l_partkey"), "p_brand"
                )
            ),
            "l_partkey",
        )
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = baskets.agg(
        F.count_distinct("l_orderkey").cast("decimal(38,0)").alias("n")
    )
    singles = baskets.groupBy("brand").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    l, r = baskets.alias("l"), baskets.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.l_orderkey") == F.col("r.l_orderkey"))
            & (F.col("l.brand") != F.col("r.brand")),
        )
        .groupBy(
            F.col("l.brand").alias("antecedent"),
            F.col("r.brand").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c_ab"))
    )
    return (
        pairs.where(F.col("c_ab") >= 10)
        .join(
            singles.select(
                F.col("brand").alias("antecedent"), F.col("c").alias("c_a")
            ),
            "antecedent",
        )
        .join(
            singles.select(
                F.col("brand").alias("consequent"), F.col("c").alias("c_b")
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.expr("CAST((c_ab * 1000000) div n AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr("CAST((c_ab * 1000000) div c_a AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                "CAST((c_ab * n * 1000000) div (c_a * c_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "antecedent", "consequent")
        .limit(50)
    )


ASSOCIATION_RULES_SQL = r"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand AS brand
  FROM lineitem JOIN part ON p_partkey = l_partkey
), n_orders AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS HUGEINT) AS n FROM baskets
), singles AS (
  SELECT brand, CAST(count(*) AS HUGEINT) AS c FROM baskets GROUP BY brand
), pairs AS (
  SELECT l.brand AS antecedent, r.brand AS consequent,
         CAST(count(*) AS HUGEINT) AS c_ab
  FROM baskets l JOIN baskets r
    ON l.l_orderkey = r.l_orderkey AND l.brand <> r.brand
  GROUP BY l.brand, r.brand
)
SELECT antecedent, consequent, CAST(c_ab AS BIGINT) AS c_ab,
       CAST((c_ab * 1000000) // n AS BIGINT) AS support_ppm,
       CAST((c_ab * 1000000) // a.c AS BIGINT) AS confidence_ppm,
       CAST((c_ab * n * 1000000) // (a.c * b.c) AS BIGINT) AS lift_ppm
FROM pairs
JOIN singles a ON a.brand = antecedent
JOIN singles b ON b.brand = consequent
CROSS JOIN n_orders
WHERE c_ab >= 10
ORDER BY lift_ppm DESC, antecedent, consequent
LIMIT 50
"""
register(association_rules_lineitem, oracle=ASSOCIATION_RULES_SQL)


def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's six FK
    edges: per edge, child row count, NULL-FK rows, and orphans
    (non-null FK with no parent) -- the data-quality gate a pipeline
    runs before trusting any join (a CDC feed that drops parent rows
    shows up here first, cf. the reference's Debezium inputs where a
    missed `receipts` tombstone orphans its outcomes).

    Scale: each edge is one aggregate over the child plus one
    LEFT ANTI join child->parent; Catalyst broadcasts every parent
    that fits (nation/part/supplier/customer here) and falls back to
    a shuffled anti join for the orders-sized ones -- exactly the
    plan you'd pick by hand.  The six one-row results union for
    free."""
    edges = [
        ("customer.c_nationkey->nation", "customer", "c_nationkey",
         "nation", "n_nationkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
         "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
         "nation", "n_nationkey"),
    ]
    out = None
    for name, child, fk, parent, pk in edges:
        c = _t(spark, sf_dir, child)
        par = _t(spark, sf_dir, parent)
        counts = c.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col(fk).isNull().cast("int")).cast("long").alias(
                "n_null_fk"
            ),
        )
        orphans = (
            c.where(F.col(fk).isNotNull())
            .join(par, F.col(fk) == F.col(pk), "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        )
        row = counts.crossJoin(orphans).select(
            F.lit(name).alias("fk_edge"), "n_rows", "n_null_fk", "n_orphans"
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("fk_edge")


REFERENTIAL_INTEGRITY_SQL = r"""
SELECT 'customer.c_nationkey->nation' AS fk_edge,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_fk,
       CAST(sum(CASE WHEN c_nationkey IS NOT NULL AND n_nationkey IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM customer LEFT JOIN nation ON n_nationkey = c_nationkey
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND o_orderkey IS NULL
                THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem LEFT JOIN orders ON o_orderkey = l_orderkey
UNION ALL
SELECT 'lineitem.l_partkey->part',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN l_partkey IS NOT NULL AND p_partkey IS NULL
                THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem LEFT JOIN part ON p_partkey = l_partkey
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN l_suppkey IS NOT NULL AND s_suppkey IS NULL
                THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem LEFT JOIN supplier ON s_suppkey = l_suppkey
UNION ALL
SELECT 'orders.o_custkey->customer',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN o_custkey IS NOT NULL AND c_custkey IS NULL
                THEN 1 ELSE 0 END) AS BIGINT)
FROM orders LEFT JOIN customer ON c_custkey = o_custkey
UNION ALL
SELECT 'supplier.s_nationkey->nation',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN s_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN s_nationkey IS NOT NULL AND n_nationkey IS NULL
                THEN 1 ELSE 0 END) AS BIGINT)
FROM supplier LEFT JOIN nation ON n_nationkey = s_nationkey
ORDER BY fk_edge
"""
register(referential_integrity_audit, oracle=REFERENTIAL_INTEGRITY_SQL)


def behavioral_entropy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral entropy: Shannon entropy of the user's
    event-type distribution in integer micro-nats (the char_entropy
    quantize-before-sum discipline, so the figure is engine-stable).
    Low entropy = single-purpose bots / scripted traffic; high
    entropy = organic multi-feature engagement -- the standard
    behavioral feature next to RFM.

    Reported for the top-100 users by event volume (count desc,
    user_id asc) so the result is bounded at any scale.

    Scale: one (user, type) hash aggregate with map-side combine,
    one per-user sum -- both shuffles keyed by user_id; the top-100
    is a TakeOrderedAndProject, never a global sort."""
    e = _t(spark, sf_dir, "events")
    per_class = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    with_n = per_class.withColumn(
        "n", F.sum("c").over(Window.partitionBy("user_id"))
    )
    term = with_n.select(
        "user_id",
        "n",
        F.expr(
            "CAST(round(1000000.0 * (c / CAST(n AS DOUBLE)) "
            "* ln(CAST(n AS DOUBLE) / c)) AS BIGINT)"
        ).alias("t_micro"),
    )
    return (
        term.groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.sum("t_micro").cast("long").alias("entropy_micronat"),
        )
        .orderBy(F.desc("n_events"), "user_id")
        .limit(100)
    )


BEHAVIORAL_ENTROPY_SQL = r"""
WITH per_class AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY user_id, event_type
), with_n AS (
  SELECT user_id, c, sum(c) OVER (PARTITION BY user_id) AS n
  FROM per_class
)
SELECT user_id,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(1000000.0 * (c / CAST(n AS DOUBLE))
                           * ln(CAST(n AS DOUBLE) / c)) AS BIGINT))
            AS BIGINT) AS entropy_micronat
FROM with_n
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT 100
"""
register(behavioral_entropy_users, oracle=BEHAVIORAL_ENTROPY_SQL)


def duplicate_share_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate share: how much of each source's
    document volume is whitespace-normalized byte-identical to some
    other document (corpus-wide, not just within the source), and how
    many rows a keep-lowest-doc_id dedup would remove from it -- the
    per-provider report that decides which crawls get renegotiated.

    Scale: one md5 fingerprint pass, one hash-keyed aggregate
    (count + min doc_id per fingerprint), one join back on the
    fingerprint, one tiny per-source rollup; both shuffles key on the
    fingerprint, which is uniform by construction -- no skew."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "source",
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("h"),
    )
    groups = fp.groupBy("h").agg(
        F.count(F.lit(1)).alias("gsize"),
        F.min("doc_id").alias("keeper"),
    )
    labeled = fp.join(groups, "h")
    return (
        labeled.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.expr("CAST(gsize > 1 AS INT)")).cast("long").alias(
                "n_dup_docs"
            ),
            F.sum(F.expr("CAST(doc_id <> keeper AS INT)"))
            .cast("long")
            .alias("n_removable"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            "n_removable",
            F.expr(
                "CAST((n_dup_docs * 1000000) div n_docs AS BIGINT)"
            ).alias("dup_share_ppm"),
        )
        .orderBy("source")
    )


DUPLICATE_SHARE_SQL = r"""
WITH fp AS (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
  FROM documents
), groups AS (
  SELECT h, count(*) AS gsize, min(doc_id) AS keeper
  FROM fp GROUP BY h
), labeled AS (
  SELECT fp.source, fp.doc_id, g.gsize, g.keeper
  FROM fp JOIN groups g ON g.h = fp.h
), per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN gsize > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_docs,
         CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removable
  FROM labeled
  GROUP BY source
)
SELECT source, n_docs, n_dup_docs, n_removable,
       CAST((n_dup_docs * 1000000) // n_docs AS BIGINT) AS dup_share_ppm
FROM per_source
ORDER BY source
"""
register(duplicate_share_by_source, oracle=DUPLICATE_SHARE_SQL)


def dedup_near_time_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-time event dedup census: pairs of events with the same
    (user, event_type) and distinct event_ids landing within 10
    minutes of each other -- the double-submit / delivery-retry signature
    that an exact-id dedup (reference's debezium-dedup window,
    TokenBalance.java:82-90) cannot see because the retry minted a
    NEW id.  Reported per event_type: pair count, distinct
    suppressible later-events, and the exact summed gap.

    Scale shape: the banded self-join discipline (same as the
    interval join) -- each event claims its own 600-second bucket and
    probes its predecessor bucket, so the equi-join key is
    (user, type, bucket) and every qualifying pair is matched exactly
    once under the (ts, event_id) orientation; fan-out is bounded by
    per-bucket density, never quadratic in the partition."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("tus"),
    )
    lhs = e.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("id_l"),
        F.col("tus").alias("tus_l"),
        F.expr("tus div 600000000").alias("bucket"),
    )
    rhs = e.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("id_r"),
        F.col("tus").alias("tus_r"),
        F.explode(
            F.array(
                F.expr("tus div 600000000"),
                F.expr("tus div 600000000 - 1"),
            )
        ).alias("bucket"),
    )
    pairs = lhs.join(rhs, ["user_id", "event_type", "bucket"]).where(
        (F.col("tus_r") - F.col("tus_l") <= 600_000_000)
        & (
            (F.col("tus_r") > F.col("tus_l"))
            | (
                (F.col("tus_r") == F.col("tus_l"))
                & (F.col("id_r") > F.col("id_l"))
            )
        )
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.count_distinct("id_r").cast("long").alias("n_suppressible"),
            F.sum(F.col("tus_r") - F.col("tus_l")).cast("long").alias(
                "gap_sum_us"
            ),
        )
        .orderBy("event_type")
    )


DEDUP_NEAR_TIME_SQL = r"""
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus FROM events
), pairs AS (
  SELECT l.event_type,
         r.event_id AS id_r,
         r.tus - l.tus AS gap_us
  FROM e l JOIN e r
    ON l.user_id = r.user_id AND l.event_type = r.event_type
   AND r.tus - l.tus <= 600000000
   AND (r.tus > l.tus OR (r.tus = l.tus AND r.event_id > l.event_id))
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT id_r) AS BIGINT) AS n_suppressible,
       CAST(sum(gap_us) AS BIGINT) AS gap_sum_us
FROM pairs
GROUP BY event_type
ORDER BY event_type
"""
register(dedup_near_time_events, oracle=DEDUP_NEAR_TIME_SQL)


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension statistics of the embedding column (count, sum,
    mean, population second moment, min, max) -- the drift/health
    profile run before any ANN index build (a dimension whose
    variance collapses after a model swap invalidates the index).

    Exactness: each float32 element quantizes to integer micro-units
    (cast to DOUBLE first so both engines round the same 64-bit
    product), sums and squared sums accumulate in DECIMAL(38,0)
    (cast-before-multiply: q*q ~ 2.5e11 per row would wrap a BIGINT
    sum after ~4e7 rows), and every published figure is an integer.

    Scale: one posexplode (rows x dim) feeding a hash aggregate on
    the 64 dimension keys with map-side combine -- the shuffle
    carries 64 partial rows per task, nothing else."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select(
        "dim",
        F.expr(
            "CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) "
            "AS DECIMAL(38,0))"
        ).alias("q"),
    )
    stats = q.groupBy("dim").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("q").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("decimal(38,0)").alias("ss"),
        F.min("q").cast("long").alias("min_micro"),
        F.max("q").cast("long").alias("max_micro"),
    )
    return stats.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("sum_micro"),
        F.expr("CAST(s div n AS BIGINT)").alias("mean_micro"),
        F.expr(
            "CAST((n * ss - s * s) div (n * n) AS BIGINT)"
        ).alias("var_micro2"),
        "min_micro",
        "max_micro",
    ).orderBy("dim")


EMBEDDING_DIM_STATS_SQL = r"""
WITH q AS (
  SELECT g - 1 AS dim,
         CAST(CAST(round(CAST(embedding[g] AS DOUBLE) * 1000000) AS BIGINT)
              AS HUGEINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g)
), stats AS (
  SELECT dim,
         CAST(count(*) AS HUGEINT) AS n,
         sum(q) AS s,
         sum(q * q) AS ss,
         CAST(min(q) AS BIGINT) AS min_micro,
         CAST(max(q) AS BIGINT) AS max_micro
  FROM q GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim,
       CAST(n AS BIGINT) AS n,
       CAST(s AS BIGINT) AS sum_micro,
       CAST(s // n AS BIGINT) AS mean_micro,
       CAST((n * ss - s * s) // (n * n) AS BIGINT) AS var_micro2,
       min_micro, max_micro
FROM stats
ORDER BY dim
"""
register(embedding_dim_stats, oracle=EMBEDDING_DIM_STATS_SQL)


def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids -- the class-confusability matrix (two labels whose
    centroids sit at cosine ~1 will never separate in retrieval, and
    in a curation pipeline near-identical source centroids flag
    mirror crawls).

    Centroid cosine = cosine of the per-label SUM vector (the 1/n
    normalizations cancel), so the whole computation stays in exact
    integer micro-units until one final double division: per-label
    per-dim quantized sums (exact), dot products and norms formed in
    DECIMAL(38,0)/HUGEINT, then cos_ppm = round(1e6 * dot /
    sqrt(na * nb)) where the casts to double of the exact integers
    and the IEEE sqrt/divide are bit-identical across engines.

    Scale: posexplode -> (label, dim) aggregate collapses the corpus
    to |labels| x 64 rows; everything after (self-join on dim, norm
    join) is dimension-table sized.  Adding labels never re-shuffles
    the corpus more than once."""
    emb = _t(spark, sf_dir, "embeddings")
    s = (
        emb.select(
            "label", F.posexplode("embedding").alias("dim", "x")
        )
        .select(
            "label",
            "dim",
            F.expr(
                "CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) "
                "AS DECIMAL(38,0))"
            ).alias("q"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("q").cast("decimal(38,0)").alias("s"))
    )
    from nearscan_kafka_streams_spark.functions.dedup import _persist_tracked

    s = _persist_tracked(s)
    norms = s.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).cast("decimal(38,0)").alias("n2")
    )
    a, b = s.alias("a"), s.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum(F.col("a.s") * F.col("b.s"))
            .cast("decimal(38,0)")
            .alias("dot")
        )
    )
    return (
        dots.join(
            F.broadcast(
                norms.select(
                    F.col("label").alias("label_a"), F.col("n2").alias("na")
                )
            ),
            "label_a",
        )
        .join(
            F.broadcast(
                norms.select(
                    F.col("label").alias("label_b"), F.col("n2").alias("nb")
                )
            ),
            "label_b",
        )
        .select(
            "label_a",
            "label_b",
            F.expr(
                "CAST(round(1000000.0 * CAST(dot AS DOUBLE) / "
                "sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT)"
            ).alias("cos_ppm"),
        )
        .orderBy("label_a", "label_b")
    )


LABEL_CENTROID_SQL = r"""
WITH q AS (
  SELECT label, g - 1 AS dim,
         CAST(CAST(round(CAST(embedding[g] AS DOUBLE) * 1000000) AS BIGINT)
              AS HUGEINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g)
), s AS (
  SELECT label, dim, sum(q) AS s FROM q GROUP BY label, dim
), norms AS (
  SELECT label, sum(s * s) AS n2 FROM s GROUP BY label
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b, sum(a.s * b.s) AS dot
  FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b,
       CAST(round(1000000.0 * CAST(dot AS DOUBLE)
                  / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
            AS BIGINT) AS cos_ppm
FROM dots
JOIN norms na ON na.label = label_a
JOIN norms nb ON nb.label = label_b
ORDER BY label_a, label_b
"""
register(label_centroid_similarity, oracle=LABEL_CENTROID_SQL)


def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram matrix of the quantized embedding corpus
    (G = Q^T Q over integer micro-units) -- the sufficient statistic
    for PCA / whitening / covariance drift, computed as distributed
    PARTIAL matrices: each Arrow batch contributes one 64x64 integer
    Gram via a vectorized matmul, and Spark reduces the 2080
    upper-triangle cells with map-side combine.  This is the
    canonical "aggregate a small dense matrix off a huge tall-skinny
    one" pattern -- the corpus is read once, nothing quadratic in
    rows ever materializes.

    Exactness: quantization is sign * floor(|x| * 1e6 + 0.5) on the
    float64-widened value (half-away-from-zero, matching both
    engines' round()); per-batch products stay within int64 (bound
    ~2.5e11 per row x <=8192 rows per chunk = 2e15), and the
    cross-batch reduce carries DECIMAL(38,0) so the corpus-wide sum
    cannot wrap at any scale.

    Scale: the only shuffle moves |batches| x 2080 tiny rows; at a
    1000-executor 100 TB run this is exactly treeAggregate's shape,
    expressed declaratively."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    emb = _t(spark, sf_dir, "embeddings").select("embedding")
    part_schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("g", LongType()),
        ]
    )

    def partial_gram(batches):
        iu = None
        for pdf in batches:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            if mat.size == 0:
                continue
            if iu is None:
                d = mat.shape[1]
                iu = np.triu_indices(d)
            for lo in range(0, mat.shape[0], 8192):
                chunk = mat[lo : lo + 8192]
                scaled = np.abs(chunk) * 1e6 + 0.5
                q = (np.sign(chunk) * np.floor(scaled)).astype(np.int64)
                g = q.T @ q
                yield pd.DataFrame(
                    {
                        "i": iu[0].astype("int32"),
                        "j": iu[1].astype("int32"),
                        "g": g[iu],
                    }
                )

    partials = emb.mapInPandas(partial_gram, schema=part_schema)
    return (
        partials.groupBy("i", "j")
        .agg(
            F.sum(F.col("g").cast("decimal(38,0)"))
            .cast("long")
            .alias("gram")
        )
        .orderBy("i", "j")
    )


EMBEDDING_GRAM_SQL = r"""
WITH q AS (
  SELECT vec_id, g - 1 AS dim,
         CAST(CAST(round(CAST(embedding[g] AS DOUBLE) * 1000000) AS BIGINT)
              AS HUGEINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g)
)
SELECT CAST(a.dim AS INT) AS i, CAST(b.dim AS INT) AS j,
       CAST(sum(a.q * b.q) AS BIGINT) AS gram
FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
GROUP BY a.dim, b.dim
ORDER BY i, j
"""
register(embedding_gram_matrix, oracle=EMBEDDING_GRAM_SQL)


def zorder_layout_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout statistics for lineitem over the
    (l_partkey, l_suppkey) pair: each key quantizes to a 4-bit bin by
    range, the bins bit-interleave into a 0..255 Z-value, and the
    report shows per-Z-bucket row counts plus the min/max of BOTH
    dimensions inside the bucket -- the file-skipping footprint a
    writer gets from ``repartitionByRange(z).sortWithinPartitions(z)``
    at write time.  Tight min/max envelopes on both dims at once is
    the whole point of Z-ordering (a single-column sort gives tight
    stats on one dim and useless ones on the other).

    Exactness: bit interleave is expressed as pure integer div/mod
    arithmetic (no engine-specific bit operators), identical in the
    oracle.

    Scale: one pass to compute the two range maxima (broadcast back),
    one projection, one 256-group aggregate with map-side combine --
    the layout DECISION costs two scans regardless of corpus size,
    which is why table formats persist these stats instead of
    recomputing them."""
    li = _t(spark, sf_dir, "lineitem")
    maxima = li.agg(
        F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
    )
    binned = li.select("l_partkey", "l_suppkey").crossJoin(
        F.broadcast(maxima)
    ).select(
        "l_partkey",
        "l_suppkey",
        F.expr("CAST(l_partkey * 16 div (mp + 1) AS BIGINT)").alias("bp"),
        F.expr("CAST(l_suppkey * 16 div (ms + 1) AS BIGINT)").alias("bs"),
    )
    z = (
        "((bp div 1) % 2) * 2 + ((bs div 1) % 2) * 1 + "
        "((bp div 2) % 2) * 8 + ((bs div 2) % 2) * 4 + "
        "((bp div 4) % 2) * 32 + ((bs div 4) % 2) * 16 + "
        "((bp div 8) % 2) * 128 + ((bs div 8) % 2) * 64"
    )
    return (
        binned.withColumn("z", F.expr(f"CAST({z} AS BIGINT)"))
        .groupBy("z")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("l_partkey").cast("long").alias("min_part"),
            F.max("l_partkey").cast("long").alias("max_part"),
            F.min("l_suppkey").cast("long").alias("min_supp"),
            F.max("l_suppkey").cast("long").alias("max_supp"),
        )
        .orderBy("z")
    )


ZORDER_LAYOUT_SQL = r"""
WITH maxima AS (
  SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem
), binned AS (
  SELECT l_partkey, l_suppkey,
         CAST(l_partkey * 16 // (mp + 1) AS BIGINT) AS bp,
         CAST(l_suppkey * 16 // (ms + 1) AS BIGINT) AS bs
  FROM lineitem CROSS JOIN maxima
), zed AS (
  SELECT l_partkey, l_suppkey,
         CAST(((bp // 1) % 2) * 2 + ((bs // 1) % 2) * 1
            + ((bp // 2) % 2) * 8 + ((bs // 2) % 2) * 4
            + ((bp // 4) % 2) * 32 + ((bs // 4) % 2) * 16
            + ((bp // 8) % 2) * 128 + ((bs // 8) % 2) * 64 AS BIGINT) AS z
  FROM binned
)
SELECT z,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_partkey) AS BIGINT) AS min_part,
       CAST(max(l_partkey) AS BIGINT) AS max_part,
       CAST(min(l_suppkey) AS BIGINT) AS min_supp,
       CAST(max(l_suppkey) AS BIGINT) AS max_supp
FROM zed
GROUP BY z
ORDER BY z
"""
register(zorder_layout_lineitem, oracle=ZORDER_LAYOUT_SQL)


def quality_budget_curve_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curve: sweeping a quality threshold from the top
    of the corpus down, how many documents and tokens are admitted
    before each target budget fills -- the curve a curation run reads
    to pick its quality cutoff ("1M tokens of the cleanest text costs
    this threshold").  Quality proxy: alphabetic-character ratio in
    integer ppm (pure integer arithmetic); tokens: whitespace tokens
    (the token_accounting formula); docs with zero tokens carry no
    budget and are excluded.

    Scale (the round-6 window-buffering discipline): documents
    pre-collapse onto the <=10001-point quantized quality grid
    BEFORE any running sum, so the unpartitioned cumulative window
    orders a bounded grid, never the corpus; the budget probe is a
    tiny cross join + min_by against that grid."""
    budgets = [
        1_000, 10_000, 25_000, 100_000, 250_000, 1_000_000, 10_000_000
    ]
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.expr(
            "CAST(length(regexp_replace(text, '[^A-Za-z]', '')) * 1000000 "
            "div length(text) AS BIGINT)"
        ).alias("score_ppm"),
        F.expr(
            "CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE size(split(trim(text), '\\\\s+')) END"
        ).alias("toks"),
    ).where((F.col("toks") > 0) & F.col("score_ppm").isNotNull())
    grid = scored.groupBy(
        F.expr("score_ppm div 100").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("n_toks"),
    )
    wcum = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "bucket",
        F.sum("n_docs").over(wcum).alias("cum_docs"),
        F.sum("n_toks").over(wcum).alias("cum_toks"),
    )
    b = spark.createDataFrame(
        [(x,) for x in budgets], "budget_tokens long"
    )
    return (
        cum.join(F.broadcast(b), F.col("cum_toks") >= F.col("budget_tokens"))
        .groupBy("budget_tokens")
        .agg(
            F.min_by("bucket", "cum_toks").cast("long").alias(
                "score_floor_bucket"
            ),
            F.min("cum_toks").cast("long").alias("tokens_admitted"),
            F.min_by("cum_docs", "cum_toks").cast("long").alias(
                "docs_admitted"
            ),
        )
        .orderBy("budget_tokens")
    )


QUALITY_BUDGET_CURVE_SQL = r"""
WITH scored AS (
  SELECT CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000000
              // length(text) AS BIGINT) AS score_ppm,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
  FROM documents
  WHERE length(text) > 0
), grid AS (
  SELECT score_ppm // 100 AS bucket,
         count(*) AS n_docs, sum(toks) AS n_toks
  FROM scored WHERE toks > 0
  GROUP BY 1
), cum AS (
  SELECT bucket,
         sum(n_docs) OVER (ORDER BY bucket DESC) AS cum_docs,
         sum(n_toks) OVER (ORDER BY bucket DESC) AS cum_toks
  FROM grid
), budgets AS (
  SELECT unnest([1000, 10000, 25000, 100000, 250000,
                 1000000, 10000000]) AS budget_tokens
)
SELECT CAST(budget_tokens AS BIGINT) AS budget_tokens,
       CAST(min_by(bucket, cum_toks) AS BIGINT) AS score_floor_bucket,
       CAST(min(cum_toks) AS BIGINT) AS tokens_admitted,
       CAST(min_by(cum_docs, cum_toks) AS BIGINT) AS docs_admitted
FROM cum JOIN budgets ON cum_toks >= budget_tokens
GROUP BY budget_tokens
ORDER BY budget_tokens
"""
register(quality_budget_curve_documents, oracle=QUALITY_BUDGET_CURVE_SQL)


def top_paths_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 session opening paths: sessionize events by the standard
    30-minute gap (the sessionize_events contract), take each
    session's first three event types in time order, and rank the
    resulting paths by frequency -- entry-path mining, the first
    question asked of any sessionized stream ("what do users DO
    first?").

    Determinism: within-session order ties on (event-time micros,
    event_id); the final ranking ties on the path string.

    Scale: the gap-flag/running-sum windows and the per-session
    collect all partition by user_id (one shuffle); per-session state
    is at most the first three events thanks to the rank filter
    BEFORE the collect; the global top-50 is TakeOrderedAndProject
    over |distinct paths| aggregated rows."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("tus"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap = 30 * 60 * 1_000_000
    sess = e.withColumn(
        "new_s",
        F.when(F.col("tus") - F.lag("tus").over(w) > gap, 1)
        .otherwise(0)
        .cast("long"),
    ).withColumn(
        "seq",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "seq").orderBy("tus", "event_id")
    first3 = sess.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= 3
    )
    paths = first3.groupBy("user_id", "seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(50)
    )


TOP_PATHS_SQL = r"""
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus FROM events
), flagged AS (
  SELECT *,
         CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id
                                        ORDER BY tus, event_id)
                   > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM e
), sess AS (
  SELECT *,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                          ROWS UNBOUNDED PRECEDING) AS seq
  FROM flagged
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, seq
                            ORDER BY tus, event_id) AS rn
  FROM sess
), paths AS (
  SELECT user_id, seq,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= 3
  GROUP BY user_id, seq
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 50
"""
register(top_paths_sessions, oracle=TOP_PATHS_SQL)


def clustering_coefficient_users(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    orientation: str = "auto",
) -> DataFrame:
    """Local clustering coefficient over the user co-occurrence graph
    (same graph as triangle_count_users, via the shared
    ``_co_event_edges`` builder): per node, degree, triangle count,
    and cc_ppm = 1e6 * 2*tri / (deg*(deg-1)) -- the community-density
    feature that separates clique-like spam rings (cc ~ 1) from hub
    users (high degree, low cc).  Top-100 by (degree desc, user_id)
    keeps the result bounded at any scale.

    Exactness: triangles and degrees are exact integer counts off the
    oriented u<v edge list; the coefficient is one integer division
    to ppm.

    Scale: degree = one aggregate over the (already persisted,
    capped) edge list's two node projections; per-node triangles =
    per-edge common-neighbor intersection re-projected to base
    endpoints and apexes (see inline note) -- all equi-joins on node
    ids, sized by the edge list, never the event log or the open
    wedge set.  ``orientation``: see ``_oriented_edges`` (auto-gated
    id-order vs degree-order; the heavy-tail seam executed on the
    round-12 hub stress graph, SCALE.md)."""
    from nearscan_kafka_streams_spark.functions.dedup import _persist_tracked

    if edges is None:
        edges = _co_event_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Adjacency-intersection instead of the wedge double self-join
    # (round 11, same change as triangle_count_users): per oriented
    # edge (u,v) the apexes are N+(u) ∩ N+(v), so each triangle
    # contributes |common| to BOTH base endpoints and 1 to each apex
    # at its order-minimal base edge -- identical per-node counts to
    # the old three-corner projection of the materialized triangle
    # frame, for ANY total-order orientation, without pushing 67M
    # open wedges through a shuffle (measured 7.29 -> 2.28 s on
    # staged edges at sf0.1, rows identical).  ``orientation`` gates
    # id-order vs degree-order exactly as in triangle_count_users
    # (see _oriented_edges; the published ``degree`` column stays the
    # UNDIRECTED degree off the original edge list either way).  The
    # common-neighbor frame feeds THREE projections below;
    # unpersisted, Catalyst re-runs the intersection join per
    # projection (same lesson as the old tri persist: 16.4 s vs ~8 s
    # at sf0.1).
    oe, _chosen = _oriented_edges(edges, orientation)
    adj = oe.groupBy(F.col("u").alias("x")).agg(
        F.collect_list("v").alias("nbrs")
    )
    wk = _persist_tracked(
        oe.join(
            adj.select(F.col("x").alias("u"), F.col("nbrs").alias("nu")),
            "u",
        )
        .join(
            adj.select(F.col("x").alias("v"), F.col("nbrs").alias("nv")),
            "v",
        )
        .select("u", "v", F.array_intersect("nu", "nv").alias("common"))
        .withColumn("k", F.size("common"))
    )
    tri_nodes = (
        wk.select(F.col("u").alias("x"), F.col("k").alias("c"))
        .unionAll(wk.select(F.col("v").alias("x"), F.col("k").alias("c")))
        .unionAll(
            wk.select(
                F.explode("common").alias("x"), F.lit(1).alias("c")
            )
        )
        .groupBy("x")
        .agg(F.sum("c").alias("n_tri"))
    )
    return (
        deg.join(tri_nodes, "x", "left")
        .select(
            F.col("x").cast("long").alias("user_id"),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_triangles"),
        )
        .withColumn(
            "cc_ppm",
            F.expr(
                "CASE WHEN degree >= 2 THEN "
                "CAST((n_triangles * 2000000) div (degree * (degree - 1)) "
                "AS BIGINT) ELSE 0 END"
            ),
        )
        .orderBy(F.desc("degree"), "user_id")
        .limit(100)
    )


CLUSTERING_COEFF_SQL = r"""
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
), deg AS (
  SELECT x, count(*) AS deg
  FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY x
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
), tri_nodes AS (
  SELECT x, count(*) AS n_tri
  FROM (SELECT a AS x FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY x
)
SELECT CAST(deg.x AS BIGINT) AS user_id,
       CAST(deg.deg AS BIGINT) AS degree,
       CAST(COALESCE(tn.n_tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.deg >= 2 THEN
         CAST((COALESCE(tn.n_tri, 0) * 2000000)
              // (deg.deg * (deg.deg - 1)) AS BIGINT)
       ELSE 0 END AS cc_ppm
FROM deg LEFT JOIN tri_nodes tn ON tn.x = deg.x
ORDER BY degree DESC, user_id
LIMIT 100
"""
register(clustering_coefficient_users, oracle=CLUSTERING_COEFF_SQL)


def bucketed_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via BUCKETED table layout: write
    lineitem and orders bucketed 8 ways on the join key (hash-bucket
    files + catalog metadata), then join the bucketed reads -- the
    physical plan carries NO Exchange on either side of the
    SortMergeJoin (plan-asserted in tests), because both scans
    already expose the same HashPartitioning.  At 100 TB this is THE
    lever for a fact-fact join that broadcast can't touch and AQE
    can only mitigate: the shuffle is paid ONCE at write time and
    amortized over every subsequent join (the same trade the
    reference bakes in by keying its Kafka topics, so co-partitioned
    stream joins never re-shuffle, TokenBalance.java:116-122).

    The result itself (revenue by order priority) is
    layout-independent, so the DuckDB oracle runs the plain join --
    hash equality proves bucketing changed the PLAN, not the answer.

    Scale: bucket count here is 8 for the test corpora; a real
    deployment sizes it to executors x a small factor and both
    tables MUST agree on it (Spark joins bucketed tables
    shuffle-free only when bucket counts match or divide)."""
    import tempfile

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    base = tempfile.mkdtemp(prefix="r7_bucketed_")
    for name, df, key in (
        ("r7_bkt_lineitem", li, "l_orderkey"),
        ("r7_bkt_orders", o, "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{base}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    bl = spark.table("r7_bkt_lineitem")
    bo = spark.table("r7_bkt_orders")
    # MERGE hint: at test scale Catalyst would broadcast the small
    # side and never touch the bucket metadata; at 100 TB neither
    # fact table broadcasts, so the hint pins the plan to the
    # strategy the layout exists for (bucketed SMJ, zero exchanges,
    # zero per-join sorts)
    return (
        bl.hint("merge")
        .join(bo.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


BUCKETED_JOIN_SQL = r"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
register(bucketed_join_lineitem, oracle=BUCKETED_JOIN_SQL)


def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion: the lexical BM25
    ranking (shared ``_bm25_scored_docs`` leg, fixed 3-term query) and
    the dense cosine ranking (query = the embedding of vec_id 0,
    aligned 1:1 with doc_id) each contribute 1e6 div (60 + rank) for
    their top-100, summed over a full outer join -- the standard
    fusion behind every production "semantic + keyword" search box.

    Exactness: both legs rank INTEGER scores (micro-BM25, cos_ppm with
    the label_centroid integer-dot/IEEE-sqrt recipe) with doc-id
    tie-breaks, and the RRF contribution is one integer division, so
    the fused ranking is engine-exact end to end.

    Scale: each leg's rank window runs AFTER its top-100 truncation
    (TakeOrderedAndProject does the global heavy lifting; the
    single-partition WindowExec orders 100 rows).  The dense leg
    broadcasts one query row and never joins the corpus to itself."""
    t_top = (
        _bm25_scored_docs(spark, sf_dir)
        .orderBy(F.desc("s"), "doc_id")
        .limit(100)
        .withColumn(
            "rank_text",
            F.row_number().over(Window.orderBy(F.desc("s"), "doc_id")),
        )
        .select("doc_id", "rank_text")
    )
    emb = _t(spark, sf_dir, "embeddings")
    # quantize elementwise (house micro-units); per-row dot/norm stay
    # within int64 (64 dims x 2.5e11)
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("qe"),
    )
    qv = q.where(F.col("vec_id") == 0).select(F.col("qe").alias("qv"))
    dotted = q.crossJoin(F.broadcast(qv)).select(
        "vec_id",
        F.expr(
            "aggregate(zip_with(qe, qv, (a, b) -> a * b), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("dot"),
        F.expr(
            "aggregate(zip_with(qe, qe, (a, b) -> a * b), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("na"),
        F.expr(
            "aggregate(zip_with(qv, qv, (a, b) -> a * b), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("nq"),
    )
    v_top = (
        dotted.where((F.col("na") > 0) & (F.col("nq") > 0))
        .select(
            "vec_id",
            F.expr(
                "CAST(round(1000000.0 * CAST(dot AS DOUBLE) / "
                "sqrt(CAST(na AS DOUBLE) * CAST(nq AS DOUBLE))) AS BIGINT)"
            ).alias("cos_ppm"),
        )
        .orderBy(F.desc("cos_ppm"), "vec_id")
        .limit(100)
        .withColumn(
            "rank_dense",
            F.row_number().over(Window.orderBy(F.desc("cos_ppm"), "vec_id")),
        )
        .select(F.col("vec_id").alias("doc_id"), "rank_dense")
    )
    fused = t_top.join(v_top, "doc_id", "full_outer").select(
        "doc_id",
        "rank_text",
        "rank_dense",
        (
            F.coalesce(
                F.expr("1000000 div (60 + rank_text)"), F.lit(0)
            )
            + F.coalesce(
                F.expr("1000000 div (60 + rank_dense)"), F.lit(0)
            )
        )
        .cast("long")
        .alias("rrf_ppm"),
    )
    return fused.orderBy(F.desc("rrf_ppm"), "doc_id").limit(20)


HYBRID_RRF_SQL = r"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
                                            'g'), ' ')) AS term
  FROM documents
), doclen AS (
  SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id
), corpus AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM doclen
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM words WHERE term IN ('spark', 'join', 'window')
  GROUP BY doc_id, term
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
), scored AS (
  SELECT t.doc_id,
         CAST(round(ln(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                    * (t.tf * 2.2)
                    / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / c.avgdl))
                    * 1000000) AS BIGINT) AS q
  FROM tf t JOIN df d USING (term)
            JOIN doclen l USING (doc_id)
            CROSS JOIN corpus c
), t_scores AS (
  SELECT doc_id, CAST(sum(q) AS BIGINT) AS s
  FROM scored GROUP BY doc_id
  ORDER BY s DESC, doc_id LIMIT 100
), t_top AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY s DESC, doc_id) AS rank_text
  FROM t_scores
), qe AS (
  SELECT vec_id, g - 1 AS dim,
         CAST(round(CAST(embedding[g] AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g)
), qv AS (
  SELECT dim, q FROM qe WHERE vec_id = 0
), dotted AS (
  SELECT qe.vec_id,
         sum(qe.q * qv.q) AS dot,
         sum(qe.q * qe.q) AS na,
         (SELECT sum(q * q) FROM qv) AS nq
  FROM qe JOIN qv USING (dim)
  GROUP BY qe.vec_id
), v_scores AS (
  SELECT vec_id,
         CAST(round(1000000.0 * CAST(dot AS DOUBLE)
                    / sqrt(CAST(na AS DOUBLE) * CAST(nq AS DOUBLE)))
              AS BIGINT) AS cos_ppm
  FROM dotted WHERE na > 0 AND nq > 0
  ORDER BY cos_ppm DESC, vec_id LIMIT 100
), v_top AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY cos_ppm DESC, vec_id) AS rank_dense
  FROM v_scores
)
SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
       CAST(t.rank_text AS BIGINT) AS rank_text,
       CAST(v.rank_dense AS BIGINT) AS rank_dense,
       CAST(COALESCE(1000000 // (60 + t.rank_text), 0)
            + COALESCE(1000000 // (60 + v.rank_dense), 0) AS BIGINT)
         AS rrf_ppm
FROM t_top t FULL OUTER JOIN v_top v USING (doc_id)
ORDER BY rrf_ppm DESC, doc_id
LIMIT 20
"""
register(hybrid_rrf_retrieval, oracle=HYBRID_RRF_SQL)


def minhash_candidate_pr_audit(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Precision/recall audit of banded-MinHash candidate generation
    against EXACT ground truth: candidates from an md5 8-hash
    2-bands-of-4 construction (banding threshold t ~ (1/2)^(1/4) ~
    0.84, degenerate band buckets > 200 docs dropped -- see
    ``_md5_banded_candidates``) scored against the production exact
    Jaccard >= 0.8 edge set
    (`jaccard_edges_frame` -- the same frame the cluster family
    dedups on) -- the tuning report every LSH deployment reads before
    trusting its bands (recall says what the dedup MISSES; precision
    says how much exact-verify work each candidate costs).  One-row
    integer-ppm report, fully cross-engine-checkable because both
    legs are.

    Scale: both legs are the already-scale-shaped constructions
    (banded equi-join; AllPairs prefix filtering) plus one pair-keyed
    join and a scalar aggregate.  ``edges``: optionally the staged
    ``jaccard_edges_frame`` (see ``dedup_clusters``) so a pipeline
    auditing next to its cluster reports pays the AllPairs join
    once."""
    from nearscan_kafka_streams_spark.functions.dedup import _persist_tracked

    d = _t(spark, sf_dir, "documents")
    # the candidate frame feeds BOTH the count and the hits join;
    # unpersisted, the 8-permutation signature pass (the audit's
    # dominant cost) runs twice
    cand = _persist_tracked(
        _md5_banded_candidates(d, n_hashes=8, rows_per_band=4, bucket_cap=200)
    )
    if edges is None:
        truth = jaccard_edges_frame(spark, sf_dir)
    else:
        truth = edges
    # the truth leg is consumed twice (hits join + n_truth count), so
    # persist it in BOTH branches: _persist_tracked declines ownership
    # of any plan already cached (e.g. a caller-persisted staged
    # ``edges=`` frame), so this can never hand the caller's cache to
    # release_cached() -- and a caller passing an UNPERSISTED frame
    # still gets the exact-Jaccard leg computed once, not twice.
    truth = _persist_tracked(truth.select("left_id", "right_id"))
    hits = cand.join(truth, ["left_id", "right_id"])
    n_c = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_h = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_c.crossJoin(n_t)
        .crossJoin(n_h)
        .select(
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.expr(
                "CASE WHEN n_candidates > 0 THEN "
                "CAST((n_hits * 1000000) div n_candidates AS BIGINT) "
                "ELSE CAST(NULL AS BIGINT) END"
            ).alias("precision_ppm"),
            F.expr(
                "CASE WHEN n_truth > 0 THEN "
                "CAST((n_hits * 1000000) div n_truth AS BIGINT) "
                "ELSE CAST(NULL AS BIGINT) END"
            ).alias("recall_ppm"),
        )
    )


MINHASH_PR_AUDIT_SQL = r"""
WITH g AS (
  SELECT doc_id,
         list_distinct([substring(t, i, 3)
                        for i in range(1, greatest(length(t) - 2, 1) + 1)])
           AS grams
  FROM (SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents)
), sig AS (
  SELECT doc_id,
         [list_min([md5('s' || CAST(s AS VARCHAR) || ':' || gr)
                    for gr in grams])
          for s in range(0, 8)] AS sg
  FROM g
), bands AS (
  SELECT doc_id,
         unnest([{'band': b,
                  'bkey': md5(sg[4*b + 1] || '|' || sg[4*b + 2] || '|'
                              || sg[4*b + 3] || '|' || sg[4*b + 4])}
                 for b in range(0, 2)]) AS bb
  FROM sig
), capped AS (
  SELECT doc_id, bb FROM (
    SELECT doc_id, bb,
           count(*) OVER (PARTITION BY bb.band, bb.bkey) AS bsize
    FROM bands)
  WHERE bsize <= 200
), cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM capped a JOIN capped b
    ON a.bb.band = b.bb.band AND a.bb.bkey = b.bb.bkey
   AND a.doc_id < b.doc_id
), p AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
         length(list_intersect(a.grams, b.grams)) AS i,
         length(a.grams) AS la, length(b.grams) AS lb
  FROM g a JOIN g b ON a.doc_id < b.doc_id
), truth AS (
  SELECT left_id, right_id FROM p
  WHERE 5 * i >= 4 * (la + lb - i)
), counts AS (
  SELECT (SELECT count(*) FROM cand) AS n_candidates,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM cand JOIN truth USING (left_id, right_id))
           AS n_hits
)
SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_hits AS BIGINT) AS n_hits,
       CASE WHEN n_candidates > 0
            THEN CAST((n_hits * 1000000) // n_candidates AS BIGINT)
            ELSE CAST(NULL AS BIGINT) END AS precision_ppm,
       CASE WHEN n_truth > 0
            THEN CAST((n_hits * 1000000) // n_truth AS BIGINT)
            ELSE CAST(NULL AS BIGINT) END AS recall_ppm
FROM counts
"""
register(minhash_candidate_pr_audit, oracle=MINHASH_PR_AUDIT_SQL)


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-heuristic language identifier
    against the corpus's declared ``lang`` labels: per (declared,
    predicted) cell, document count and the within-declared share in
    ppm -- the eval report that justifies (or indicts) using the
    cheap heuristic as a filter gate (its per-doc scores are
    `text_lang_id`; this is the corpus-level quality statement).

    Scale: one scan scoring every document (pure codegen string
    expressions), one small groupBy, one |langs|-row window for the
    shares."""
    from nearscan_kafka_streams_spark.functions.dedup import _spread
    from nearscan_kafka_streams_spark.functions.text import lang_id

    # the per-doc scoring expressions execute in the scan's
    # partitioning -- one split at bench scale (round-12 stage census:
    # 1.4 s of 2.6 s wall on a single task).  _spread is a no-op at
    # scale.
    d = _spread(_t(spark, sf_dir, "documents"))
    cells = (
        d.select("lang", lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        cells.withColumn(
            "share_ppm",
            F.expr(
                "CAST((n_docs * 1000000) div "
                "sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)"
            ),
        )
        .select(
            "lang",
            "lang_pred",
            F.col("n_docs").cast("long").alias("n_docs"),
            "share_ppm",
        )
        .orderBy("lang", "lang_pred")
    )


LANG_CONFUSION_SQL = rf"""
WITH h AS (
  SELECT lang,
         {_lang_hits_sql('en')} AS en, {_lang_hits_sql('de')} AS de,
         {_lang_hits_sql('fr')} AS fr, {_lang_hits_sql('es')} AS es
  FROM documents
), pred AS (
  SELECT lang,
         CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
              WHEN en = greatest(en, de, fr, es) THEN 'en'
              WHEN de = greatest(en, de, fr, es) THEN 'de'
              WHEN fr = greatest(en, de, fr, es) THEN 'fr'
              ELSE 'es' END AS lang_pred
  FROM h
), cells AS (
  SELECT lang, lang_pred, count(*) AS n_docs
  FROM pred GROUP BY lang, lang_pred
)
SELECT lang, lang_pred, CAST(n_docs AS BIGINT) AS n_docs,
       CAST((n_docs * 1000000)
            // sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
FROM cells
ORDER BY lang, lang_pred
"""
register(lang_id_confusion, oracle=LANG_CONFUSION_SQL)


def dedup_threshold_sweep(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Dedup tuning curve: for Jaccard thresholds 0.80 / 0.85 / 0.90 /
    0.95, how many near-dup pairs survive, how many clusters they
    form, and how many documents dedup would remove -- the sweep read
    before committing a threshold (the census shows ONE threshold's
    cluster structure; this shows the knob's whole response curve).

    Exactness: thresholds apply as integer p/q predicates over the
    exact (inter_size, union_size) columns of the Jaccard >= 0.8 edge
    frame -- threshold monotonicity makes every t >= 0.8 sweep a pure
    FILTER of the one staged frame, no recomputation, no floats.

    Scale: the AllPairs join runs once (or arrives staged via
    ``edges=``); the DISTRIBUTED component fixpoint runs once, at the
    loosest threshold (0.80).  Every tighter threshold's components
    are refinements of the 0.80 components (raising the threshold
    only removes edges), so all three are ONE single-pass grouped
    union-find within the 0.80 clusters emitting per-threshold labels
    (``refine_components_multi`` -- round 13, sharpening the round-8
    "1 fixpoint + 3 refinements" to "1 fixpoint + 1 multi-threshold
    refinement": each edge is unioned once at the tightest threshold
    it satisfies, labels snapshot per tier, and the three per-tier
    Python group passes collapse to one).  Pair counts for all four
    thresholds come from one conditional aggregate over the staged
    frame instead of four filtered counts.  Cost contract unchanged:
    the bench times the INCREMENTAL cost given staged edges -- this
    re-plan changes how that increment is spent (fewer passes), not
    what is computed; the report stays the same 4 rows (methodology
    note: OPTIMIZATION_r13.md / SCALE.md round-13)."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        _persist_tracked,
        connected_components,
        refine_components_multi,
    )

    if edges is None:
        edges = _persist_tracked(
            jaccard_edges_frame(spark, sf_dir).select(
                "left_id", "right_id", "inter_size", "union_size"
            )
        )
    else:
        # caller-owned staged frame.  The full-width projection
        # canonicalizes to the SAME CacheManager entry as the staged
        # frame itself (sameResult) -- the round-7 bug where tracking
        # it handed the CALLER's cache to release_cached() (measured:
        # the staged frame died here and every later consumer in the
        # bench staging window recomputed the AllPairs join;
        # corpus_clean_pipeline 24.6 s instead of ~3 s).  Safe now:
        # _persist_tracked declines ownership of any already-cached
        # plan, and a caller passing an UNPERSISTED frame gets it
        # computed once instead of once per threshold.
        edges = _persist_tracked(
            edges.select("left_id", "right_id", "inter_size", "union_size")
        )
    tiers = [(80, 4, 5), (85, 17, 20), (90, 9, 10), (95, 19, 20)]

    def _pred(p: int, q: int) -> F.Column:
        return F.lit(q) * F.col("inter_size") >= F.lit(p) * F.col(
            "union_size"
        )

    # loosest threshold: the one distributed fixpoint; its labels seed
    # every tighter threshold's refinement
    et80 = _persist_tracked(
        edges.where(_pred(4, 5)).select("left_id", "right_id")
    )
    comps80 = _persist_tracked(connected_components(et80))
    # one grouped union-find pass emits (threshold_pct, node,
    # component) for ALL tighter thresholds; persisted because the
    # stats aggregate below is its only consumer but reads it once per
    # branch the optimizer keeps
    sweep = _persist_tracked(
        refine_components_multi(edges, comps80, tiers[1:])
    )
    # pair counts for all four thresholds: ONE aggregate over the
    # staged frame (count ignores the when()'s null branch, so an
    # empty tier counts 0, matching the old filtered count)
    np_row = edges.agg(
        *[
            F.count(F.when(_pred(p, q), F.lit(1)))
            .cast("long")
            .alias(f"np{pct}")
            for pct, p, q in tiers
        ]
    )
    np_tall = np_row.select(
        F.expr(
            "stack(4, "
            + ", ".join(
                f"CAST({pct} AS BIGINT), np{pct}" for pct, _, _ in tiers
            )
            + ") as (threshold_pct, n_pairs)"
        )
    )
    stats80 = comps80.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_linked"),
        F.count_distinct("component").cast("long").alias("n_clusters"),
    ).select(
        F.lit(80).cast("long").alias("threshold_pct"),
        "n_docs_linked",
        "n_clusters",
    )
    sweep_stats = sweep.groupBy("threshold_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_linked"),
        F.count_distinct("component").cast("long").alias("n_clusters"),
    )
    # a tier with zero qualifying edges has no sweep rows but must
    # still report a zero row (the oracle emits one per threshold)
    seed = spark.createDataFrame(
        [(pct,) for pct, _, _ in tiers[1:]], "threshold_pct long"
    )
    tight_stats = seed.join(sweep_stats, "threshold_pct", "left").select(
        "threshold_pct",
        F.coalesce("n_docs_linked", F.lit(0)).cast("long").alias(
            "n_docs_linked"
        ),
        F.coalesce("n_clusters", F.lit(0)).cast("long").alias("n_clusters"),
    )
    comp_stats = stats80.unionAll(tight_stats)
    return (
        np_tall.join(comp_stats, "threshold_pct")
        .select(
            "threshold_pct",
            "n_pairs",
            "n_docs_linked",
            "n_clusters",
            (F.col("n_docs_linked") - F.col("n_clusters"))
            .cast("long")
            .alias("docs_removable"),
        )
        .orderBy("threshold_pct")
    )


def _sweep_leg_sql(pct: int, p: int, q: int) -> str:
    return f"""
SELECT CAST({pct} AS BIGINT) AS threshold_pct,
       CAST((SELECT count(*) FROM p{pct}) AS BIGINT) AS n_pairs,
       CAST((SELECT count(*) FROM comp{pct}) AS BIGINT) AS n_docs_linked,
       CAST((SELECT count(DISTINCT component) FROM comp{pct}) AS BIGINT)
         AS n_clusters,
       CAST((SELECT count(*) FROM comp{pct})
            - (SELECT count(DISTINCT component) FROM comp{pct}) AS BIGINT)
         AS docs_removable"""


def _sweep_cte_sql(pct: int, p: int, q: int) -> str:
    return f"""p{pct} AS (
  SELECT left_id, right_id FROM base
  WHERE {q} * i >= {p} * (la + lb - i)
),
e{pct} AS (
  SELECT left_id AS a, right_id AS b FROM p{pct}
  UNION ALL
  SELECT right_id, left_id FROM p{pct}
),
reach{pct}(node, label) AS (
  SELECT a, a FROM e{pct}
  UNION
  SELECT e.b, r.label FROM reach{pct} r JOIN e{pct} e ON e.a = r.node
),
comp{pct} AS (
  SELECT node, min(label) AS component FROM reach{pct} GROUP BY node
)"""


_SWEEP_POINTS = [(80, 4, 5), (85, 17, 20), (90, 9, 10), (95, 19, 20)]

DEDUP_THRESHOLD_SWEEP_SQL = (
    r"""
WITH RECURSIVE g AS (
  SELECT doc_id,
         list_distinct([substring(t, i, 3)
                        for i in range(1, greatest(length(t) - 2, 1) + 1)]) AS grams
  FROM (SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents)
),
base AS (
  SELECT left_id, right_id, i, la, lb FROM (
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           length(list_intersect(a.grams, b.grams)) AS i,
           length(a.grams) AS la, length(b.grams) AS lb
    FROM g a JOIN g b ON a.doc_id < b.doc_id)
  WHERE 5 * i >= 4 * (la + lb - i)
),
"""
    + ",\n".join(_sweep_cte_sql(pct, p, q) for pct, p, q in _SWEEP_POINTS)
    + "\n"
    + "\nUNION ALL\n".join(
        _sweep_leg_sql(pct, p, q) for pct, p, q in _SWEEP_POINTS
    )
    + "\nORDER BY threshold_pct\n"
)
register(dedup_threshold_sweep, oracle=DEDUP_THRESHOLD_SWEEP_SQL)


