"""Training-data pipeline: deduplication family (exact, MinHash-LSH,
SimHash, n-gram Jaccard/containment, embedding near-dup, clusters)."""
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    _t,
    containment_join,
    jaccard_similarity_join,
    minhash_lsh_candidates,
    simhash_pairs,
    register,
)

# --------------------------------------------------------------------------
# Training-data pipeline: deduplication family
# --------------------------------------------------------------------------


def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content key: keep min doc_id, count dups.

    Shuffle carries only (16-byte md5, id) -- text pruned pre-exchange."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        d.select(F.md5(norm).alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("doc_id", "dup_count")
    )


DEDUP_EXACT_SQL = r"""
SELECT min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents
GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
"""
register(dedup_exact_documents, oracle=DEDUP_EXACT_SQL)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (no SQL oracle: xxhash64 signatures).

    Driver records rows-only; exactness is pinned by tests/ against a
    brute-force Jaccard oracle on small data."""
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(d).orderBy("left_id", "right_id")


register(dedup_minhash_lsh)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trigram-Jaccard near-dup pairs (J >= 0.8, the production
    near-dup setting) via the exact set-similarity self-join, so the
    naive all-pairs DuckDB oracle hash-matches.  On a sparse vocabulary
    candidates come from the rarest-gram prefix inverted index (20% of
    each doc's grams at t=0.8); a small dense corpus (the testdata
    documents) takes the bitmap all-pairs plan.
    (The probabilistic LSH-then-verify composition stays available as
    minhash_lsh_candidates + ngram_jaccard_pairs; see dedup_minhash_lsh
    and tests/test_dedup_family.py.)"""
    return jaccard_edges_frame(spark, sf_dir, threshold=0.8)


def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT asymmetric 5-gram CONTAINMENT pairs (|A∩B|/|A| >= 0.9,
    smaller doc as A): the quote/subset-duplicate class that symmetric
    Jaccard misses (a short doc verbatim inside a long one has J ~
    |A|/|B| -> 0 but containment ~1).  Engine: small-side-only prefix
    filtering against a positioned full-gram index (AllPairs bound
    adapted to the asymmetric predicate), or the bitmap all-pairs plan
    on a small dense corpus -- exact either way, so the naive all-pairs
    DuckDB oracle hash-matches."""
    d = _t(spark, sf_dir, "documents")
    return containment_join(d, threshold=0.9)


NGRAM_CONTAINMENT_SQL = r"""
WITH g AS (
  SELECT doc_id,
         list_distinct([substring(t, i, 5)
                        for i in range(1, greatest(length(t) - 4, 1) + 1)]) AS grams
  FROM (SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents)
),
f AS (SELECT * FROM g WHERE length(grams) >= 8),
p AS (
  SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
         length(list_intersect(a.grams, b.grams)) AS inter_size,
         length(a.grams) AS la
  FROM f a JOIN f b
    ON (length(a.grams) < length(b.grams)
        OR (length(a.grams) = length(b.grams) AND a.doc_id < b.doc_id))
)
SELECT inner_id, outer_id,
       CAST(inter_size AS INT) AS inter_size,
       CAST(la AS INT) AS inner_size
FROM p WHERE 10 * inter_size >= 9 * la
"""
register(dedup_ngram_containment, oracle=NGRAM_CONTAINMENT_SQL)


NGRAM_JACCARD_SQL = r"""
WITH g AS (
  SELECT doc_id,
         list_distinct([substring(t, i, 3)
                        for i in range(1, greatest(length(t) - 2, 1) + 1)]) AS grams
  FROM (SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents)
),
p AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
         length(list_intersect(a.grams, b.grams)) AS inter_size,
         length(a.grams) AS la, length(b.grams) AS lb
  FROM g a JOIN g b ON a.doc_id < b.doc_id
)
SELECT left_id, right_id,
       CAST(inter_size AS INT) AS inter_size,
       CAST(la + lb - inter_size AS INT) AS union_size
FROM p WHERE 5 * inter_size >= 4 * (la + lb - inter_size)
"""
register(dedup_ngram_jaccard, oracle=NGRAM_JACCARD_SQL)


def jaccard_edges_frame(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """The shared Jaccard>=t edge frame the whole cluster family
    composes over -- exposed so pipelines (and bench.py) can stage it
    ONCE (``.persist()`` + an action) and hand it to
    ``dedup_clusters`` / ``dedup_clusters_star`` /
    ``dedup_cluster_census`` via their ``edges=`` parameter instead of
    re-running the AllPairs self-join per consumer.  Identical plan to
    ``dedup_ngram_jaccard`` (whose result IS this frame); each query's
    2-arg default path still computes independently, so the driver's
    per-query verification never sees shared state."""
    d = _t(spark, sf_dir, "documents")
    return jaccard_similarity_join(d, threshold=threshold)


def dedup_clusters(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Near-dup CLUSTERS: connected components (min-label propagation)
    over the exact Jaccard>=0.8 pair graph -- the step that picks one
    canonical doc per duplicate group.  Oracle: DuckDB recursive CTE
    computing reachability min-labels over the identical edge set.

    ``edges``: optionally a pre-staged ``jaccard_edges_frame`` result
    so pipelines computing several cluster reports pay the AllPairs
    self-join once; default None recomputes (driver isolation)."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        connected_components,
    )

    if edges is None:
        edges = jaccard_edges_frame(spark, sf_dir)
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), "component"
    )


def dedup_clusters_star(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Same clusters as ``dedup_clusters`` via the alternating
    large-star/small-star algorithm -- O(log n) rounds instead of
    O(diameter), the variant that survives adversarial chain-shaped
    duplicate graphs at 100 TB.  Shares the recursive-CTE oracle with
    ``dedup_clusters``: both must produce identical (doc_id, component)
    labels.  ``edges``: see ``dedup_clusters``."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        connected_components_star,
    )

    if edges is None:
        edges = jaccard_edges_frame(spark, sf_dir)
    return connected_components_star(edges).select(
        F.col("node").alias("doc_id"), "component"
    )


DEDUP_CLUSTERS_SQL = r"""
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
)
SELECT node AS doc_id, min(label) AS component
FROM reach GROUP BY node
"""
register(dedup_clusters, oracle=DEDUP_CLUSTERS_SQL)
register(dedup_clusters_star, oracle=DEDUP_CLUSTERS_SQL)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within hamming distance 3."""
    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d)


register(dedup_simhash)


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, threshold: float = 0.40
) -> DataFrame:
    """Near-dup by embedding cosine: bucketed self-join via hyperplane
    LSH (functions.similarity), verified exactly.  Signature width
    scales with the corpus (bits ~ log2(n/256), one cheap count pass),
    bounding the quadratic within-bucket pairing at any size.

    Production near-dup uses ~0.95; this synthetic corpus's max
    pairwise cosine is ~0.48, so the inventory entry runs at 0.40 to
    exercise real output (threshold is a parameter)."""
    emb = _t(spark, sf_dir, "embeddings")
    from nearscan_kafka_streams_spark.functions.similarity import (
        auto_signature_bits,
        dot_expr,
        hyperplane_signature,
        norm_expr,
    )

    bits = auto_signature_bits(emb.count())
    sig = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        hyperplane_signature(F.col("embedding"), bits=bits, dim=64).alias("_b"),
        norm_expr(F.col("embedding")).alias("_n"),
    )
    l, r = sig.alias("l"), sig.alias("r")
    return (
        l.join(
            r,
            (F.col("l._b") == F.col("r._b"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .withColumn(
            "cosine",
            dot_expr(F.col("l.embedding"), F.col("r.embedding"))
            / (F.col("l._n") * F.col("r._n")),
        )
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("l.vec_id").alias("left_id"),
            F.col("r.vec_id").alias("right_id"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


register(dedup_embedding_cosine)


def dedup_embedding_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with ZERO signature bits: one bucket, i.e.
    exact all-pairs -- which makes the bucketed-join + cosine-verify
    machinery hash-checkable against a DuckDB all-pairs oracle (the
    production bucketed variant stays rows-only)."""
    emb = _t(spark, sf_dir, "embeddings")
    from nearscan_kafka_streams_spark.functions.similarity import (
        dot_expr,
        hyperplane_signature,
        norm_expr,
    )

    sig = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        hyperplane_signature(F.col("embedding"), bits=0, dim=64).alias("_b"),
        norm_expr(F.col("embedding")).alias("_n"),
    )
    l, r = sig.alias("l"), sig.alias("r")
    return (
        l.join(
            r,
            (F.col("l._b") == F.col("r._b"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .withColumn(
            "cosine",
            dot_expr(F.col("l.embedding"), F.col("r.embedding"))
            / (F.col("l._n") * F.col("r._n")),
        )
        .where(F.col("cosine") >= 0.40)
        .select(
            F.col("l.vec_id").alias("left_id"),
            F.col("r.vec_id").alias("right_id"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


EMB_ALLPAIRS_SQL = """
SELECT a.vec_id AS left_id, b.vec_id AS right_id,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6)
         AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.40
"""
register(dedup_embedding_allpairs, oracle=EMB_ALLPAIRS_SQL)


