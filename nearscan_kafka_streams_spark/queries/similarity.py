"""Training-data pipeline: similarity search (brute-force / IVF /
LSH / PQ ANN variants)."""
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    _t,
    brute_force_topk,
    lsh_topk,
    pq_topk,
    register,
)

# --------------------------------------------------------------------------
# Training-data pipeline: similarity search
# --------------------------------------------------------------------------


def ann_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the first 10 vectors as queries
    (broadcast queries, corpus never shuffles)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


ANN_BRUTEFORCE_SQL = """
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                CAST(q.embedding AS DOUBLE[])) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                           CAST(q.embedding AS DOUBLE[])) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings c, embeddings q
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
) WHERE rank <= 5
"""
register(ann_bruteforce_cosine, oracle=ANN_BRUTEFORCE_SQL)


def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF cells (KMeans-partitioned corpus,
    3-probe; rows-only check -- recall vs brute force pinned in tests)."""
    from nearscan_kafka_streams_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = ivf_topk(emb, queries, k=5, n_clusters=16, n_probe=3)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


register(ann_ivf_cosine)


def ann_ivf_fullprobe_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probing EVERY cell: candidates = whole corpus, so the result
    must equal exact brute force -- which makes the entire IVF
    machinery (sample fit, cell assignment, probe join, scoring,
    top-k) hash-checkable against the brute-force DuckDB oracle."""
    from nearscan_kafka_streams_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = ivf_topk(emb, queries, k=5, n_clusters=16, n_probe=16)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


register(ann_ivf_fullprobe_cosine, oracle=ANN_BRUTEFORCE_SQL)


def ann_ivf_persisted_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a PERSISTED cell-partitioned IVF index (functions.
    similarity.build_ivf_index), then search it probing every cell:
    full probe == exact brute force, so the whole persisted path --
    centroid parquet, cell-partitioned vector layout, partition-pruned
    probe scan, scoring, top-k -- is hash-checkable against the
    brute-force DuckDB oracle."""
    import hashlib
    import tempfile

    from nearscan_kafka_streams_spark.functions.similarity import (
        build_ivf_index,
        ivf_search,
    )

    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"{tempfile.gettempdir()}/nearscan_ivf_index_{tag}"
    n_cells = build_ivf_index(emb, path, n_clusters=16)
    out = ivf_search(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, n_probe=n_cells
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


register(ann_ivf_persisted_fullprobe, oracle=ANN_BRUTEFORCE_SQL)


def ann_ivf_append_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: build the persisted IVF index on
    HALF the corpus, ``ivf_index_append`` the other half against the
    frozen centroids, then full-probe search -- which equals exact
    brute force over the whole corpus, so the append path (centroid
    reuse, cell assignment, partition append) is hash-checkable
    against the same brute-force DuckDB oracle."""
    import hashlib
    import tempfile

    from nearscan_kafka_streams_spark.functions.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_search,
    )

    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"{tempfile.gettempdir()}/nearscan_ivf_append_{tag}"
    n_cells = build_ivf_index(emb.where(F.col("vec_id") % 2 == 0), path, n_clusters=16)
    ivf_index_append(emb.where(F.col("vec_id") % 2 == 1), path)
    out = ivf_search(
        spark, path, emb.where(F.col("vec_id") < 10), k=5, n_probe=n_cells
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


register(ann_ivf_append_fullprobe, oracle=ANN_BRUTEFORCE_SQL)


def ann_pq_fullrerank_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ with a corpus-deep rerank: the refine stage scores EVERY
    candidate exactly, so the output must equal brute force -- making
    the PQ encode/ADC/refine machinery hash-checkable against the
    brute-force oracle (the production shallow-rerank variant stays
    rows-only)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = pq_topk(emb, queries, k=5, m=8, n_codes=16, rerank=1_000_000)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("adc_score", 6).alias("cosine"),
        "rank",
    )


register(ann_pq_fullrerank_cosine, oracle=ANN_BRUTEFORCE_SQL)


def ann_pq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization + ADC shortlist +
    exact refine (8 subspaces x 16 codes over L2-normalized vectors,
    25-deep rerank; rows-only check -- recall vs brute force pinned in
    tests)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = pq_topk(emb, queries, k=5, m=8, n_codes=16, rerank=25)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("adc_score", 6).alias("adc_score"),
        "rank",
    )


register(ann_pq_cosine)


def ann_lsh_fullbucket_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane LSH with ZERO bits: every vector lands in the single
    bucket, so the bucket join + scoring + top-k must equal exact
    brute force -- hash-checkable against the brute-force oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = lsh_topk(emb, queries, k=5, bits=0, dim=64)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


register(ann_lsh_fullbucket_cosine, oracle=ANN_BRUTEFORCE_SQL)


def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via hyperplane-LSH bucketing (rows-only check;
    recall vs brute force is pinned in tests/)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = lsh_topk(emb, queries, k=5, bits=4)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


register(ann_lsh_cosine)


