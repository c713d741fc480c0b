"""Training-data pipeline: multimodal plumbing, corpus prep
(chunk/pack/shard/decontaminate), BPE, selection and curation ops
(rounds 3-4 waves)."""
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _t,
    brute_force_topk,
    decode_media,
    make_fake_media,
    sample_frames,
    token_count,
    register,
)
from .dedup import (  # noqa: F401
    dedup_embedding_allpairs,
)

# --------------------------------------------------------------------------
# Training-data pipeline: multimodal plumbing
# --------------------------------------------------------------------------


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + JVM-side metadata (sha256, byte length)."""
    d = _t(spark, sf_dir, "documents")
    media = make_fake_media(d)
    return media.select(
        "media_id",
        F.length("payload").alias("n_bytes"),
        F.col("meta.sha_hex").alias("sha_hex"),
    )


MULTIMODAL_META_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha_hex
FROM documents
"""
register(multimodal_metadata, oracle=MULTIMODAL_META_SQL)


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing.  The fake kernel is deterministic
    byte arithmetic (functions/multimodal._fake_decode), so it IS
    SQL-expressible and gets a value oracle: width/height from the
    first/last payload byte, feature = sum(first 32 bytes) / (32*255)."""
    d = _t(spark, sf_dir, "documents")
    media = make_fake_media(d)
    return decode_media(media).select(
        "media_id", "width", "height", "n_bytes", F.round("feature", 6).alias("feature")
    )


MULTIMODAL_DECODE_SQL = """
WITH b AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
)
SELECT media_id,
  CASE WHEN n = 0 THEN 0
       ELSE 1 + (try_cast(concat('0x', substring(hx, 1, 2)) AS INT) % 64)
  END AS width,
  CASE WHEN n = 0 THEN 0
       ELSE 1 + (try_cast(concat('0x', substring(hx, 2*n - 1, 2)) AS INT) % 64)
  END AS height,
  n AS n_bytes,
  round(CASE WHEN n = 0 THEN 0.0
             ELSE list_sum([try_cast(concat('0x', substring(hx, 2*i - 1, 2)) AS INT)
                            for i in range(1, least(n, 32) + 1)]) / (32 * 255.0)
        END, 6) AS feature
FROM b
"""
register(multimodal_decode, oracle=MULTIMODAL_DECODE_SQL)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling explode: one row per 1024-byte 'frame'."""
    d = _t(spark, sf_dir, "documents")
    media = make_fake_media(d)
    return sample_frames(media, every_n_bytes=1024)


FRAME_SAMPLE_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       unnest(generate_series(0,
         greatest(CAST(floor(octet_length(encode(text)) / 1024.0) AS INT), 1) - 1
       )) AS frame_index
FROM documents
"""
register(multimodal_frame_sample, oracle=FRAME_SAMPLE_SQL)


def bigram_coverage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model coverage scoring: train
    bigram counts over the whole corpus (one distributed groupBy --
    the count table IS the n-gram LM), then score each document by the
    fraction of its word bigrams the corpus has seen at least 3 times.
    The integer-count analog of LM perplexity filtering (transcendental
    log-probs are avoided deliberately: libm ``log`` is not guaranteed
    bit-identical across engines, integer counts are).

    Scale: bigram vocabulary is bounded by natural language, not corpus
    size; the count table joins back map-side once it fits a broadcast,
    while the per-doc explode is a narrow codegen pass."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    pairs = (
        d.select("doc_id", words.alias("ws"))
        .where(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("ws", i), F.element_at("ws", i + 1)
                    ),
                )
            ).alias("bg"),
        )
    )
    counts = pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    return (
        pairs.join(counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("c") >= 3, 1).otherwise(0))
            .cast("long")
            .alias("n_known"),
        )
        .withColumn(
            "coverage",
            F.col("n_known").cast("double") / F.col("n_bigrams").cast("double"),
        )
        .orderBy("doc_id")
    )


BIGRAM_COVERAGE_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                      ' ') AS ws
  FROM documents),
pairs AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 2),
counts AS (SELECT bg, count(*) AS c FROM pairs GROUP BY bg)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_known,
       CAST(sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS coverage
FROM pairs JOIN counts USING (bg)
GROUP BY doc_id
ORDER BY doc_id
"""
register(bigram_coverage_score, oracle=BIGRAM_COVERAGE_SQL)


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE tokenizer on the corpus (distributed word counts ->
    bounded driver merge loop), tokenize every document with the
    broadcast merges, and report per-doc BPE vs whitespace token
    counts.  Rows-only check (iterative merge learning is not
    SQL-expressible); semantics pinned in tests/test_bpe.py."""
    from nearscan_kafka_streams_spark.functions.bpe import bpe_tokenize, train_bpe

    d = _t(spark, sf_dir, "documents")
    merges = train_bpe(d, n_merges=50)
    toks = bpe_tokenize(d, merges)
    ws = d.select("doc_id", token_count(F.col("text")).alias("ws_tokens"))
    return (
        toks.select("doc_id", "n_tokens")
        .join(ws, "doc_id")
        .select("doc_id", "n_tokens", "ws_tokens")
    )


register(bpe_token_stats)


def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality classifier over every document
    (fastText-style scoring path with deterministic stand-in weights;
    integer-millionth quantization makes the margin engine-exact)."""
    from nearscan_kafka_streams_spark.functions.dedup import _spread
    from nearscan_kafka_streams_spark.functions.quality_model import (
        make_weights,
        quality_margin_cols,
    )

    # the hashed-feature scoring expression is the whole query and it
    # executes in the scan's partitioning -- one split at bench scale
    # (round-12 stage census: 1.0 s of 1.9 s wall on a single task).
    # _spread is a no-op at scale.
    d = _spread(_t(spark, sf_dir, "documents"))
    cols = quality_margin_cols(F.col("text"), make_weights())
    return d.select(
        "doc_id",
        cols["n_tokens"].alias("n_tokens"),
        cols["weight_sum_x1e6"].alias("weight_sum_x1e6"),
        cols["margin"].alias("margin"),
        cols["kept"].alias("kept"),
    )


def _quality_model_sql() -> str:
    from nearscan_kafka_streams_spark.functions.quality_model import (
        make_weights,
        quality_model_sql,
    )

    return quality_model_sql(make_weights())
register(quality_model_score, oracle=_quality_model_sql())


def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing >= 1 word
    5-gram with the held-out eval slice (doc_id % 29 == 0 -- a
    deterministic stand-in for a benchmark set).

    Scale: eval side collapses to one broadcast table of distinct
    grams; the 100 TB train side never shuffles (see
    functions/decontam.py)."""
    from nearscan_kafka_streams_spark.functions.decontam import (
        contamination_report,
    )

    d = _t(spark, sf_dir, "documents")
    eval_df = d.where(F.col("doc_id") % 29 == 0)
    train = d.where(F.col("doc_id") % 29 != 0)
    return contamination_report(train, eval_df, n=5)


DECONTAM_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                      ' ') AS ws
  FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+4], ' ')
                        for i in range(1, greatest(len(ws) - 4, 0) + 1)])
           AS grams
  FROM w
),
t AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
      FROM g WHERE doc_id % 29 <> 0),
e AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 29 = 0)
SELECT t.doc_id, CAST(t.n_grams AS INT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_contaminated
FROM t JOIN e USING (gram)
GROUP BY t.doc_id, t.n_grams
"""
register(decontaminate_documents, oracle=DECONTAM_SQL)


def _md5_banded_candidates(
    d: DataFrame,
    n_hashes: int,
    rows_per_band: int,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Shared md5-permutation banded-MinHash candidate builder:
    signatures -> bands -> bucket self-join, (left_id < right_id)
    distinct pairs.  Cross-engine (md5 on both sides) so any banding
    geometry hash-checks against a DuckDB oracle.  Consumed by
    ``dedup_minhash_banded_md5`` (4 bands of 2, t ~ 0.5, uncapped --
    its published pair set predates the cap) and
    ``minhash_candidate_pr_audit`` (2 bands of 4, t ~ 0.84, capped).

    ``bucket_cap``: drop band buckets holding more than this many
    docs BEFORE the self-join.  A bucket that hot is a DEGENERATE
    band -- on short-shingle corpora the corpus-wide min-gram is
    often a gram every document contains, so whole bands collide
    globally and the bucket join would go quadratic in corpus size
    (measured: 3.26M candidates over 5k docs at sf0.1 uncapped).
    Same flash-crowd argument (and same oracle-mirrored semantics)
    as the co-event graph's pair cap."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        _spread,
        shingle_strings,
    )

    # _spread first: the shingle+signature construction is the
    # CPU-heavy stage, and a small parquet arrives as 1-2 scan splits
    # -- unspread it runs on 2 of 32 cores (measured 15.8 s vs ~2 s
    # for the shingle pass alone at sf0.1)
    sets = _spread(d).select(
        "doc_id", shingle_strings("text", 3).alias("grams")
    )
    def _perm(s: int):
        # closure factory: a 2-param lambda (even with a default) is
        # interpreted by Spark as an (element, index) lambda
        pre = F.lit(f"s{s}:")
        return F.array_min(
            F.transform("grams", lambda g: F.md5(F.concat(pre, g)))
        )

    sig = F.array(*[_perm(s) for s in range(n_hashes)])
    banded = (
        sets.withColumn("_sig", sig)
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.md5(
                                F.concat_ws(
                                    "|",
                                    *[
                                        F.element_at(
                                            "_sig", b * rows_per_band + i + 1
                                        )
                                        for i in range(rows_per_band)
                                    ],
                                )
                            ).alias("bkey"),
                        )
                        for b in range(n_hashes // rows_per_band)
                    ]
                )
            ).alias("bb"),
        )
        .select("doc_id", "bb.band", "bb.bkey")
    )
    if bucket_cap is not None:
        wb = Window.partitionBy("band", "bkey")
        banded = (
            banded.withColumn("bsize", F.count(F.lit(1)).over(wb))
            .where(F.col("bsize") <= bucket_cap)
            .drop("bsize")
        )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("left_id"),
            F.col("r.doc_id").alias("right_id"),
        )
        .distinct()
    )


def dedup_minhash_banded_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash candidate generation with md5 permutations: the
    SAME signature->band->bucket-join machinery as the production
    dedup_minhash_lsh (which stays rows-only: xxhash64 is
    engine-internal), but with cross-engine md5 hashing so the whole
    LSH construction -- min-hash signatures, banding, candidate
    self-join -- hash-checks against a DuckDB oracle exactly.
    8 hashes x 4 bands of 2 (t ~ (1/4)^(1/2) ~ 0.5)."""
    d = _t(spark, sf_dir, "documents")
    return _md5_banded_candidates(d, n_hashes=8, rows_per_band=2)


MINHASH_MD5_SQL = r"""
WITH g AS (
  SELECT doc_id,
         list_distinct([substring(t, i, 3)
                        for i in range(1, greatest(length(t) - 2, 1) + 1)])
           AS grams
  FROM (SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents)
),
sig AS (
  SELECT doc_id,
         [list_min([md5('s' || CAST(s AS VARCHAR) || ':' || gr)
                    for gr in grams])
          for s in range(0, 8)] AS sg
  FROM g
),
bands AS (
  SELECT doc_id,
         unnest([{'band': b,
                  'bkey': md5(sg[2*b + 1] || '|' || sg[2*b + 2])}
                 for b in range(0, 4)]) AS bb
  FROM sig
)
SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
FROM bands a JOIN bands b
  ON a.bb.band = b.bb.band AND a.bb.bkey = b.bb.bkey
 AND a.doc_id < b.doc_id
"""
register(dedup_minhash_banded_md5, oracle=MINHASH_MD5_SQL)


def dedup_canonical_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-driven canonical selection among exact duplicates: keep
    ONE doc per normalized-text fingerprint, chosen by source priority
    (lower numeric suffix = more trusted here), then doc_id.  Real
    curation keeps the curated-source copy of boilerplate shared with
    web scrapes -- min-id selection (dedup_exact_documents) cannot
    express that.

    Scale: same shape as exact dedup -- only (fingerprint, priority,
    id) shuffle; the window partitions by fingerprint (parallel)."""
    d = _t(spark, sf_dir, "documents")
    # md5 (not the engine-internal xxhash64 fingerprint): both engines
    # implement it identically, so the oracle reproduces the key
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    # any unparseable priority (no trailing digits OR a suffix beyond
    # int32, where try_cast yields NULL) must rank LEAST trusted: an
    # ascending sort would otherwise rank NULL MOST trusted, and the
    # oracle's TRY_CAST+COALESCE would disagree.  coalesce to the
    # max-int sentinel covers both cases
    pri_str = F.regexp_extract(F.col("source"), r"(\d+)$", 1)
    pri = F.coalesce(pri_str.try_cast("int"), F.lit(2147483647))
    w = Window.partitionBy("fp").orderBy(
        F.col("priority").asc(), F.col("doc_id").asc()
    )
    return (
        d.select(
            "doc_id",
            "source",
            fp.alias("fp"),
            pri.alias("priority"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "source", "fp")
    )


DEDUP_CANONICAL_SQL = r"""
SELECT doc_id, source, fp FROM (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         row_number() OVER (
           PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
           ORDER BY COALESCE(TRY_CAST(regexp_extract(source, '(\d+)$', 1)
                                      AS INT), 2147483647) ASC,
                    doc_id ASC) AS rn
  FROM documents)
WHERE rn = 1
"""
register(dedup_canonical_by_source, oracle=DEDUP_CANONICAL_SQL)


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (RAG / context-window prep):
    fixed-size character chunks with overlap, one output row per
    chunk.  Pure Catalyst -- sequence over chunk starts, substring per
    start, posexplode -- so chunking 100 TB is a narrow codegen pass
    with no shuffle at all (rows fan out ~len/stride per doc)."""
    size, overlap = 200, 50
    stride = size - overlap
    d = _t(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1),
        F.greatest(
            F.length("text") - (size - 1), F.lit(1)
        ),
        F.lit(stride),
    )
    chunks = F.transform(starts, lambda s: F.substring(F.col("text"), s, size))
    return (
        d.select("doc_id", F.posexplode(chunks).alias("chunk_index", "chunk"))
        .where(F.length("chunk") > 0)
        .select(
            "doc_id",
            "chunk_index",
            F.length("chunk").cast("int").alias("n_chars"),
            F.md5("chunk").alias("chunk_md5"),
        )
    )


CHUNK_DOCUMENTS_SQL = """
WITH c AS (
  SELECT doc_id,
         [substring(text, s, 200)
          for s in range(1, greatest(length(text) - 199, 1) + 1, 150)]
           AS chunks
  FROM documents
),
u AS (
  SELECT doc_id,
         unnest(list_transform(chunks, (x, i) -> {'i': i, 'x': x})) AS ch
  FROM c
)
SELECT doc_id,
       CAST(ch.i - 1 AS INT) AS chunk_index,
       CAST(length(ch.x) AS INT) AS n_chars,
       md5(ch.x) AS chunk_md5
FROM u
WHERE length(ch.x) > 0
"""
register(chunk_documents, oracle=CHUNK_DOCUMENTS_SQL)


def mixture_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling to a PER-LANGUAGE TOKEN BUDGET: within
    each language, walk documents in deterministic hash order and keep
    them while the running token total fits the budget -- 'give me
    ~2k tokens per language, reproducibly' (the mixture-weighting
    step of a training-data pipeline; complements the rate-based
    stratified_sample_documents).

    Scale: the cumulative sum is a window PARTITIONED by language --
    every partition parallel, no single-task global scan; the hash
    order is a pure row function (no presort needed beyond the window
    sort)."""
    d = _t(spark, sf_dir, "documents")
    budget = 2_000
    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select(
            "doc_id",
            "lang",
            token_count(F.col("text")).alias("n_tokens"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .where(F.col("cum_tokens") <= budget)
    )


MIXTURE_BUDGET_SQL = r"""
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'),
                       ' ')) END AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS hk
  FROM documents
)
SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
       CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY hk, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens
FROM t
QUALIFY cum_tokens <= 2000
"""
register(mixture_budget_sample, oracle=MIXTURE_BUDGET_SQL)


def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: events have only 5 event_type
    values (every key is hot at scale), so phase 1 aggregates on
    (key, salt) -- 8-way fan-out spreads each hot key across
    reducers -- and phase 2 collapses the 40 partials.  Same result as
    the direct groupBy (the oracle computes that), different shuffle
    profile; per-row integer quantization keeps the double sum
    engine-exact."""
    e = _t(spark, sf_dir, "events")
    q = F.round(F.col("value") * 10000).cast("long")
    partial = (
        e.select(
            "event_type",
            F.pmod(F.xxhash64("event_id"), F.lit(8)).alias("_salt"),
            q.alias("v"),
        )
        .groupBy("event_type", "_salt")
        .agg(F.sum("v").alias("pv"), F.count(F.lit(1)).alias("pn"))
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pv").alias("total_x10000"),
            F.sum("pn").cast("long").alias("n_events"),
        )
    )


SALTED_AGG_SQL = """
SELECT event_type,
       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
         AS total_x10000,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""
register(salted_hot_key_agg, oracle=SALTED_AGG_SQL)


def sql_text_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw SQL-text entry point: the engine's tables registered as
    views and queried with ANSI SQL via ``spark.sql`` -- the API
    surface the reference (a hard-coded Java topology, SURVEY (S)2.8
    'no SQL text') never offers.  The query itself: revenue share of
    each nation within its region (windowed ratio over a joined
    aggregate)."""
    for t in ["region", "nation", "customer", "orders", "lineitem"]:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        WITH nat AS (
          SELECT r_name, n_name,
                 sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                     AS BIGINT)) AS rev_x10000
          FROM region JOIN nation   ON r_regionkey = n_regionkey
                      JOIN customer ON n_nationkey = c_nationkey
                      JOIN orders   ON c_custkey   = o_custkey
                      JOIN lineitem ON o_orderkey  = l_orderkey
          GROUP BY r_name, n_name)
        SELECT r_name, n_name,
               CAST(rev_x10000 AS DOUBLE) / 10000.0 AS revenue,
               round(CAST(rev_x10000 AS DOUBLE)
                     / sum(CAST(rev_x10000 AS DOUBLE)) OVER (PARTITION BY r_name),
                     6) AS region_share
        FROM nat
        """
    )


SQL_TEXT_SQL = """
WITH nat AS (
  SELECT r_name, n_name,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
             AS BIGINT)) AS rev_x10000
  FROM region JOIN nation   ON r_regionkey = n_regionkey
              JOIN customer ON n_nationkey = c_nationkey
              JOIN orders   ON c_custkey   = o_custkey
              JOIN lineitem ON o_orderkey  = l_orderkey
  GROUP BY r_name, n_name)
SELECT r_name, n_name,
       CAST(rev_x10000 AS DOUBLE) / 10000.0 AS revenue,
       round(CAST(rev_x10000 AS DOUBLE)
             / sum(CAST(rev_x10000 AS DOUBLE)) OVER (PARTITION BY r_name),
             6) AS region_share
FROM nat
"""
register(sql_text_interface, oracle=SQL_TEXT_SQL)


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style pretraining packing: the corpus token stream is
    concatenated in ``doc_id`` order and split at fixed 512-token
    sequence boundaries; documents SPAN boundaries (concat-and-chunk),
    unlike ``token_budget_shards`` which keeps documents whole.  One
    output row per (sequence, document-fragment): which token slice of
    which document lands at which offset of which training sequence --
    the manifest a tokenizing writer consumes.

    Scale shape: global offsets come from the distributed prefix scan
    (``functions/scan.py`` -- no single-task window); the per-doc
    explode emits ``1 + ceil(n_tokens / L)`` rows at most, so output
    is proportional to input and the corpus is shuffled exactly once.
    """
    from nearscan_kafka_streams_spark.functions.corpus_prep import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, seq_len=512).orderBy("seq_id", "doc_id")


PACK_SEQUENCES_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents
), run AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS end_tok
  FROM toks WHERE n_tokens > 0
), frag AS (
  SELECT doc_id, end_tok - n_tokens AS beg_tok, end_tok,
         unnest(generate_series((end_tok - n_tokens) // 512,
                                (end_tok - 1) // 512)) AS seq_id
  FROM run
)
SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(GREATEST(beg_tok, seq_id * 512) - seq_id * 512 AS BIGINT)
         AS frag_start,
       CAST(LEAST(end_tok, (seq_id + 1) * 512)
            - GREATEST(beg_tok, seq_id * 512) AS BIGINT) AS frag_tokens,
       CAST(GREATEST(beg_tok, seq_id * 512) - beg_tok AS BIGINT)
         AS doc_offset
FROM frag
ORDER BY seq_id, doc_id
"""
register(pack_training_sequences, oracle=PACK_SEQUENCES_SQL)


def dedup_repeated_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-span REMOVAL (the rewrite step, not just
    detection): each document is cut into consecutive 10-token chunks;
    a chunk whose exact text occurs elsewhere in the corpus survives
    only at its corpus-wide first occurrence (min ``(doc_id,
    chunk_idx)``); every document is re-emitted with its surviving
    chunks re-joined in order.  This is the classic "remove any
    three-sentence span seen before" cleaning rule, on whitespace
    chunks since the synthetic corpus is single-line.

    Scale shape: one explode (bounded by token count / 10); the
    keeper per chunk is ``groupBy(chunk_text).agg(min(struct))`` --
    map-side PARTIAL aggregation means a boilerplate chunk appearing
    in 10^9 docs sends one row per map partition to its reducer, not
    10^9 (a chunk-keyed window + row_number would) -- then a semi
    join on the full (chunk, doc, idx) triple, which hash-distributes
    the hot chunk's occurrences across partitions; one groupBy doc_id
    to reassemble.  No all-pairs anything; linear in token count.
    Blank documents carry no chunks and are not re-emitted (the
    quarantine/gating legs upstream own empty-text policy).
    """
    from nearscan_kafka_streams_spark.functions.corpus_prep import (
        remove_repeated_chunks,
    )

    d = _t(spark, sf_dir, "documents")
    return remove_repeated_chunks(d, chunk=10).orderBy("doc_id")


REPEATED_CHUNKS_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(t[(i * 10 + 1):(i * 10 + 10)], ' ') AS chunk_text
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(t) / 10.0) AS BIGINT) - 1))
         AS g(i)
), flagged AS (
  SELECT doc_id, chunk_idx, chunk_text,
         row_number() OVER (PARTITION BY chunk_text
                            ORDER BY doc_id, chunk_idx) AS occ
  FROM chunks
), rebuilt AS (
  SELECT doc_id,
         string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS clean_text,
         count(*) AS n_kept
  FROM flagged WHERE occ = 1 GROUP BY doc_id
), totals AS (
  SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(t.n_chunks - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
ORDER BY t.doc_id
"""
register(dedup_repeated_chunks, oracle=REPEATED_CHUNKS_SQL)


def shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded GLOBAL SHUFFLE into training shards: shard
    and within-shard position are pure functions of (seed, doc_id) via
    md5 -- the reproducible 'shuffle the corpus before epoch 0' step.
    ``orderBy(rand())`` is partitioning- and engine-dependent; a keyed
    hash order is identical across engines, runs, and cluster sizes,
    which is what makes a 100 TB shuffle auditable and resumable.

    Scale shape: one hash shuffle on shard_id (16 shards -> 16
    writer groups); the per-shard row_number is a partitioned window,
    never a global sort.
    """
    from nearscan_kafka_streams_spark.functions.corpus_prep import (
        shuffle_to_shards,
    )

    d = _t(spark, sf_dir, "documents")
    return shuffle_to_shards(d, n_shards=16, seed="epoch0").orderBy(
        "shard_id", "pos"
    )


SHUFFLE_SHARDS_SQL = r"""
WITH hashed AS (
  SELECT doc_id,
         md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h,
         CAST(('0x' || substring(md5('epoch0:' || CAST(doc_id AS VARCHAR)),
                                 1, 6)) AS BIGINT) % 16 AS shard_id
  FROM documents
)
SELECT shard_id,
       row_number() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS pos,
       doc_id
FROM hashed
ORDER BY shard_id, pos
"""
register(shuffle_shards, oracle=SHUFFLE_SHARDS_SQL)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): cluster the embedding space, then
    prune near-duplicates ONLY within a cluster -- sum_c O(|c|^2)
    instead of O(n^2), the IVF cost shape.  Centroids here are a
    deterministic spec (the 8 lowest-id vectors) so the ENTIRE
    machinery -- broadcast assignment, argmax window, within-cluster
    self-join, anti-join survivor selection -- is hash-checkable
    against a DuckDB oracle; production swaps in the sampled KMeans
    fit that IVF already uses."""
    from nearscan_kafka_streams_spark.functions.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    return semantic_dedup(emb, cent, tau=0.40).orderBy("vec_id")


DEDUP_SEMANTIC_SQL = """
WITH cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < 8
), assign AS (
  SELECT e.vec_id, c.cid,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec)
           AS cos,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           c.cvec) DESC,
                    c.cid ASC) AS rn
  FROM embeddings e, cent c
), a AS (
  SELECT vec_id, cid AS cluster_id, cos FROM assign WHERE rn = 1
), dup AS (
  SELECT DISTINCT y.vec_id
  FROM a x
  JOIN a y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
  JOIN embeddings ex ON ex.vec_id = x.vec_id
  JOIN embeddings ey ON ey.vec_id = y.vec_id
  WHERE list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
                               CAST(ey.embedding AS DOUBLE[])) >= 0.40
)
SELECT a.vec_id, a.cluster_id, round(a.cos, 6) AS centroid_cosine
FROM a
WHERE a.vec_id NOT IN (SELECT vec_id FROM dup)
ORDER BY a.vec_id
"""
register(dedup_semantic, oracle=DEDUP_SEMANTIC_SQL)


def knn_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote label prediction (the label-denoising /
    pruning primitive): every 5th vector is classified by its 5 exact
    cosine neighbors; ``agrees`` flags whether the neighborhood
    confirms the stored label.  Broadcast queries, corpus unshuffled;
    the LSH bucket path drops in for query sets too big to
    broadcast."""
    from nearscan_kafka_streams_spark.functions.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 5 == 0)
    return knn_classify(emb, queries, k=5).orderBy("vec_id")


KNN_CLASSIFY_SQL = """
WITH nn AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[]))
                      DESC,
                      c.vec_id ASC) AS rank
    FROM embeddings c, embeddings q
    WHERE q.vec_id % 5 = 0 AND c.vec_id <> q.vec_id
  ) WHERE rank <= 5
), votes AS (
  SELECT nn.query_id, c.label AS nlabel, count(*) AS votes
  FROM nn JOIN embeddings c ON c.vec_id = nn.neighbor_id
  GROUP BY 1, 2
), pred AS (
  SELECT query_id, nlabel AS predicted, votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, nlabel ASC) AS rn
  FROM votes
)
SELECT p.query_id AS vec_id, e.label, p.predicted, p.votes,
       e.label = p.predicted AS agrees
FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
WHERE p.rn = 1
ORDER BY vec_id
"""
register(knn_classify_embeddings, oracle=KNN_CLASSIFY_SQL)


def snapshot_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style SNAPSHOT DIFF: per-user aggregate state of two
    overlapping time windows (first 75% vs last 75% of the stream,
    split on integer-microsecond bounds so both engines pick the same
    cut), classified added / removed / changed / unchanged -- the
    audit query behind the reference's changelog contract (what
    changed between two runs of the balance store,
    TokenBalance.java:279-329).  Value sums go through the integer
    ten-thousandths quantization so the hash gate never sees
    summation-order float drift.

    Scale shape: bounds are a scalar agg broadcast back (no window);
    each snapshot is one partial-agg groupBy; the diff is a single
    full-outer hash join on user_id."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    bounds = e.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    e2 = e.crossJoin(F.broadcast(bounds))

    def snap(pred):
        return (
            e2.where(pred)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.expr("cast(round(value * 10000) as bigint)")).alias(
                    "v"
                ),
            )
        )

    a = snap(F.col("us") < F.expr("lo + ((hi - lo) * 3) div 4")).alias("a")
    b = snap(F.col("us") >= F.expr("lo + (hi - lo) div 4")).alias("b")
    j = a.join(b, "user_id", "full_outer")
    status = (
        F.when(F.col("b.n").isNull(), "removed")
        .when(F.col("a.n").isNull(), "added")
        .when(
            (F.col("a.n") == F.col("b.n")) & (F.col("a.v") == F.col("b.v")),
            "unchanged",
        )
        .otherwise("changed")
    )
    return j.select(
        "user_id",
        status.alias("status"),
        F.col("a.n").alias("a_events"),
        F.col("b.n").alias("b_events"),
        (F.col("a.v") / 10000.0).alias("a_value"),
        (F.col("b.v") / 10000.0).alias("b_value"),
    ).orderBy("user_id")


SNAPSHOT_DIFF_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, value FROM events
), bounds AS (
  SELECT min(us) AS lo, max(us) AS hi FROM e
), a AS (
  SELECT user_id, count(*) AS n,
         sum(CAST(round(value * 10000) AS BIGINT)) AS v
  FROM e, bounds WHERE us < lo + ((hi - lo) * 3) // 4 GROUP BY user_id
), b AS (
  SELECT user_id, count(*) AS n,
         sum(CAST(round(value * 10000) AS BIGINT)) AS v
  FROM e, bounds WHERE us >= lo + (hi - lo) // 4 GROUP BY user_id
)
SELECT COALESCE(a.user_id, b.user_id) AS user_id,
       CASE WHEN b.n IS NULL THEN 'removed'
            WHEN a.n IS NULL THEN 'added'
            WHEN a.n = b.n AND a.v = b.v THEN 'unchanged'
            ELSE 'changed' END AS status,
       a.n AS a_events, b.n AS b_events,
       a.v / 10000.0 AS a_value, b.v / 10000.0 AS b_value
FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
ORDER BY user_id
"""
register(snapshot_diff_events, oracle=SNAPSHOT_DIFF_SQL)


def importance_reweight_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-flavored data-selection importance scoring
    (arXiv:2302.03169): hashed-unigram Laplace ratio of the curated
    target source (src1) vs the whole corpus, summed per document --
    integer arithmetic end-to-end (md5 bucketing, ``div`` ratios) so
    the score is bit-identical across engines.  See
    ``functions/importance.py`` for the scale shape (<=1024-row
    broadcast weight table; corpus shuffles only on the per-doc
    sum)."""
    from nearscan_kafka_streams_spark.functions.importance import (
        importance_scores,
    )

    d = _t(spark, sf_dir, "documents")
    return importance_scores(d, F.col("source") == "src1").orderBy("doc_id")


IMPORTANCE_SQL = r"""
WITH toks AS (
  SELECT doc_id, source = 'src1' AS is_target,
         CAST(('0x' || substring(md5(w), 1, 6)) AS BIGINT) % 1024 AS bucket
  FROM (
    SELECT doc_id, source,
           unnest(string_split(regexp_replace(lower(trim(text)), '\s+',
                                              ' ', 'g'), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
), wt AS (
  SELECT bucket,
         (count(*) FILTER (WHERE is_target) + 1) * 1000000
           // (count(*) + 1024) AS weight
  FROM toks GROUP BY bucket
)
SELECT t.doc_id, count(*) AS n_tokens,
       CAST(sum(wt.weight) AS BIGINT) AS importance
FROM toks t JOIN wt USING (bucket)
GROUP BY t.doc_id
ORDER BY t.doc_id
"""
register(importance_reweight_documents, oracle=IMPORTANCE_SQL)


def ann_bruteforce_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 via the per-partition numpy GEMM path --
    same semantics as ``ann_bruteforce_cosine``, Arrow-batched BLAS
    instead of per-element codegen; rank agreement with the JVM path
    is test-pinned and this entry stays rows-only (blocked vs
    sequential float summation differs by ~1 ulp, which a value-hash
    gate would see)."""
    from nearscan_kafka_streams_spark.functions.similarity import (
        brute_force_topk_gemm,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = brute_force_topk_gemm(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    ).orderBy("query_id", "rank")


register(ann_bruteforce_gemm)


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training HARD NEGATIVE mining: for each anchor
    vector, the top-3 most-cosine-similar vectors carrying a DIFFERENT
    label -- the near-miss examples a contrastive or reranker loss
    learns the most from (the lexical-vs-semantic gap BM25-negative
    mining cannot see).  Same broadcast-anchor plan as brute-force ANN
    with the label-mismatch predicate pushed into the join, so
    same-label pairs are never scored."""
    emb = _t(spark, sf_dir, "embeddings")
    from nearscan_kafka_streams_spark.functions.similarity import (
        dot_expr,
        norm_expr,
    )

    q = (
        emb.where(F.col("vec_id") % 25 == 0)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("_qvec"),
            F.col("label").alias("anchor_label"),
        )
        .withColumn("_qnorm", norm_expr(F.col("_qvec")))
    )
    from nearscan_kafka_streams_spark.functions.dedup import _spread

    # the corpus x anchors cosine fan-out executes in the corpus
    # scan's partitioning -- one split at bench scale (round-12 stage
    # census: 1.5 s of 2.1 s wall on a single task); same fix as
    # knn_classify's brute-force leg.  _spread is a no-op at scale.
    c = _spread(emb).select(
        F.col("vec_id").alias("negative_id"),
        F.col("embedding").alias("_cvec"),
        F.col("label").alias("negative_label"),
    ).withColumn("_cnorm", norm_expr(F.col("_cvec")))
    scored = c.join(
        F.broadcast(q), F.col("negative_label") != F.col("anchor_label")
    ).withColumn(
        "cosine",
        dot_expr(F.col("_cvec"), F.col("_qvec"))
        / (F.col("_cnorm") * F.col("_qnorm")),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
        .orderBy("anchor_id", "rank")
    )


HARD_NEGATIVE_SQL = """
SELECT anchor_id, anchor_label, negative_id, negative_label,
       round(cosine, 6) AS cosine, rank
FROM (
  SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
         c.vec_id AS negative_id, c.label AS negative_label,
         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                CAST(q.embedding AS DOUBLE[])) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                           CAST(q.embedding AS DOUBLE[]))
                    DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings c, embeddings q
  WHERE q.vec_id % 25 = 0 AND c.label <> q.label
)
WHERE rank <= 3
ORDER BY anchor_id, rank
"""
register(hard_negative_mining, oracle=HARD_NEGATIVE_SQL)


def store_changelog_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC through the VERSIONED upsert store: replay three
    deterministic micro-batches of cumulative per-user aggregates into
    a retained store (``retain_versions``), then reconstruct the
    changelog between commits 1 and 2 with
    :func:`sinks.upsert.store_changelog` -- insert/update rows with
    full before/after state, exactly the compacted-topic stream the
    reference's sink consumes (README.md:273-297).  The whole physical
    path (bucketed generations, manifest archive, as-of reads, the
    full-outer delta join) is hash-checked against a DuckDB oracle
    that recomputes both snapshots relationally."""
    import hashlib
    import shutil
    import tempfile

    from nearscan_kafka_streams_spark.sinks.upsert import (
        foreach_batch_upsert,
        store_changelog,
    )

    e = _t(spark, sf_dir, "events")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"{tempfile.gettempdir()}/nearscan_changelog_store_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    up = foreach_batch_upsert(
        "user_id", path, num_buckets=8, retain_versions=3
    )
    for k in range(3):
        batch = (
            e.where(F.col("event_id") % 3 <= k)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.expr("cast(round(value * 10000) as bigint)")).alias(
                    "v"
                ),
            )
        )
        up(batch, k)
    out = store_changelog(spark, path, 1, 2)
    return out.select(
        "user_id",
        "change",
        F.col("before.n_events").alias("before_events"),
        (F.col("before.v") / 10000.0).alias("before_value"),
        F.col("after.n_events").alias("after_events"),
        (F.col("after.v") / 10000.0).alias("after_value"),
    ).orderBy("user_id")


STORE_CHANGELOG_SQL = """
WITH a AS (
  SELECT user_id, count(*) AS n,
         sum(CAST(round(value * 10000) AS BIGINT)) AS v
  FROM events WHERE event_id % 3 <= 1 GROUP BY user_id
), b AS (
  SELECT user_id, count(*) AS n,
         sum(CAST(round(value * 10000) AS BIGINT)) AS v
  FROM events WHERE event_id % 3 <= 2 GROUP BY user_id
)
SELECT COALESCE(a.user_id, b.user_id) AS user_id,
       CASE WHEN a.user_id IS NULL THEN 'insert'
            WHEN b.user_id IS NULL THEN 'delete'
            ELSE 'update' END AS change,
       a.n AS before_events, a.v / 10000.0 AS before_value,
       b.n AS after_events, b.v / 10000.0 AS after_value
FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
WHERE a.user_id IS NULL OR b.user_id IS NULL
   OR a.n <> b.n OR a.v <> b.v
ORDER BY user_id
"""
register(store_changelog_events, oracle=STORE_CHANGELOG_SQL)


def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 dimension build from a changelog: collapse each
    user's event stream into validity intervals -- one row per run of
    equal ``event_type`` with ``valid_from`` / ``valid_to`` /
    ``is_current`` -- the warehouse-standard history table a
    point-in-time (as-of) join consumes.  Gaps-and-islands via a
    change-marker running sum; every window is PARTITIONED by user
    (never global), so the build is one shuffle on user_id and scales
    with the key count."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.isNull() | (F.col("event_type") != prev), 1).otherwise(0)
    seg = e.withColumn("seg", F.sum(chg).over(w))
    runs = seg.groupBy("user_id", "seg").agg(
        F.min("event_type").alias("event_type"),  # constant within a run
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("seg")
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(
            "user_id",
            F.col("seg").cast("long").alias("version"),
            "event_type",
            "valid_from",
            "valid_to",
            "n_events",
            "is_current",
        )
        .orderBy("user_id", "version")
    )


SCD2_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_type, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR event_type <> lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seg AS (
  SELECT user_id, ts, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS seg
  FROM marked
), runs AS (
  SELECT user_id, seg, min(event_type) AS event_type,
         min(ts) AS valid_from, count(*) AS n_events
  FROM seg GROUP BY user_id, seg
)
SELECT user_id, CAST(seg AS BIGINT) AS version, event_type, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       n_events,
       lead(valid_from) OVER w2 IS NULL AS is_current
FROM runs
WINDOW w2 AS (PARTITION BY user_id ORDER BY seg)
ORDER BY user_id, version
"""
register(scd2_user_state, oracle=SCD2_SQL)


def gopher_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveText document gate set (arXiv:2112.11446
    A.1.1) over the corpus -- per-rule boolean flags plus the combined
    verdict, all integer cross-multiplied so both engines agree
    bit-for-bit.  See ``functions/text.py::gopher_gates``."""
    from nearscan_kafka_streams_spark.functions.text import gopher_gates

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", gopher_gates(F.col("text")).alias("g")
    ).select("doc_id", "g.*").orderBy("doc_id")


GOPHER_GATES_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(trim(text)), '\s+',
                                                 ' ', 'g'), ' '),
                     w -> w <> '') AS ws,
         len(string_split(text, '#')) - 1
           + len(string_split(text, '...')) - 1 AS n_symbols,
         string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
           AS sum_len,
         CAST(n_symbols AS BIGINT) AS n_symbols,
         len(lines) AS n_lines,
         len(list_filter(lines, ln -> trim(ln) LIKE '-%'
                                   OR trim(ln) LIKE chr(8226) || '%'))
           AS n_bullet,
         len(list_filter(lines, ln -> trim(ln) LIKE '%...')) AS n_ellipsis,
         len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
         len(list_intersect(list_distinct(ws),
                            ['the','be','to','of','and','that','have','with']))
           AS n_required
  FROM base
)
SELECT doc_id, n_words,
       n_words >= 50 AND n_words <= 100000 AS word_count_ok,
       sum_len >= 3 * n_words AND sum_len <= 10 * n_words AS mean_len_ok,
       10 * n_symbols <= n_words AS symbol_ok,
       10 * n_bullet <= 9 * n_lines AS bullet_ok,
       10 * n_ellipsis <= 3 * n_lines AS ellipsis_ok,
       5 * n_alpha >= 4 * n_words AS alpha_ok,
       n_required >= 2 AS stopword_ok,
       (n_words >= 50 AND n_words <= 100000)
         AND (sum_len >= 3 * n_words AND sum_len <= 10 * n_words)
         AND 10 * n_symbols <= n_words
         AND 10 * n_bullet <= 9 * n_lines
         AND 10 * n_ellipsis <= 3 * n_lines
         AND 5 * n_alpha >= 4 * n_words
         AND n_required >= 2 AS passes_gopher
FROM m
ORDER BY doc_id
"""
register(gopher_quality_gates, oracle=GOPHER_GATES_SQL)


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training PAIR DATASET assembly: positives = exact
    near-duplicate pairs (cosine >= 0.40, the all-pairs verify), hard
    negatives = each anchor's top-3 most-similar DIFFERENT-label
    vectors -- the (anchor, other, is_positive) table a contrastive or
    reranker loss trains on directly.  Pure composition of two
    already-oracled shapes, so the assembled dataset itself is
    hash-checked end-to-end."""
    pos = dedup_embedding_allpairs(spark, sf_dir).select(
        F.col("left_id").alias("anchor_id"),
        F.col("right_id").alias("other_id"),
        F.lit(True).alias("is_positive"),
        "cosine",
    )
    neg = hard_negative_mining(spark, sf_dir).select(
        "anchor_id",
        F.col("negative_id").alias("other_id"),
        F.lit(False).alias("is_positive"),
        "cosine",
    )
    return pos.unionByName(neg).orderBy(
        "anchor_id", "other_id", "is_positive"
    )


CONTRASTIVE_PAIRS_SQL = """
SELECT anchor_id, other_id, is_positive, cosine FROM (
  SELECT a.vec_id AS anchor_id, b.vec_id AS other_id,
         TRUE AS is_positive,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6)
           AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.40
  UNION ALL
  SELECT anchor_id, other_id, FALSE AS is_positive, cosine FROM (
    SELECT q.vec_id AS anchor_id, c.vec_id AS other_id,
           round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 6)
             AS cosine,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[]))
                      DESC,
                      c.vec_id ASC) AS rank
    FROM embeddings c, embeddings q
    WHERE q.vec_id % 25 = 0 AND c.label <> q.label
  ) WHERE rank <= 3
)
ORDER BY anchor_id, other_id, is_positive
"""
register(contrastive_pairs, oracle=CONTRASTIVE_PAIRS_SQL)


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-arithmetic Lloyd's K-Means over the embedding corpus
    (k=8, 2 assignment passes, lowest-id seeding): the corpus-bucketing
    primitive behind SemDeDup clustering and topic-balanced sampling.

    Vectors quantize to an integer grid, so every distance and
    centroid mean is exact -- the full iterate-update-reassign loop is
    hash-checkable against a DuckDB oracle (same device as the
    degenerate-sibling oracles for IVF/LSH/PQ).

    Scale shape: assignment is MAP-ONLY (centroids folded into one
    literal array, argmin via transform + array_min -- no join, no
    shuffle); the update shuffles only k*dim partial-aggregated rows;
    only centroids (k*dim bigints) ever reach the driver.  See
    functions/clustering.py."""
    from nearscan_kafka_streams_spark.functions.clustering import (
        kmeans_fit,
        quantize_vec,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", quantize_vec(F.col("embedding")).alias("qv"))
    init = {
        int(r["vec_id"]): list(r["qv"])
        for r in q.where(F.col("vec_id") < 8).collect()
    }
    assigned, _ = kmeans_fit(q, init, n_iter=2)
    return assigned.select("vec_id", "cluster_id", "d2").orderBy("vec_id")


KMEANS_SQL = r"""
WITH q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 10000) AS BIGINT)) AS qv
  FROM embeddings
), qd AS (
  SELECT vec_id, generate_subscripts(qv, 1) AS dim, unnest(qv) AS val FROM q
), c0 AS (
  SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 8
), cd0 AS (
  SELECT cid, generate_subscripts(cv, 1) AS dim, unnest(cv) AS val FROM c0
), d0 AS (
  SELECT qd.vec_id, cd0.cid,
         sum((qd.val - cd0.val) * (qd.val - cd0.val)) AS d2
  FROM qd JOIN cd0 USING (dim) GROUP BY 1, 2
), asg0 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d0) WHERE rn = 1
), sums AS (
  SELECT a.cid, qd.dim, sum(qd.val) AS s, count(*) AS n
  FROM asg0 a JOIN qd ON qd.vec_id = a.vec_id GROUP BY 1, 2
), c1 AS (
  SELECT c0.cid, coalesce(u.cv, c0.cv) AS cv
  FROM c0 LEFT JOIN (
    SELECT cid, list(s // n ORDER BY dim) AS cv FROM sums GROUP BY cid
  ) u ON u.cid = c0.cid
), cd1 AS (
  SELECT cid, generate_subscripts(cv, 1) AS dim, unnest(cv) AS val FROM c1
), d1 AS (
  SELECT qd.vec_id, cd1.cid,
         sum((qd.val - cd1.val) * (qd.val - cd1.val)) AS d2
  FROM qd JOIN cd1 USING (dim) GROUP BY 1, 2
)
SELECT vec_id, CAST(cid AS INT) AS cluster_id, CAST(d2 AS BIGINT) AS d2 FROM (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM d1) WHERE rn = 1
ORDER BY vec_id
"""
register(kmeans_embeddings, oracle=KMEANS_SQL)


def lm_perplexity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality gate (arXiv:1911.00359): score every
    document by mean negative log-probability under a smoothed unigram
    model trained on the corpus itself.  Per-token log-probs quantize
    to integer micro-nats BEFORE the per-doc sum, so the aggregate is
    order-independent -- the same drift-proofing as the revenue
    queries.  See functions/lm.py for the scale shapes (one vocab
    groupBy + one token-key join + one partial-aggregated doc sum)."""
    from nearscan_kafka_streams_spark.functions.lm import perplexity_score

    return perplexity_score(_t(spark, sf_dir, "documents")).orderBy("doc_id")


LM_PERPLEXITY_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), toks2 AS (
  SELECT doc_id, tok FROM toks WHERE tok <> ''
), counts AS (
  SELECT tok, count(*) AS c FROM toks2 GROUP BY tok
), totals AS (
  SELECT sum(c) AS N, count(*) AS V FROM counts
), model AS (
  SELECT tok,
         CAST(round(ln((c + 1) / CAST(N + V AS DOUBLE)) * 1000000) AS BIGINT)
           AS lp
  FROM counts, totals
)
SELECT t.doc_id, count(*) AS tokens,
       CAST(-(sum(m.lp) // count(*)) AS BIGINT) AS avg_nll_micro
FROM toks2 t JOIN model m USING (tok)
GROUP BY t.doc_id
ORDER BY doc_id
"""
register(lm_perplexity_documents, oracle=LM_PERPLEXITY_SQL)


def salted_skew_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit salted JOIN (complements ``salted_hot_key_agg``'s
    two-phase aggregate): the skewed fact side spreads each key over 8
    salt buckets, the dim side replicates 8x via explode, and the join
    runs on (key, salt) -- no single reducer ever owns a whole hot
    key.  Semantics identical to the plain equi-join, which is exactly
    what the oracle runs.  ``functions/skew.py:salted_join`` is the
    reusable operator; AQE skew-split handles the milder cases
    automatically (session.py)."""
    from nearscan_kafka_streams_spark.functions.skew import salted_join

    e = _t(spark, sf_dir, "events").select("user_id", "value")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    j = salted_join(e, c, "user_id", salt_buckets=8)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.expr("cast(round(value * 10000) as bigint)"))
                / 10000.0
            ).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


SALTED_JOIN_SQL = r"""
SELECT c.c_mktsegment, count(*) AS n_events,
       sum(CAST(round(e.value * 10000) AS BIGINT)) / 10000.0 AS total_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1 ORDER BY 1
"""
register(salted_skew_join_events, oracle=SALTED_JOIN_SQL)


def normalize_events_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature normalization for ML feature prep: z-score,
    min-max, and p05/p95 winsorization of event values within each
    event_type.  Values quantize to an integer grid so the moment sums
    (n, S, SS) are exact and order-independent; every downstream double
    expression is then a deterministic function of exact integers, so
    the oracle hash-matches bit-for-bit.  At production scale the
    integer-SS budget gives way to Welford accumulation -- same plan
    (one tiny stats aggregate broadcast back over the fact scan).

    Winsorization bounds use ``F.percentile`` (exact interpolated) <->
    DuckDB ``quantile_cont``, the pair proven by percentile_acctbal."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 10000).cast("bigint").alias("qv"),
    )
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").alias("s"),
        F.sum(F.col("qv") * F.col("qv")).alias("ss"),
        F.min("qv").alias("mn"),
        F.max("qv").alias("mx"),
        F.percentile("qv", 0.05).alias("p05"),
        F.percentile("qv", 0.95).alias("p95"),
    )
    j = e.join(F.broadcast(stats), "event_type")
    mu = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mu * mu
    return j.select(
        "event_id",
        "event_type",
        F.round((F.col("qv") - mu) / F.sqrt(var), 6).alias("zscore"),
        F.round(
            (F.col("qv") - F.col("mn")).cast("double")
            / (F.col("mx") - F.col("mn")),
            6,
        ).alias("minmax"),
        F.round(
            F.least(
                F.greatest(F.col("qv").cast("double"), F.col("p05")),
                F.col("p95"),
            )
            / 10000.0,
            6,
        ).alias("winsorized"),
    ).orderBy("event_id")


NORMALIZE_SQL = r"""
WITH e AS (
  SELECT event_id, event_type,
         CAST(round(value * 10000) AS BIGINT) AS qv
  FROM events
), stats AS (
  SELECT event_type, count(*) AS n, sum(qv) AS s, sum(qv * qv) AS ss,
         min(qv) AS mn, max(qv) AS mx,
         quantile_cont(qv, 0.05) AS p05, quantile_cont(qv, 0.95) AS p95
  FROM e GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round((e.qv - CAST(s.s AS DOUBLE) / s.n)
             / sqrt(CAST(s.ss AS DOUBLE) / s.n
                    - (CAST(s.s AS DOUBLE) / s.n)
                      * (CAST(s.s AS DOUBLE) / s.n)),
             6) AS zscore,
       round(CAST(e.qv - s.mn AS DOUBLE) / (s.mx - s.mn), 6) AS minmax,
       round(least(greatest(CAST(e.qv AS DOUBLE), s.p05), s.p95) / 10000.0, 6)
         AS winsorized
FROM e JOIN stats s USING (event_type)
ORDER BY event_id
"""
register(normalize_events_features, oracle=NORMALIZE_SQL)


def pagerank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (3 iterations, d=0.85) over the user-interaction
    graph derived from the event stream (src -> next user within each
    event_type's timeline): the source/domain-authority weighting
    primitive that feeds mixture sampling in curation stacks.

    Ranks live on an integer fixed-point grid (10^12 = one unit of
    mass), so every iteration is exact integer arithmetic and the
    3-iteration unrolled DuckDB CTE reproduces it bit-for-bit -- the
    same device as the connected-components oracles.  Scale shapes in
    functions/graph.py (one edge-scan join + one partial agg per
    iteration, lineage cut per round, nothing on the driver)."""
    from nearscan_kafka_streams_spark.functions.graph import pagerank

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = e.select(
        F.col("user_id").alias("src"),
        F.lead("user_id").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    ranks = pagerank(edges, n_iter=3, damping_pct=85)
    return ranks.select(
        F.col("node").alias("user_id"), "rank_fp"
    ).orderBy("user_id")


PAGERANK_SQL = r"""
WITH pairs AS (
  SELECT user_id AS src,
         lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS dst
  FROM events
), e AS (
  SELECT DISTINCT src, dst FROM pairs
  WHERE dst IS NOT NULL AND src <> dst
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), params AS (
  SELECT CAST(1000000000000 // count(*) AS BIGINT) AS base FROM nodes
), outdeg AS (
  SELECT src, count(*) AS deg FROM e GROUP BY src
), r0 AS (
  SELECT node, (SELECT base FROM params) AS rank_fp FROM nodes
), c1 AS (
  SELECT e.dst, sum(r.rank_fp // d.deg) AS inflow
  FROM r0 r JOIN outdeg d ON d.src = r.node JOIN e ON e.src = d.src
  GROUP BY e.dst
), r1 AS (
  SELECT n.node,
         CAST((15 * (SELECT base FROM params)
               + 85 * coalesce(c.inflow, 0)) // 100 AS BIGINT) AS rank_fp
  FROM nodes n LEFT JOIN c1 c ON c.dst = n.node
), c2 AS (
  SELECT e.dst, sum(r.rank_fp // d.deg) AS inflow
  FROM r1 r JOIN outdeg d ON d.src = r.node JOIN e ON e.src = d.src
  GROUP BY e.dst
), r2 AS (
  SELECT n.node,
         CAST((15 * (SELECT base FROM params)
               + 85 * coalesce(c.inflow, 0)) // 100 AS BIGINT) AS rank_fp
  FROM nodes n LEFT JOIN c2 c ON c.dst = n.node
), c3 AS (
  SELECT e.dst, sum(r.rank_fp // d.deg) AS inflow
  FROM r2 r JOIN outdeg d ON d.src = r.node JOIN e ON e.src = d.src
  GROUP BY e.dst
), r3 AS (
  SELECT n.node,
         CAST((15 * (SELECT base FROM params)
               + 85 * coalesce(c.inflow, 0)) // 100 AS BIGINT) AS rank_fp
  FROM nodes n LEFT JOIN c3 c ON c.dst = n.node
)
SELECT node AS user_id, rank_fp FROM r3 ORDER BY user_id
"""
register(pagerank_events, oracle=PAGERANK_SQL)


def ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed exponential smoothing (truncated EWMA, alpha=1/2 over
    the trailing 8 events per user): the time-decayed feature the
    reference's running-balance shape cannot express (it weights all
    history equally).  Weights are powers of two over integer-quantized
    values, renormalized over however many of the 8 lags exist, so
    numerator and denominator are exact integers and the final division
    is a deterministic double -- no float summation anywhere.

    Scale shape: one window per user partition (8 lag expressions in a
    single WindowExec pass, no self-join); identical cost profile to
    moving_avg_events."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    qx = F.round(F.col("value") * 10000).cast("bigint")
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for j in range(8):
        lagged = F.lag(qx, j).over(w)
        weight = 1 << (7 - j)
        num = num + F.coalesce(lagged * weight, F.lit(0))
        den = den + F.when(lagged.isNotNull(), F.lit(weight)).otherwise(
            F.lit(0)
        )
    return e.select(
        "event_id",
        "user_id",
        (num / den / 10000.0).alias("ewma_value"),
    ).orderBy("event_id")


EWMA_SQL = r"""
WITH e AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 10000) AS BIGINT) AS qx
  FROM events
)
SELECT event_id, user_id,
       (  coalesce(lag(qx, 0) OVER w * 128, 0)
        + coalesce(lag(qx, 1) OVER w * 64, 0)
        + coalesce(lag(qx, 2) OVER w * 32, 0)
        + coalesce(lag(qx, 3) OVER w * 16, 0)
        + coalesce(lag(qx, 4) OVER w * 8, 0)
        + coalesce(lag(qx, 5) OVER w * 4, 0)
        + coalesce(lag(qx, 6) OVER w * 2, 0)
        + coalesce(lag(qx, 7) OVER w * 1, 0))
       / (  CASE WHEN lag(qx, 0) OVER w IS NOT NULL THEN 128 ELSE 0 END
          + CASE WHEN lag(qx, 1) OVER w IS NOT NULL THEN 64 ELSE 0 END
          + CASE WHEN lag(qx, 2) OVER w IS NOT NULL THEN 32 ELSE 0 END
          + CASE WHEN lag(qx, 3) OVER w IS NOT NULL THEN 16 ELSE 0 END
          + CASE WHEN lag(qx, 4) OVER w IS NOT NULL THEN 8 ELSE 0 END
          + CASE WHEN lag(qx, 5) OVER w IS NOT NULL THEN 4 ELSE 0 END
          + CASE WHEN lag(qx, 6) OVER w IS NOT NULL THEN 2 ELSE 0 END
          + CASE WHEN lag(qx, 7) OVER w IS NOT NULL THEN 1 ELSE 0 END)
       / 10000.0 AS ewma_value
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
"""
register(ewma_events, oracle=EWMA_SQL)


def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-match self-join (record linkage / entity
    resolution): distinct part names pair up within a blocking key
    (first token) when their Levenshtein distance is 1-4 -- near but
    not identical (this corpus's adjective-noun vocabulary bottoms out
    at distance 3, e.g. "red widget"/"red gadget").  Blocking is what makes edit-distance joins
    tractable at scale: candidates are per-block pairs, never the full
    cross product (same discipline as the LSH band join); production
    swaps the first-token block for phonetic/prefix keys.
    ``F.levenshtein`` <-> DuckDB ``levenshtein`` agree on the standard
    unit-cost edit distance."""
    names = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("block", F.split("name", " ")[0])
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .where(dist.between(1, 4))
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.alias("dist"),
        )
        .orderBy("name_a", "name_b")
    )


FUZZY_MATCH_SQL = r"""
WITH names AS (
  SELECT DISTINCT p_name AS name,
         string_split(p_name, ' ')[1] AS block
  FROM part
)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name) AS dist
FROM names a JOIN names b
  ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 4
ORDER BY name_a, name_b
"""
register(fuzzy_match_parts, oracle=FUZZY_MATCH_SQL)


def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation as a query: recall@5 and
    first-relevant-rank (the MRR numerator) of a deliberately coarse
    retriever -- cosine over 3-bit-quantized vectors (``round(x*8)``)
    -- against the exact cosine top-5 ground truth.  This is the eval
    harness every ANN deployment needs (sweeping nbits/nprobe against
    truth), expressed as one DataFrame plan: both rankings are
    broadcast-query scans over the unshuffled corpus, and all metric
    outputs are integers (hits, recall percent, rank), so the whole
    thing hash-checks against DuckDB.

    Quantized cosines are exact-integer dot/norm ratios evaluated in
    double (ties broken by neighbor id), so truth and system agree
    bit-for-bit across engines."""
    from nearscan_kafka_streams_spark.functions.clustering import quantize_vec
    from nearscan_kafka_streams_spark.functions.similarity import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    exact = brute_force_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5
    ).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("cid"),
        F.col("rank").alias("t_rank"),
    )
    coarse_tbl = emb.select(
        "vec_id",
        quantize_vec(F.col("embedding"), scale=8)
        .cast("array<double>")
        .alias("qvec"),
    )
    coarse = brute_force_topk(
        coarse_tbl,
        coarse_tbl.where(F.col("vec_id") < 10),
        k=5,
        vec_col="qvec",
    ).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("cid"),
        F.col("rank").alias("s_rank"),
    )
    hits = coarse.join(exact, ["qid", "cid"])
    per_q = hits.groupBy("qid").agg(
        F.count(F.lit(1)).alias("hits"),
        F.min("s_rank").alias("first_hit_rank"),
    )
    all_q = exact.select("qid").distinct()
    return (
        all_q.join(per_q, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("hits"), F.lit(0))
            .cast("int")
            .alias("hits"),
            (F.coalesce(F.col("hits"), F.lit(0)) * 20)
            .cast("int")
            .alias("recall_pct"),
            F.coalesce(F.col("first_hit_rank"), F.lit(0))
            .cast("int")
            .alias("first_hit_rank"),
        )
        .orderBy("query_id")
    )


RETRIEVAL_EVAL_SQL = r"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(CAST(round(x * 8) AS BIGINT) AS DOUBLE))
           AS qv
  FROM embeddings
), exact AS (
  SELECT qid, cid, t_rank FROM (
    SELECT q.vec_id AS qid, a.vec_id AS cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(a.v, q.v) DESC,
                      a.vec_id ASC) AS t_rank
    FROM c a, c q WHERE q.vec_id < 10 AND a.vec_id <> q.vec_id
  ) WHERE t_rank <= 5
), coarse AS (
  SELECT qid, cid, s_rank FROM (
    SELECT q.vec_id AS qid, a.vec_id AS cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(a.qv, q.qv) DESC,
                      a.vec_id ASC) AS s_rank
    FROM c a, c q WHERE q.vec_id < 10 AND a.vec_id <> q.vec_id
  ) WHERE s_rank <= 5
), hits AS (
  SELECT s.qid, count(*) AS hits, min(s.s_rank) AS first_hit_rank
  FROM coarse s JOIN exact t ON t.qid = s.qid AND t.cid = s.cid
  GROUP BY s.qid
)
SELECT a.qid AS query_id,
       CAST(coalesce(h.hits, 0) AS INT) AS hits,
       CAST(coalesce(h.hits, 0) * 20 AS INT) AS recall_pct,
       CAST(coalesce(h.first_hit_rank, 0) AS INT) AS first_hit_rank
FROM (SELECT DISTINCT qid FROM exact) a
LEFT JOIN hits h ON h.qid = a.qid
ORDER BY query_id
"""
register(retrieval_eval_metrics, oracle=RETRIEVAL_EVAL_SQL)


def group_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe k-fold assignment: the fold is a deterministic hash
    of the GROUP key (source), not the row, so near-duplicate documents
    from the same source can never straddle train/validation -- the
    group-level split discipline every dedup-aware pipeline needs.
    Same md5-nibble device as hash_sample_events / shuffle_shards:
    a pure function of the key, reproducible across engines,
    partitionings, and reruns (where ``randomSplit`` is none of
    those).  Scan-side projection, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    fold = F.pmod(
        F.conv(F.substring(F.md5(F.col("source")), 1, 8), 16, 10).cast(
            "bigint"
        ),
        F.lit(5),
    ).cast("int")
    return d.select(
        "doc_id",
        "source",
        fold.alias("fold"),
        (fold != 0).alias("is_train"),  # fold 0 held out
    ).orderBy("doc_id")


GROUP_SPLIT_SQL = r"""
SELECT doc_id, source,
       CAST(CAST('0x' || substring(md5(source), 1, 8) AS BIGINT) % 5
            AS INT) AS fold,
       CAST(CAST('0x' || substring(md5(source), 1, 8) AS BIGINT) % 5
            AS INT) <> 0 AS is_train
FROM documents
ORDER BY doc_id
"""
register(group_split_documents, oracle=GROUP_SPLIT_SQL)


def curriculum_bins_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordering prep: bucket the corpus into 4 difficulty
    tiers by LM perplexity, then report per-tier size and score
    bounds -- the shape a curriculum scheduler consumes.

    Deliberately NOT ``ntile`` over a global window: that is ONE task
    holding the whole corpus (the q15 lesson).  Tier bounds are an
    exact-percentile scalar aggregate (p25/p50/p75 of the integer
    micro-nat scores, the proven ``F.percentile``<->``quantile_cont``
    pair) broadcast back over the scored scan, so binning is map-side
    and fully parallel; ties share a value-based tier, which is also
    the semantics a reproducible curriculum wants."""
    from nearscan_kafka_streams_spark.functions.lm import perplexity_score

    scored = perplexity_score(_t(spark, sf_dir, "documents"))
    bounds = scored.agg(
        F.percentile("avg_nll_micro", 0.25).alias("p25"),
        F.percentile("avg_nll_micro", 0.5).alias("p50"),
        F.percentile("avg_nll_micro", 0.75).alias("p75"),
    )
    s = F.col("avg_nll_micro")
    tier = (
        F.lit(1)
        + (s > F.col("p25")).cast("int")
        + (s > F.col("p50")).cast("int")
        + (s > F.col("p75")).cast("int")
    )
    return (
        scored.crossJoin(F.broadcast(bounds))
        .withColumn("tier", tier)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("avg_nll_micro").alias("easiest"),
            F.max("avg_nll_micro").alias("hardest"),
            F.sum("tokens").alias("total_tokens"),
        )
        .orderBy("tier")
    )


CURRICULUM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), toks2 AS (
  SELECT doc_id, tok FROM toks WHERE tok <> ''
), counts AS (
  SELECT tok, count(*) AS c FROM toks2 GROUP BY tok
), totals AS (
  SELECT sum(c) AS N, count(*) AS V FROM counts
), model AS (
  SELECT tok,
         CAST(round(ln((c + 1) / CAST(N + V AS DOUBLE)) * 1000000) AS BIGINT)
           AS lp
  FROM counts, totals
), scored AS (
  SELECT t.doc_id, count(*) AS tokens,
         CAST(-(sum(m.lp) // count(*)) AS BIGINT) AS avg_nll_micro
  FROM toks2 t JOIN model m USING (tok)
  GROUP BY t.doc_id
), bounds AS (
  SELECT quantile_cont(avg_nll_micro, 0.25) AS p25,
         quantile_cont(avg_nll_micro, 0.5) AS p50,
         quantile_cont(avg_nll_micro, 0.75) AS p75
  FROM scored
), binned AS (
  SELECT s.*,
         1 + CAST(s.avg_nll_micro > b.p25 AS INT)
           + CAST(s.avg_nll_micro > b.p50 AS INT)
           + CAST(s.avg_nll_micro > b.p75 AS INT) AS tier
  FROM scored s, bounds b
)
SELECT tier, count(*) AS n_docs,
       min(avg_nll_micro) AS easiest,
       max(avg_nll_micro) AS hardest,
       CAST(sum(tokens) AS BIGINT) AS total_tokens
FROM binned
GROUP BY tier
ORDER BY tier
"""
register(curriculum_bins_documents, oracle=CURRICULUM_SQL)


def weighted_sample_documents(
    spark: SparkSession, sf_dir: str, k: int = 500
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES): sample 500 documents with inclusion
    probability proportional to length -- the "sample by token budget,
    not by row count" primitive a mixture builder needs.

    Each row gets key = ln(u)/w where u is a uniform derived from
    md5(doc_id) (pure function of the key, so reproducible across
    engines, runs, and partitionings -- unlike ``rand()``-keyed
    reservoirs) and w = n_chars; the top-k keys ARE an exact weighted
    sample without replacement (Efraimidis & Spirakis 2006).

    Scale: the key is a scan-side projection and the top-k is
    TakeOrderedAndProject -- per-partition heaps, k rows per partition
    to the driver, NO global sort, NO shuffle of the corpus.  The
    float key is selection-only (not output): a 1-ulp ``ln``
    divergence between engines can only matter if ranks k and k+1 are
    within 1 ulp of each other, which md5-random keys never are."""
    d = _t(spark, sf_dir, "documents")
    u32 = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":ws"))), 1, 8),
        16, 10,
    ).cast("long")
    u = (u32.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    return (
        d.select("doc_id", "lang", "source", "n_chars", key.alias("_k"))
        .orderBy(F.col("_k").desc(), "doc_id")
        .limit(k)
        .drop("_k")
    )


WEIGHTED_SAMPLE_SQL = r"""
SELECT doc_id, lang, source, n_chars
FROM (
  SELECT d.*,
         ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ws'),
                                    1, 8) AS BIGINT) + 0.5) / 4294967296.0)
         / greatest(n_chars, 1) AS k
  FROM documents d
)
ORDER BY k DESC, doc_id
LIMIT 500
"""
register(weighted_sample_documents, oracle=WEIGHTED_SAMPLE_SQL)


# per-source training epochs for mixture_upsample_documents, expressed
# exactly: (full integer copies, extra-copy threshold in 16ths).  A
# fractional epoch count e = full + thr/16 means every doc is emitted
# `full` times and docs whose md5 nibble < thr get one more -- i.e. a
# deterministic hash-Bernoulli(thr/16) for the fractional epoch, the
# standard upsampling spec of mixture recipes (Pile / RefinedWeb style).
MIXTURE_EPOCHS: dict[str, tuple[int, int]] = {
    "src0": (2, 4),   # 2.25 epochs
    "src1": (1, 0),   # 1.0
    "src2": (0, 8),   # 0.5  (downsample)
}
MIXTURE_EPOCHS_DEFAULT = (1, 8)  # 1.5 epochs for every other source


def mixture_upsample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture upsampling with fractional epochs: replicate
    each document per its source's epoch weight (see MIXTURE_EPOCHS),
    emitting an epoch_copy index per replica.  The fractional part is
    a deterministic md5-nibble Bernoulli, so the materialized mixture
    is reproducible bit-for-bit.

    Scale: pure map-side -- copies = CASE on source + one nibble
    compare, replication via explode(sequence(1, copies)).  Zero
    shuffles, zero state; output size = sum(epochs_s * n_s) by
    construction.  At 100 TB this runs at scan speed and feeds the
    deterministic global shuffle (`shuffle_shards`) downstream."""
    d = _t(spark, sf_dir, "documents")
    nib = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":mix"))), 1, 1),
        16, 10,
    ).cast("int")
    full = F.lit(MIXTURE_EPOCHS_DEFAULT[0])
    thr = F.lit(MIXTURE_EPOCHS_DEFAULT[1])
    for src, (f_, t_) in MIXTURE_EPOCHS.items():
        full = F.when(F.col("source") == src, F.lit(f_)).otherwise(full)
        thr = F.when(F.col("source") == src, F.lit(t_)).otherwise(thr)
    copies = full + (nib < thr).cast("int")
    return (
        d.select(
            "doc_id",
            "source",
            F.explode(
                # sequence(1, 0) would DESCEND ([1, 0]); emit NULL for
                # copies=0 instead -- explode drops null arrays
                F.when(copies >= 1, F.sequence(F.lit(1), copies))
            ).alias("epoch_copy"),
        )
    )


MIXTURE_UPSAMPLE_SQL = r"""
WITH c AS (
  SELECT doc_id, source,
         (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
                      WHEN 'src2' THEN 0 ELSE 1 END)
         + CAST(CAST('0x' || substring(
               md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 1) AS INT)
             < (CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 0
                            WHEN 'src2' THEN 8 ELSE 8 END) AS INT)
           AS copies
  FROM documents
)
SELECT doc_id, source, unnest(generate_series(1, copies)) AS epoch_copy
FROM c
"""
register(mixture_upsample_documents, oracle=MIXTURE_UPSAMPLE_SQL)


def bloom_prune_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-style join pruning, made explicit: before joining
    the orders fact to a selectively-filtered customer dim, the fact
    scan is pre-filtered by TWO broadcast hashed-position semi-joins
    (xxhash64 mod 2^17 under two seeds -- a 2-hash bloom filter whose
    "bitmap" is a broadcast distinct-position set, never collected to
    the driver).  The prefilter is conservative (no false negatives;
    modulo collisions = false positives), so the exact inner join
    behind it returns precisely the plain-join answer -- the oracle IS
    the plain join.

    Scale: this is Spark's row-level runtime filtering expressed as an
    operator.  At 100 TB the two position sets are ~KB broadcasts that
    drop non-matching fact rows AT THE SCAN, before the (possibly
    sort-merge) exact join pays shuffle for them.  With a 1%-selective
    dim, ~99% of fact rows never leave their input partition."""
    m = 1 << 17
    cust = _t(spark, sf_dir, "customer").where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") < 5)
    )
    fact = _t(spark, sf_dir, "orders")
    for seed in (1, 2):
        pos = cust.select(
            F.pmod(F.xxhash64(F.col("c_custkey"), F.lit(seed)), F.lit(m))
            .alias("pos")
        ).distinct()
        fact = fact.join(
            F.broadcast(pos),
            F.pmod(F.xxhash64(F.col("o_custkey"), F.lit(seed)), F.lit(m))
            == F.col("pos"),
            "left_semi",
        )
    joined = fact.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # integer cents: summation-order-proof (the q10 recipe)
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / F.lit(100.0)
            ).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


BLOOM_PRUNE_JOIN_SQL = r"""
SELECT o_orderpriority, count(*) AS n_orders,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND c_nationkey < 5
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
register(bloom_prune_join_orders, oracle=BLOOM_PRUNE_JOIN_SQL)


def hll_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Datasketches-HLL distinct counts: per-(type, day)
    sketches unioned up to per-type -- the two-level rollup shape a
    100 TB pipeline uses so the expensive pass happens once and every
    coarser grain is a cheap sketch merge (no re-scan).  HLL registers
    are a max over hashed values: order- and partition-independent, so
    the estimates are deterministic.  No oracle: DuckDB's HLL is a
    different algorithm; accuracy and merge==direct equivalence are
    pinned in tests/test_sketches.py."""
    from nearscan_kafka_streams_spark.functions.sketches import (
        hll_rollup_distinct,
    )

    e = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    return hll_rollup_distinct(
        e, fine=["event_type", "day"], coarse=["event_type"],
        value_col="user_id",
    )


register(hll_distinct_events)


def data_quality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality contract on the orders table
    (Deequ-style; see functions/checks.py): completeness, key
    uniqueness, status domain, price positivity, and referential
    integrity against customer -- the machine-checkable ingest gate a
    100 TB pipeline runs before data enters.  All metrics are integer
    violation counts, so the whole report is oracle-exact.

    Plan: ONE partial-aggregated scan for the row-local checks, one
    hash agg for uniqueness, one anti-join (broadcast parent keys) for
    the FK -- no full-table shuffle for the row-local contract."""
    from nearscan_kafka_streams_spark.functions.checks import (
        TableChecks,
        check_foreign_key,
        check_table,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    report = check_table(
        o,
        TableChecks(
            complete=["o_orderkey", "o_custkey", "o_orderdate"],
            unique=[["o_orderkey"]],
            in_domain={"o_orderstatus": ["O", "F", "P"]},
            satisfies={"positive_price": F.col("o_totalprice") > 0},
        ),
    )
    fk = check_foreign_key(o, "o_custkey", c, "c_custkey")
    return report.unionByName(fk).orderBy("check_name")


DATA_QUALITY_SQL = r"""
WITH m AS (
  SELECT
    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS c_orderkey,
    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS c_custkey,
    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS c_orderdate,
    sum(CASE WHEN o_orderstatus IS NULL
              OR o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
      AS dom_status,
    sum(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END)
      AS sat_price,
    count(o_orderkey) - count(DISTINCT o_orderkey) AS dup_orderkey
  FROM orders
), fk AS (
  SELECT count(*) AS orphans
  FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)
)
SELECT check_name, CAST(observed AS BIGINT) AS observed,
       CAST(0 AS BIGINT) AS expected, observed = 0 AS passed
FROM (
  SELECT 'complete:o_orderkey' AS check_name, c_orderkey AS observed FROM m
  UNION ALL SELECT 'complete:o_custkey', c_custkey FROM m
  UNION ALL SELECT 'complete:o_orderdate', c_orderdate FROM m
  UNION ALL SELECT 'domain:o_orderstatus', dom_status FROM m
  UNION ALL SELECT 'satisfies:positive_price', sat_price FROM m
  UNION ALL SELECT 'unique:o_orderkey', dup_orderkey FROM m
  UNION ALL SELECT 'fk:o_custkey', orphans FROM fk
)
ORDER BY check_name
"""
register(data_quality_orders, oracle=DATA_QUALITY_SQL)


# stride weights for interleave_mixture_schedule, in 16ths; each weight
# must divide 16 so the stride is an exact integer (16 // w).
INTERLEAVE_WEIGHTS: dict[str, int] = {"src0": 8, "src1": 4, "src2": 2}
INTERLEAVE_WEIGHT_DEFAULT = 2


def interleave_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stride-scheduled training order: assign every
    document a schedule key such that reading the corpus in key order
    interleaves sources in proportion to their mixture weights
    (stride scheduling, Waldspurger & Weihl OSDI '94 -- the same
    discipline training loaders use so a batch window never sees one
    source in a burst).

    Each source's docs are ranked by a deterministic hash order
    (md5, so the within-source order is itself a shuffle), then doc
    rank r in a source of weight w gets key (2r-1)*(16/w): source
    passes emit every 16/w ticks, giving every schedule prefix a
    source composition within one doc of the weight ratio.  All
    integer -- oracle-exact.

    Scale: ONE partitioned window (rank within source -- parallel
    across sources, and within a source it is the unavoidable
    per-source sequence number) + map-side key arithmetic.  The
    schedule KEY is the deliverable; the global order materializes
    only at write time (range-partitioned by key), never as a
    single-task sort here."""
    d = _t(spark, sf_dir, "documents")
    w = F.lit(INTERLEAVE_WEIGHT_DEFAULT)
    for src, wt in INTERLEAVE_WEIGHTS.items():
        w = F.when(F.col("source") == src, F.lit(wt)).otherwise(w)
    r = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return d.select(
        "doc_id",
        "source",
        r.alias("rank_in_source"),
        w.alias("weight16"),
    ).withColumn(
        "stride_key",
        # 16/w is exact (w divides 16); stride stays all-integer
        (2 * F.col("rank_in_source") - 1)
        * (F.lit(16) / F.col("weight16")).cast("long"),
    )


INTERLEAVE_SQL = r"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank_in_source,
         CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 4
                     WHEN 'src2' THEN 2 ELSE 2 END AS weight16
  FROM documents
)
SELECT doc_id, source, rank_in_source, weight16,
       CAST((2 * rank_in_source - 1) * (16 / weight16) AS BIGINT)
         AS stride_key
FROM ranked
"""
register(interleave_mixture_schedule, oracle=INTERLEAVE_SQL)


def chisq_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency analysis of lang x source -- the
    association test a corpus auditor runs to see whether language
    composition differs across sources (feature/bias screening).

    Per cell: observed n, and the chi-square contribution
    (o - e)^2 / e computed as (o*N - row*col)^2 / (N*row*col) so the
    numerator stays integral before ONE double division; quantized to
    integer millionths, matching the engine and the oracle bit-for-bit
    (identical operation sequence => identical IEEE rounding).

    Scale: cells = one partial-aggregated groupBy of the corpus --
    the ONLY pass over the data (plan-asserted single scan).
    Row/col/grand totals are window sums OVER THE CELL TABLE, whose
    size is |langs| x |sources| -- bounded by domain cardinality, not
    data -- so even the unpartitioned grand-total window is a
    few-hundred-row single task (the documented exception to the
    no-global-window rule; re-aggregation joins instead would make
    Catalyst re-scan the corpus once per total, measured 4 scans)."""
    d = _t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    out = cells.select(
        "lang",
        "source",
        "n",
        F.sum("n").over(Window.partitionBy("lang")).alias("row_n"),
        F.sum("n").over(Window.partitionBy("source")).alias("col_n"),
        F.sum("n").over(Window.partitionBy()).alias("total_n"),
    )
    dev = (
        F.col("n") * F.col("total_n") - F.col("row_n") * F.col("col_n")
    ).cast("double")
    denom = (
        F.col("total_n") * F.col("row_n") * F.col("col_n")
    ).cast("double")
    return out.select(
        "lang",
        "source",
        "n",
        F.round(dev * dev / denom * 1e6).cast("long").alias("chi2_micro"),
    ).orderBy("lang", "source")


CHISQ_SQL = r"""
WITH cells AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
), rt AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS row_n FROM cells GROUP BY lang
), ct AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS col_n FROM cells GROUP BY source
), tt AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_n FROM cells
)
SELECT c.lang, c.source, c.n,
       CAST(round(
         CAST(c.n * t.total_n - r.row_n * ct.col_n AS DOUBLE)
         * CAST(c.n * t.total_n - r.row_n * ct.col_n AS DOUBLE)
         / CAST(t.total_n * r.row_n * ct.col_n AS DOUBLE) * 1e6
       ) AS BIGINT) AS chi2_micro
FROM cells c
JOIN rt r USING (lang)
JOIN ct USING (source)
CROSS JOIN tt t
ORDER BY lang, source
"""
register(chisq_lang_source, oracle=CHISQ_SQL)


def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) lookup against the SCD2 dimension -- the
    consuming half of ``scd2_user_state``: for every 'click' event,
    find the state interval that was valid AT that event's timestamp
    (``valid_from <= ts < valid_to``, open-ended current row).

    Scale: this is an EQUI-join on user_id with the interval bounds as
    residual predicates -- a hash join (plan-asserted: no nested-loop),
    never a full interval cross-product; per-user interval counts are
    run-length-bounded.  The dimension rebuild is window-partitioned
    by user (see scd2_user_state)."""
    dim = scd2_user_state(spark, sf_dir).select(
        "user_id",
        F.col("version").alias("state_version"),
        F.col("event_type").alias("state_type"),
        "valid_from",
        "valid_to",
    )
    probe = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "click"
    ).select("event_id", "user_id", "ts")
    joined = probe.join(
        dim,
        (probe["user_id"] == dim["user_id"])
        & (probe["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (probe["ts"] < dim["valid_to"])),
    )
    return joined.select(
        "event_id",
        probe["user_id"].alias("user_id"),
        "ts",
        "state_version",
        "state_type",
    ).orderBy("event_id", "state_version")


SCD2_PIT_SQL = r"""
WITH marked AS (
  SELECT user_id, ts, event_type, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR event_type <> lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seg AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS seg
  FROM marked
), runs AS (
  SELECT user_id, seg, min(event_type) AS state_type,
         min(ts) AS valid_from
  FROM seg GROUP BY user_id, seg
), dim AS (
  SELECT user_id, CAST(seg AS BIGINT) AS state_version, state_type,
         valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg)
           AS valid_to
  FROM runs
)
SELECT p.event_id, p.user_id, p.ts, d.state_version, d.state_type
FROM events p
JOIN dim d
  ON p.user_id = d.user_id
 AND p.ts >= d.valid_from
 AND (d.valid_to IS NULL OR p.ts < d.valid_to)
WHERE p.event_type = 'click'
ORDER BY p.event_id, d.state_version
"""
register(scd2_point_in_time_join, oracle=SCD2_PIT_SQL)


def bpe_zero_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-sibling oracle for the BPE tokenize kernel: with ZERO
    learned merges, BPE segmentation is exactly one token per
    non-whitespace character of the normalized text -- SQL-expressible,
    so the whole mapInPandas Arrow path (normalization, word split,
    per-word encode, memoization) gets a hash-matched check on its
    exact skeleton.  The trained path (`bpe_token_stats`) shares every
    line of that kernel and stays rows-only + property-tested."""
    from nearscan_kafka_streams_spark.functions.bpe import bpe_tokenize

    d = _t(spark, sf_dir, "documents")
    return bpe_tokenize(d, merges=[]).select("doc_id", "n_tokens")


BPE_ZERO_MERGE_SQL = r"""
SELECT doc_id,
       CAST(length(regexp_replace(lower(trim(text)), '\s', '', 'g'))
            AS INT) AS n_tokens
FROM documents
"""
register(bpe_zero_merge_stats, oracle=BPE_ZERO_MERGE_SQL)


def text_normalize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization (functions/text.py::normalize_text)
    driven over a deterministically MESSIFIED corpus: the testdata is
    plain ASCII, so the query first injects the unicode junk the op
    exists to fix (NBSP for every space, plus a suffix carrying a
    control char, em-dash, curly quotes, zero-width space, and an
    ellipsis), then normalizes -- the oracle replays both steps, so
    the hash-match exercises every unicode path cross-engine, not an
    identity transform.

    Scale: scan-side regexp/translate chain, codegen, zero shuffles."""
    from nearscan_kafka_streams_spark.functions.text import normalize_text

    d = _t(spark, sf_dir, "documents")
    messy = F.concat(
        F.translate(F.col("text"), " ", "\u00a0"),
        F.lit(
            "\u0007 \u2014 \u201cq\u201d \u2018s\u2019"
            " x\u200by \u2026"
        ),
    )
    norm = normalize_text(messy)
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        (F.length(norm) - F.length(messy)).alias("len_delta"),
    )


TEXT_NORMALIZE_SQL = """
WITH messy AS (
  SELECT doc_id,
         translate(text, ' ', chr(160))
           || chr(7) || ' ' || chr(8212) || ' ' || chr(8220) || 'q'
           || chr(8221) || ' ' || chr(8216) || 's' || chr(8217)
           || ' x' || chr(8203) || 'y ' || chr(8230) AS m
  FROM documents
), norm AS (
  SELECT doc_id, m,
    trim(regexp_replace(
      regexp_replace(
        translate(translate(
          regexp_replace(
            regexp_replace(
              regexp_replace(m,
                '[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}]',
                '', 'g'),
              '[\\x{00A0}\\x{1680}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]',
              ' ', 'g'),
            '[\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g'),
          chr(8216) || chr(8217) || chr(8220) || chr(8221),
          '''' || '''' || '"' || '"'),
        chr(8211) || chr(8212) || chr(8213), '---'),
        '\\x{2026}', '...', 'g'),
      '\\s+', ' ', 'g')) AS norm_text
  FROM messy
)
SELECT doc_id, norm_text,
       CAST(length(norm_text) - length(m) AS INT) AS len_delta
FROM norm
"""
register(text_normalize_documents, oracle=TEXT_NORMALIZE_SQL)


def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly: group documents into fixed-size
    training batches of SIMILAR token counts, so per-batch padding to
    the batch max wastes little compute -- the "sorted batching" /
    bucketing trick every sequence-model loader uses.

    Documents hash into 8 length buckets (64-token bands, capped);
    within a bucket a deterministic md5 order assigns positions, and
    every 16 consecutive docs form a batch.  All-integer and a pure
    function of (doc_id, token count): reproducible across engines
    and partitionings.

    Scale: ONE window partitioned by bucket (8-way parallel minimum;
    at 100 TB pre-partition by bucket and the window is per-partition
    sequential only within a bucket -- or shard the bucket key by
    date for more parallelism).  No global sort; batches materialize
    at write time via the same range-partition-on-key discipline as
    the stride schedule."""
    d = _t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    bucket = F.least(
        F.floor(n_tok / 64).cast("int"), F.lit(7)
    )
    scored = d.select("doc_id", n_tok.alias("n_tokens"), bucket.alias("bucket"))
    idx = (
        F.row_number().over(
            Window.partitionBy("bucket").orderBy(
                F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
            )
        )
        - 1
    )
    return (
        scored.withColumn("idx", idx)
        .select(
            "doc_id",
            "n_tokens",
            "bucket",
            # integer div, not /: DuckDB CAST(double AS INT) rounds
            # where Spark's cast truncates
            F.expr("idx div 16").cast("int").alias("batch_in_bucket"),
            (F.col("idx") % 16).cast("int").alias("pos_in_batch"),
        )
        .orderBy("bucket", "batch_in_bucket", "pos_in_batch")
    )


LENGTH_BUCKET_SQL = r"""
WITH scored AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END
           AS n_tokens
  FROM documents
), b AS (
  SELECT doc_id, n_tokens,
         least(CAST(floor(n_tokens / 64) AS INT), 7) AS bucket
  FROM scored
), pos AS (
  SELECT doc_id, n_tokens, bucket,
         row_number() OVER (
           PARTITION BY bucket
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) - 1 AS idx
  FROM b
)
SELECT doc_id, n_tokens, bucket,
       CAST(idx // 16 AS INT) AS batch_in_bucket,
       CAST(idx % 16 AS INT) AS pos_in_batch
FROM pos
ORDER BY bucket, batch_in_bucket, pos_in_batch
"""
register(length_bucket_batches, oracle=LENGTH_BUCKET_SQL)


def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``WITH RECURSIVE`` -- iterative queries expressed in
    SQL text rather than a driver loop: walk the (synthetic but
    deterministic) customer reporting chain ``manager = custkey div
    10`` up to the root, emitting each customer's depth and root.

    The engine's iterative operators (connected components, PageRank,
    K-Means) are DataFrame loops with explicit lineage cuts; this
    entry pins the SQL-native recursion path as an equivalent surface
    (each recursion step is one distributed job; depth here is
    log10(keys), so the plan is ~5 unions at any corpus size).

    Oracle: DuckDB runs the SAME recursive SQL -- identical semantics,
    exact hash-match."""
    return spark.sql(
        RECURSIVE_CTE_SQL.replace(
            "FROM customer", f"FROM parquet.`{sf_dir}/customer.parquet`"
        )
    )


RECURSIVE_CTE_SQL = """
WITH RECURSIVE chain(custkey, anchor, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  -- floor-div spelled portably: Spark has `div` but not `//`,
  -- DuckDB has `//` but `div` is a function; floor() runs on both
  SELECT CAST(floor(custkey / 10.0) AS BIGINT), anchor, depth + 1
  FROM chain WHERE custkey >= 10
)
SELECT anchor AS c_custkey,
       max(depth) AS chain_depth,
       min(custkey) AS root_key
FROM chain
GROUP BY anchor
ORDER BY c_custkey
"""
register(recursive_cte_hierarchy, oracle=RECURSIVE_CTE_SQL)


def variant_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT for semi-structured data: parse the ``props``
    JSON into the binary VARIANT encoding and extract a typed field
    with ``try_variant_get`` -- the shredded, predicate-pushable
    representation a 100 TB lakehouse stores instead of JSON strings
    (parse once at ingest, every reader skips string re-parsing).

    Output is the extracted typed value + a per-type aggregate so the
    oracle (DuckDB json_extract) hash-checks both row-level extraction
    and downstream arithmetic on it."""
    e = _t(spark, sf_dir, "events")
    k = F.try_variant_get(
        F.parse_json(F.col("props")), "$.k", "int"
    )
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


VARIANT_JSON_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""
register(variant_json_events, oracle=VARIANT_JSON_SQL)


PSEUDO_SECRET = "corpus-v1"  # rotate per release; NOT a real secret here


def pseudonymize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization for training-data privacy: replace
    user_id with a salted-hash token that is IRREVERSIBLE without the
    salt yet CONSISTENT across tables/runs, so joins, group-bys, and
    per-user statistics still work on the pseudonymized corpus (the
    property plain redaction destroys).

    Token = first 16 hex of md5(salt || user_id): scan-side, zero
    shuffle for the tokenization itself; the demo aggregate groups by
    token and hash-matches DuckDB to prove cross-engine consistency
    of the token function."""
    e = _t(spark, sf_dir, "events")
    token = F.substring(
        F.md5(F.concat(F.lit(PSEUDO_SECRET + ":"),
                       F.col("user_id").cast("string"))),
        1, 16,
    )
    return (
        e.select(token.alias("user_token"), "event_type")
        .groupBy("user_token")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_token")
    )


PSEUDONYMIZE_SQL = f"""
SELECT substring(md5('{PSEUDO_SECRET}:' || CAST(user_id AS VARCHAR)), 1, 16)
         AS user_token,
       count(*) AS n_events
FROM events
GROUP BY 1
ORDER BY user_token
"""
register(pseudonymize_events, oracle=PSEUDONYMIZE_SQL)


def range_frame_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frames: per user, the rolling sum and count of
    the trailing 10 MINUTES of activity at every event -- a frame
    defined by event-time distance, not row count (ROWS frames are
    covered by the EWMA query; RANGE is the other frame family).

    Integer-quantized sums (the q10 recipe) keep the rolling totals
    engine-exact.  Plan: one WindowExec partitioned by user -- the
    frame bound is evaluated per row against the ordered partition,
    no self-join."""
    e = _t(spark, sf_dir, "events")
    q = F.round(F.col("value") * 10000).cast("long")
    # truncated epoch seconds: unix_micros div 1e6 on BOTH engines
    # (timestamp->long casts disagree on sub-second handling)
    sec = F.expr("unix_micros(ts) div 1000000")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-600, 0)  # seconds: trailing 10 minutes
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        (F.sum(q).over(w) / 10000.0).alias("sum_10m"),
        F.count(F.lit(1)).over(w).alias("n_10m"),
    ).orderBy("event_id")


RANGE_FRAME_SQL = """
SELECT event_id, user_id, ts,
       sum(CAST(round(value * 10000) AS BIGINT)) OVER w / 10000.0
         AS sum_10m,
       count(*) OVER w AS n_10m
FROM events
WINDOW w AS (
  PARTITION BY user_id
  ORDER BY epoch_us(ts) // 1000000
  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW
)
ORDER BY event_id
"""
register(range_frame_events, oracle=RANGE_FRAME_SQL)


def forward_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill imputation (`last_value ... IGNORE NULLS`): carry
    each user's last observed value over gaps -- the standard
    missing-feature repair for event/sensor series before training.
    Gaps are injected deterministically (every 5th event id) so the
    fill path is actually exercised on this data.

    Plan: one user-partitioned WindowExec, running frame -- no joins,
    no self-lookups; scales with the per-user sequence like every
    other window op here."""
    e = _t(spark, sf_dir, "events")
    gappy = F.when(
        F.col("event_id") % 5 == 0, F.lit(None).cast("double")
    ).otherwise(F.col("value"))
    q = F.round(gappy * 10000).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = F.last(q, ignorenulls=True).over(w)
    return e.select(
        "event_id",
        "user_id",
        (q.isNull()).alias("was_gap"),
        (filled / 10000.0).alias("value_filled"),
    ).orderBy("event_id")


FORWARD_FILL_SQL = """
WITH gappy AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_id % 5 = 0 THEN NULL
              ELSE CAST(round(value * 10000) AS BIGINT) END AS q
  FROM events
)
SELECT event_id, user_id,
       q IS NULL AS was_gap,
       last_value(q IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) / 10000.0 AS value_filled
FROM gappy
ORDER BY event_id
"""
register(forward_fill_events, oracle=FORWARD_FILL_SQL)


def sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+ ``@udtf``): one row per sentence with
    its index and word count -- the table-function surface for
    imperative row GENERATION when a case genuinely needs Python
    (this one doesn't -- the engine's own chunker is pure explode --
    but the UDTF lane must exist and be verified for the ones that
    do, e.g. stateful parsers).

    ``useArrow=True`` puts the UDTF on the Arrow lane
    (ArrowEvalPythonUDTF: columnar batch transfer) instead of the
    pickled row-at-a-time BatchEvalPythonUDTF default -- the
    registry-wide plan lint (test_registry_plan_lint.py) enforces
    this for every Python surface.  LATERAL-joined to the corpus scan
    so docs stay partition-parallel.  Oracle: the same split replayed
    with regexp_split + unnest in DuckDB."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="sent_idx int, n_words int", useArrow=True)
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            parts = [
                p.strip() for p in text.split(". ") if p.strip()
            ]
            for i, p in enumerate(parts):
                yield i, len(p.split(" "))

    spark.udtf.register("sentence_split", SentenceSplit)
    d = _t(spark, sf_dir, "documents")
    d.select("doc_id", "text").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.n_words
        FROM udtf_docs d, LATERAL sentence_split(d.text) s
        ORDER BY d.doc_id, s.sent_idx
        """
    )


SENTENCE_UDTF_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(text, '\. ')) AS p,
         generate_subscripts(regexp_split_to_array(text, '\. '), 1) - 1
           AS raw_idx
  FROM documents
), cleaned AS (
  SELECT doc_id, trim(p) AS p,
         row_number() OVER (PARTITION BY doc_id ORDER BY raw_idx) - 1
           AS sent_idx
  FROM parts
  WHERE length(trim(p)) > 0
)
SELECT doc_id, sent_idx,
       len(string_split(p, ' ')) AS n_words
FROM cleaned
ORDER BY doc_id, sent_idx
"""
register(sentence_split_udtf, oracle=SENTENCE_UDTF_SQL)


def listagg_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered string aggregation (LISTAGG): each
    customer's order keys as one date-ordered CSV -- the feature/audit
    string a per-entity history column needs.

    The recipe matters more than the query: ``collect_list`` ingests
    in PARTITION order (nondeterministic across runs), so the list is
    built as structs carrying the sort key and ``array_sort``-ed
    BEFORE ``concat_ws`` -- same output on any partitioning, exactly
    what the DuckDB ``string_agg(... ORDER BY)`` oracle demands.

    Scale: one groupBy with map-side partial ``collect_list``; per-key
    payload is that key's history (cap with slice() when entities are
    unbounded)."""
    o = _t(spark, sf_dir, "orders")
    pairs = F.struct(
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    return (
        o.groupBy("o_custkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(pairs)),
                    lambda s: s["k"].cast("string"),
                ),
            ).alias("order_history"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


LISTAGG_SQL = """
SELECT o_custkey,
       string_agg(CAST(o_orderkey AS VARCHAR), ','
                  ORDER BY o_orderdate, o_orderkey) AS order_history,
       count(*) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""
register(listagg_order_history, oracle=LISTAGG_SQL)


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication audit: for every source pair, how many
    distinct document fingerprints they SHARE -- the redundancy matrix
    a mixture designer reads before setting per-source epochs (two
    mirrors of the same crawl should not both get weight 2.0).

    Overlap unit = word 5-gram shingles (whole-document fingerprints
    find only perfect mirrors; shingles expose shared boilerplate and
    partial copies, the thing that actually skews mixtures).

    Plan: shingle once (scan-side explode) -> distinct (shingle,
    source) -> self-join ON the shingle hash with src_a < src_b ->
    pair counts.  Join groups are bounded by the SOURCE count per
    shingle (<= n_sources rows), so pair expansion is at most
    C(n_sources, 2) per shingle -- never a cross product however hot
    the shingle."""
    from nearscan_kafka_streams_spark.functions.dedup import _spread

    # the 5-gram md5 explode executes in the scan's partitioning --
    # one split at bench scale (round-12 stage census: 1.1 s of 2.2 s
    # wall on a single task).  _spread is a no-op at scale.
    d = _spread(_t(spark, sf_dir, "documents"))
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    grams = d.select("source", words.alias("ws")).where(
        F.size("ws") >= 5
    ).select(
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
    fp = grams.select("fp", "source").distinct()
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .orderBy("source_a", "source_b")
    )


SOURCE_OVERLAP_SQL = r"""
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
)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS shared_fingerprints
FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2
ORDER BY source_a, source_b
"""
register(source_overlap_matrix, oracle=SOURCE_OVERLAP_SQL)


def token_accounting_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card accounting: documents / whitespace tokens / characters
    per (source, lang) with rollup subtotals and the grand total --
    the composition table every corpus release ships and every
    mixture-weight decision starts from.  All integer counts; one
    partial-aggregated scan (rollup = Expand, same single-pass
    discipline as grouping sets)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            "lang",
            token_count(F.col("text")).alias("toks"),
            F.length("text").alias("chars"),
        )
        .rollup("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.sum("chars").cast("long").alias("n_chars"),
        )
        .orderBy("source", "lang")
    )


TOKEN_ACCOUNTING_SQL = r"""
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
            AS BIGINT) AS n_tokens,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM documents
GROUP BY ROLLUP (source, lang)
ORDER BY source, lang
"""
register(token_accounting_documents, oracle=TOKEN_ACCOUNTING_SQL)


