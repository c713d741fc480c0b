"""Training-data pipeline: text analysis (lang-id, quality, tokens,
fingerprints, sampling, scrubbing)."""
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    LANG_STOPWORDS,
    SparkSession,
    _t,
    jaccard_similarity_join,
    quality_score,
    token_count,
    register,
)

# --------------------------------------------------------------------------
# Training-data pipeline: text analysis
# --------------------------------------------------------------------------


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count per document."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
FROM documents
"""
register(text_token_count, oracle=TOKEN_COUNT_SQL)


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (length/punct/stopword factors)."""
    d = _t(spark, sf_dir, "documents")
    # +1e-9 before rounding: the score is built from small rational
    # fractions (n/500, k/64) that can land EXACTLY on a 6-decimal
    # half-point, where Spark (BigDecimal HALF_UP on the shortest
    # string repr) and DuckDB (binary) round differently; the epsilon
    # pushes both engines off the boundary in the same direction
    return d.select(
        "doc_id",
        F.round(quality_score(F.col("text")) + F.lit(1e-9), 6).alias("quality"),
    )


_SW_EN = "('the','and','of','to','is')"
QUALITY_SQL = rf"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                   / CAST(length(text) AS DOUBLE) END AS punct
  FROM documents
), s AS (
  SELECT doc_id, text, n_tok, punct,
         CASE WHEN n_tok = 0 THEN 0.0
              ELSE len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                   x -> x IN {_SW_EN}))
                   / CAST(n_tok AS DOUBLE) END AS swr
  FROM t
)
SELECT doc_id,
       round(0.4 * least(1.0, length(text) / 500.0)
           + 0.3 * (1.0 - punct)
           + 0.3 * least(1.0, swr * 5.0) + 0.000000001, 6) AS quality
FROM s
"""
register(text_quality_score, oracle=QUALITY_SQL)


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language id per document."""
    from nearscan_kafka_streams_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def _lang_hits_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return (
        rf"len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),"
        rf" x -> x IN ({words})))"
    )


LANG_ID_SQL = rf"""
WITH h AS (
  SELECT doc_id,
         {_lang_hits_sql('en')} AS en, {_lang_hits_sql('de')} AS de,
         {_lang_hits_sql('fr')} AS fr, {_lang_hits_sql('es')} AS es
  FROM documents
)
SELECT doc_id,
       CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
            WHEN en = greatest(en, de, fr, es) THEN 'en'
            WHEN de = greatest(en, de, fr, es) THEN 'de'
            WHEN fr = greatest(en, de, fr, es) THEN 'fr'
            ELSE 'es' END AS lang_pred
FROM h
"""
register(text_lang_id, oracle=LANG_ID_SQL)


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-checkable content fingerprint: md5 of
    whitespace-normalized lowercase text.  (Engine-internal dedup uses
    xxhash64 -- 8-byte shuffle keys -- functions/text.fingerprint.)"""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fp"))


FINGERPRINT_SQL = r"""
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
FROM documents
"""
register(text_fingerprint, oracle=FINGERPRINT_SQL)


def pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per status x priority, one column per
    priority.  Explicit pivot values -- Spark then skips the extra
    distinct-values job AND the output schema is deterministic (an
    inferred pivot is a full scan + nondeterministic column order, both
    wrong at scale).  Plan: single hash aggregate keyed on
    o_orderstatus; pivot cells are map-side partial counts."""
    o = _t(spark, sf_dir, "orders")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = o.groupBy("o_orderstatus").pivot("o_orderpriority", pri).count()
    renames = {
        "1-URGENT": "p1_urgent",
        "2-HIGH": "p2_high",
        "3-MEDIUM": "p3_medium",
        "4-NOT SPECIFIED": "p4_not_specified",
        "5-LOW": "p5_low",
    }
    return out.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{src}`"), F.lit(0)).cast("long").alias(dst)
            for src, dst in renames.items()
        ],
    )


PIVOT_ORDERS_SQL = r"""
SELECT o_orderstatus,
       count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p1_urgent,
       count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p2_high,
       count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p3_medium,
       count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p4_not_specified,
       count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p5_low
FROM orders
GROUP BY o_orderstatus
"""
register(pivot_orders, oracle=PIVOT_ORDERS_SQL)


def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII + deny-list scrub (C4/MassiveText cleaning step): redact
    emails/phones/IPs plus deny-listed terms, count redactions on the
    original text, fingerprint the scrubbed text.  The PII patterns
    have no hits in the synthetic corpus (verified non-vacuously by
    crafted-input unit tests); the deny-list terms do, so the oracle
    exercises real redactions end-to-end."""
    from nearscan_kafka_streams_spark.functions.text import (
        PII_PATTERNS,
        redaction_count,
        scrub_text,
    )

    patterns = dict(PII_PATTERNS)
    patterns["denylist"] = r"\b(?:customer|vector)\b"
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        redaction_count(t, patterns).cast("long").alias("n_redactions"),
        F.md5(scrub_text(t, patterns)).alias("scrubbed_fp"),
    )


TEXT_SCRUB_SQL = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
     + len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b'))
     + len(regexp_extract_all(text, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
     + len(regexp_extract_all(text, '\b(?:customer|vector)\b')) AS n_redactions,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<REDACTED>', 'g'),
           '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<REDACTED>', 'g'),
           '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<REDACTED>', 'g'),
           '\b(?:customer|vector)\b', '<REDACTED>', 'g')) AS scrubbed_fp
FROM documents
"""
register(text_scrub, oracle=TEXT_SCRUB_SQL)


def percentile_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT linear-interpolated percentiles (p25/p50/p75 of customer
    balance per nation) -- complements the approx sketches entry.
    ``F.percentile`` is the exact JVM aggregate: per-group sort of the
    group's values only (not a global sort), partial-aggregated before
    the exchange.  Exactness costs memory proportional to the largest
    group; at 100 TB prefer ``approx_percentile`` unless the gate needs
    bit-exact quantiles."""
    c = _t(spark, sf_dir, "customer")
    v = F.col("c_acctbal").cast("double")
    return c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.percentile(v, 0.25).alias("p25"),
        F.percentile(v, 0.5).alias("p50"),
        F.percentile(v, 0.75).alias("p75"),
    )


PERCENTILE_SQL = r"""
SELECT c_nationkey,
       count(*) AS n_customers,
       quantile_cont(CAST(c_acctbal AS DOUBLE), 0.25) AS p25,
       quantile_cont(CAST(c_acctbal AS DOUBLE), 0.5) AS p50,
       quantile_cont(CAST(c_acctbal AS DOUBLE), 0.75) AS p75
FROM customer
GROUP BY c_nationkey
"""
register(percentile_acctbal, oracle=PERCENTILE_SQL)


def unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide metric columns -> long (metric, amount)
    rows, the inverse of ``pivot_orders``.  ``DataFrame.unpivot`` is a
    pure narrow projection (Expand node, no shuffle, 3x row fan-out
    inside codegen) -- the right shape for metric-table normalization
    at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="amount",
    )


UNPIVOT_SQL = r"""
SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS metric,
       l_extendedprice AS amount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
"""
register(unpivot_lineitem, oracle=UNPIVOT_SQL)


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication: every 32-char span shared by >= 2
    documents -- catches boilerplate/partial overlap that document-
    level dedup misses (Lee et al. 2021 substring dedup, shingle-table
    form; exact >= 32-char run detection)."""
    from nearscan_kafka_streams_spark.functions.dedup import duplicate_spans

    return duplicate_spans(_t(spark, sf_dir, "documents"))


SUBSTRING_SPANS_SQL = r"""
SELECT gram,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM (
  SELECT doc_id, unnest([substring(text, p, 32)
                         for p in range(1, greatest(length(text) - 31, 1) + 1)]) AS gram
  FROM documents
)
WHERE length(gram) = 32
GROUP BY gram
HAVING count(DISTINCT doc_id) >= 2
"""
register(dedup_substring_spans, oracle=SUBSTRING_SPANS_SQL)


def dedup_winnowed_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprinted duplicate spans (MOSS algorithm): the
    1/window-sized index with the self-synchronizing guarantee --
    detects any cross-doc shared run >= k + window - 1 chars.  The
    oracle replicates the rightmost-min selection with DuckDB list
    expressions over the same md5 hash sequence."""
    from nearscan_kafka_streams_spark.functions.dedup import winnowed_spans

    return winnowed_spans(_t(spark, sf_dir, "documents"))


WINNOWED_SPANS_SQL = r"""
WITH g AS (
  SELECT doc_id, text,
         [md5(substring(text, p, 32))
          for p in range(1, greatest(length(text) - 31, 1) + 1)] AS h
  FROM documents
), sel AS (
  SELECT doc_id, text,
         list_distinct([
           i + len(h[i:i+7])
             - list_position(list_reverse(h[i:i+7]), list_min(h[i:i+7]))
           for i in range(1, greatest(len(h) - 7, 1) + 1)]) AS pos_list
  FROM g
), spans AS (
  SELECT doc_id, substring(text, pos, 32) AS gram
  FROM (SELECT doc_id, text, unnest(pos_list) AS pos FROM sel)
)
SELECT gram,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM spans
WHERE length(gram) = 32
GROUP BY gram
HAVING count(DISTINCT doc_id) >= 2
"""
register(dedup_winnowed_spans, oracle=WINNOWED_SPANS_SQL)


def token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into training shards of <=5000 tokens by running
    token count -- the shard-assignment step before writing tokenized
    data.  Uses the DISTRIBUTED prefix scan (functions/scan.py): a
    bare ``SUM OVER (ORDER BY)`` would serialize the corpus into one
    task; the two-pass form keeps the big table parallel (oracle: the
    single-task SQL window, identical result)."""
    from nearscan_kafka_streams_spark.functions.scan import global_running_sum
    from nearscan_kafka_streams_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    run = global_running_sum(toks, "doc_id", "n_tokens", out_col="running")
    return run.select(
        "doc_id",
        "n_tokens",
        "running",
        F.expr("(running - n_tokens) div 5000").alias("shard_id"),
    )


TOKEN_SHARDS_SQL = r"""
SELECT doc_id, n_tokens, running,
       CAST((running - n_tokens) // 5000 AS BIGINT) AS shard_id
FROM (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS running
  FROM (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
    FROM documents
  )
)
"""
register(token_budget_shards, oracle=TOKEN_SHARDS_SQL)


def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED sampling: per-language keep rates
    (downsample the majority language, keep the rest) -- the corpus
    rebalancing step before training.  Like hash_sample_events, the
    keep decision is a pure function of the row key (md5 nibble vs a
    per-stratum threshold), so the sample is reproducible across
    engines, runs, and partitionings -- ``sampleBy`` is not.  The
    predicate is scan-side: no shuffle, no state."""
    d = _t(spark, sf_dir, "documents")
    nibble = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10)
    threshold = (
        F.when(F.col("lang") == "en", F.lit(4))   # keep ~4/16 of English
        .when(F.col("lang") == "zh", F.lit(8))    # ~8/16
        .otherwise(F.lit(16))                     # keep all the rest
    )
    return d.where(nibble.cast("int") < threshold).select(
        "doc_id", "lang", "source"
    )


STRATIFIED_SAMPLE_SQL = r"""
SELECT doc_id, lang, source
FROM documents
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS INT)
      < CASE lang WHEN 'en' THEN 4 WHEN 'zh' THEN 8 ELSE 16 END
"""
register(stratified_sample_documents, oracle=STRATIFIED_SAMPLE_SQL)


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column profile of orders (row/null/exact-
    distinct counts, min/max) -- long-form, one row per column.  One
    aggregation pass; see functions/profiling.py for the 100 TB notes
    (approx_count_distinct switch)."""
    from nearscan_kafka_streams_spark.functions.profiling import profile_table

    o = _t(spark, sf_dir, "orders")
    return profile_table(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
         "o_orderpriority"],
    )


PROFILE_ORDERS_SQL = r"""
SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
       count(o_orderkey) AS n_nonnull,
       count(DISTINCT o_orderkey) AS n_distinct,
       CAST(min(o_orderkey) AS VARCHAR) AS min_value,
       CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders
UNION ALL
SELECT 'o_custkey', count(*), count(o_custkey), count(DISTINCT o_custkey),
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*), count(o_orderstatus),
       count(DISTINCT o_orderstatus),
       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderdate', count(*), count(o_orderdate),
       count(DISTINCT o_orderdate),
       CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*), count(o_orderpriority),
       count(DISTINCT o_orderpriority),
       CAST(min(o_orderpriority) AS VARCHAR),
       CAST(max(o_orderpriority) AS VARCHAR)
FROM orders
"""
register(profile_orders, oracle=PROFILE_ORDERS_SQL)


def term_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term/document statistics -- the TF-IDF precursor every sparse
    feature-extraction pipeline starts from: per (doc, term) frequency
    joined with the term's document frequency.  All-integer so the
    oracle is exact (idf = ln(N/df) is a downstream float transform).
    Plan: one explode, tf agg keyed on (doc_id, term) with map-side
    combine, df agg keyed on term, broadcast-joined back (the term
    table is vocabulary-sized, tiny next to the corpus)."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                " ",
            )
        ).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return tf.join(F.broadcast(df_), "term").select(
        "doc_id", "term", "tf", "df"
    )


TERM_DOC_STATS_SQL = r"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM words GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
)
SELECT tf.doc_id, tf.term, tf.tf, df.df
FROM tf JOIN df USING (term)
"""
register(term_doc_stats, oracle=TERM_DOC_STATS_SQL)


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 words by frequency (deterministic
    tie-break count desc, word asc) -- the seeding step of BPE/vocab
    construction.  Explode -> count is ONE shuffle whose width is the
    vocabulary (words combine map-side), then a 50-row global sort of
    the vocab only: the corpus itself is never globally sorted."""
    d = _t(spark, sf_dir, "documents")
    words = F.explode(
        F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    ).alias("word")
    return (
        d.select(words)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
    )


VOCAB_TOPK_SQL = r"""
SELECT word, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      FROM documents)
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 50
"""
register(vocab_topk, oracle=VOCAB_TOPK_SQL)


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (128-char bins): the length-
    distribution profile every corpus-cleaning config (min/max length
    cutoffs) is tuned against.  Single hash aggregate on the bin id;
    integer output."""
    d = _t(spark, sf_dir, "documents")
    bin_id = (F.length("text") / F.lit(128)).cast("long").alias("bin_id")
    return (
        d.select(bin_id)
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("bin_id", "n_docs")
    )


DOC_LENGTH_HIST_SQL = r"""
SELECT CAST(floor(length(text) / 128) AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY bin_id
"""
register(doc_length_histogram, oracle=DOC_LENGTH_HIST_SQL)


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition counters per document (dup words,
    longest identical-word run, top bigram count) -- the boilerplate/
    spam quality signals of web-scale corpus cleaning.  All-integer
    output so the oracle matches exactly."""
    from nearscan_kafka_streams_spark.functions.text import repetition_profile

    return repetition_profile(_t(spark, sf_dir, "documents"))


TEXT_REPETITION_SQL = r"""
WITH ws AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents
), base AS (
  SELECT doc_id,
         len(w) AS n_words,
         len(list_distinct(w)) AS n_distinct_words
  FROM ws
), words AS (
  SELECT doc_id,
         unnest(w) AS word,
         generate_subscripts(w, 1) AS pos
  FROM ws
), seq AS (
  SELECT doc_id, pos, word,
         lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
         coalesce(CAST(word != lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS INT), 1) AS chg
  FROM words
), runs0 AS (
  SELECT doc_id, word,
         sum(chg) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
  FROM seq
), runs AS (
  SELECT doc_id, max(run_len) AS max_run_len
  FROM (SELECT doc_id, run_id, count(*) AS run_len
        FROM runs0 GROUP BY doc_id, run_id)
  GROUP BY doc_id
), bigrams AS (
  SELECT doc_id, max(c) AS top_bigram_count
  FROM (SELECT doc_id, word || ' ' || nxt AS bg, count(*) AS c
        FROM seq WHERE nxt IS NOT NULL GROUP BY doc_id, bg)
  GROUP BY doc_id
)
SELECT b.doc_id,
       b.n_words,
       b.n_distinct_words,
       coalesce(r.max_run_len, 0) AS max_run_len,
       coalesce(g.top_bigram_count, 0) AS top_bigram_count
FROM base b
LEFT JOIN runs r ON b.doc_id = r.doc_id
LEFT JOIN bigrams g ON b.doc_id = g.doc_id
"""
register(text_repetition, oracle=TEXT_REPETITION_SQL)


def hash_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based sampling -- the reproducible train/val
    split a training pipeline needs (TABLESAMPLE is nondeterministic
    across engines/runs; hashing the key is the standard fix).  Keeps
    rows whose md5(event_id) first hex nibble is 0-3 (~25%); the
    predicate is a narrow scan-side filter, no shuffle."""
    e = _t(spark, sf_dir, "events")
    return e.where(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).isin(
            "0", "1", "2", "3"
        )
    ).select("event_id", "user_id", "event_type")


HASH_SAMPLE_SQL = """
SELECT event_id, user_id, event_type FROM events
WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
"""
register(hash_sample_events, oracle=HASH_SAMPLE_SQL)


def corpus_clean_pipeline(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """FLAGSHIP composition -- the actual 100 TB training-data job:

      lang-id filter (en) -> quality filter (rounded score >= 0.5)
      -> exact dedup (min doc_id per normalized content)
      -> near-dup collapse (exact Jaccard >= 0.8 edges -> connected
         components -> keep each cluster's min-id representative)
      -> deterministic train/val split (md5 nibble of doc_id)

    One declarative plan; every stage is individually oracle-checked
    elsewhere, and the composition itself hash-matches a single DuckDB
    query.  Filters stay scan-side; shuffles touch only (hash, id)
    columns and the survivor subset's shingles."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        _persist_tracked,
        _spread,
        connected_components,
    )
    from nearscan_kafka_streams_spark.functions.text import (
        lang_id,
        quality_score,
    )

    # _spread: the lang/quality scoring is the CPU-heavy stage and the
    # corpus parquet arrives as one scan split; persist the SCORED
    # frame BEFORE the filter -- pushed below the projection, the
    # lang/quality predicates re-evaluate the whole scoring expression
    # tree in filter context (no subexpression elimination there:
    # measured 5 s vs 0.5 s for the same scoring in a projection), and
    # the scored frame feeds the exact fingerprint pass, the shingle
    # join, AND the final anti join
    d = _t(spark, sf_dir, "documents")
    scored = _persist_tracked(
        _spread(d).select(
            "doc_id",
            "text",
            lang_id(F.col("text")).alias("lang"),
            # same epsilon-then-round as text_quality_score: the FILTER
            # compares rounded values, identical in both engines
            F.round(quality_score(F.col("text")) + F.lit(1e-9), 6).alias(
                "quality"
            ),
        )
    )
    kept = scored.where((F.col("lang") == "en") & (F.col("quality") >= 0.5))

    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    exact_reps = (
        kept.select(F.md5(norm).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = kept.join(exact_reps, "doc_id")

    # explicit repartition, not _spread: the survivor frame's plan
    # REPORTS 32 shuffle partitions, but AQE coalesces the tiny join
    # exchange to ~1 at runtime, and the CPU-heavy shingle+verify
    # stages inherit that single partition (measured 11.3 s -> 4.9 s
    # at sf0.1).  A user-specified repartition is exempt from AQE
    # coalescing, which is exactly what a CPU-bound stage over a
    # row-light frame needs.
    # ``edges``: optionally the pre-staged FULL-CORPUS Jaccard>=0.8
    # frame (``jaccard_edges_frame``).  Jaccard is pairwise -- J(a,b)
    # depends only on the two gram sets -- so the full-corpus edge set
    # restricted to pairs whose BOTH endpoints survive the lang/
    # quality/exact-dedup gates is exactly the edge set the survivor-
    # only self-join would produce; two LEFT SEMI joins against the
    # (tiny) survivor-id frame replace the whole AllPairs pass.  The
    # 2-arg default recomputes on the survivor subset (driver
    # isolation, and the subset join is the cheaper plan when no
    # staged frame exists: fewer docs shingled).
    if edges is not None:
        surv_ids = survivors.select("doc_id")
        edges = edges.join(
            surv_ids.withColumnRenamed("doc_id", "left_id"),
            "left_id",
            "semi",
        ).join(
            surv_ids.withColumnRenamed("doc_id", "right_id"),
            "right_id",
            "semi",
        )
    else:
        tgt = spark.sparkContext.defaultParallelism
        edges = jaccard_similarity_join(
            survivors.select("doc_id", "text").repartition(tgt),
            threshold=0.8,
        )
    comps = connected_components(edges)
    non_reps = comps.where(F.col("component") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    final = survivors.join(non_reps, "doc_id", "left_anti")

    split = (
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
                "0", "1", "2", "3"
            ),
            F.lit("val"),
        ).otherwise(F.lit("train"))
    )
    return final.select("doc_id", "lang", "quality", split.alias("split"))


def corpus_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND flagship composition -- the curation half of the
    training-data job (corpus_clean_pipeline covers lang/quality/
    near-dup; this one covers redaction, repetition, and packing):

      PII + deny-list scrub -> repetition gates (>=5 words,
      distinct/total >= 0.3, max identical-word run <= 5)
      -> exact dedup of scrubbed content (min doc_id per md5)
      -> deterministic md5-nibble train/val split
      -> token-budget shard packing via the DISTRIBUTED prefix scan

    One declarative plan over all stages; integer gates and counters
    throughout, so the single DuckDB oracle hash-matches exactly."""
    from nearscan_kafka_streams_spark.functions.scan import global_running_sum
    from nearscan_kafka_streams_spark.functions.text import (
        PII_PATTERNS,
        repetition_profile,
        scrub_text,
        token_count,
    )

    patterns = dict(PII_PATTERNS)
    patterns["denylist"] = r"\b(?:customer|vector)\b"
    d = _t(spark, sf_dir, "documents")
    scrubbed = d.select(
        "doc_id", scrub_text(F.col("text"), patterns).alias("text")
    )

    rep = repetition_profile(scrubbed)
    gated = rep.where(
        (F.col("n_words") >= 5)
        & (F.lit(10) * F.col("n_distinct_words") >= F.lit(3) * F.col("n_words"))
        & (F.col("max_run_len") <= 5)
    )
    docs = scrubbed.join(gated.select("doc_id"), "doc_id")

    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    reps = (
        docs.select(F.md5(norm).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = docs.join(reps, "doc_id")

    toks = surv.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    run = global_running_sum(toks, "doc_id", "n_tokens", out_col="running")
    split = (
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
                "0", "1", "2", "3"
            ),
            F.lit("val"),
        ).otherwise(F.lit("train"))
    )
    return run.select(
        "doc_id",
        "n_tokens",
        "running",
        F.expr("(running - n_tokens) div 5000").alias("shard_id"),
        split.alias("split"),
    )


_SCRUB_SQL_EXPR = r"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<REDACTED>', 'g'),
    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<REDACTED>', 'g'),
    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<REDACTED>', 'g'),
    '\b(?:customer|vector)\b', '<REDACTED>', 'g')"""

CORPUS_CURATE_SQL = rf"""
WITH scrubbed AS (
  SELECT doc_id, {_SCRUB_SQL_EXPR} AS text FROM documents
), ws AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\s+') AS w
  FROM scrubbed
), base AS (
  SELECT doc_id, text, len(w) AS n_words,
         len(list_distinct(w)) AS n_distinct_words
  FROM ws
), words AS (
  SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos
  FROM ws
), seq AS (
  SELECT doc_id, pos,
         coalesce(CAST(word != lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS INT), 1) AS chg
  FROM words
), runs0 AS (
  SELECT doc_id, sum(chg) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
  FROM seq
), runs AS (
  SELECT doc_id, max(c) AS max_run_len
  FROM (SELECT doc_id, run_id, count(*) AS c FROM runs0 GROUP BY doc_id, run_id)
  GROUP BY doc_id
), gated AS (
  SELECT b.doc_id, b.text
  FROM base b JOIN runs r USING (doc_id)
  WHERE b.n_words >= 5
    AND 10 * b.n_distinct_words >= 3 * b.n_words
    AND r.max_run_len <= 5
), reps AS (
  SELECT min(doc_id) AS doc_id FROM gated
  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
), surv AS (
  SELECT g.* FROM gated g JOIN reps USING (doc_id)
), toks AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
  FROM surv
), run AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS running
  FROM toks
)
SELECT doc_id, n_tokens, running,
       CAST((running - n_tokens) // 5000 AS BIGINT) AS shard_id,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 IN ('0','1','2','3')
            THEN 'val' ELSE 'train' END AS split
FROM run
"""
register(corpus_curate_pipeline, oracle=CORPUS_CURATE_SQL)


CORPUS_CLEAN_SQL = rf"""
WITH RECURSIVE t AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                   / CAST(length(text) AS DOUBLE) END AS punct
  FROM documents
), s AS (
  SELECT doc_id, text, n_tok, punct,
         CASE WHEN n_tok = 0 THEN 0.0
              ELSE len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                   x -> x IN {_SW_EN}))
                   / CAST(n_tok AS DOUBLE) END AS swr
  FROM t
), scored AS (
  SELECT doc_id, text,
         round(0.4 * least(1.0, length(text) / 500.0)
             + 0.3 * (1.0 - punct)
             + 0.3 * least(1.0, swr * 5.0) + 0.000000001, 6) AS quality
  FROM s
), hits AS (
  SELECT doc_id,
         {_lang_hits_sql('en')} AS en, {_lang_hits_sql('de')} AS de,
         {_lang_hits_sql('fr')} AS fr, {_lang_hits_sql('es')} AS es
  FROM documents
), langs AS (
  SELECT doc_id,
         CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
              WHEN en = greatest(en, de, fr, es) THEN 'en'
              WHEN de = greatest(en, de, fr, es) THEN 'de'
              WHEN fr = greatest(en, de, fr, es) THEN 'fr'
              ELSE 'es' END AS lang
  FROM hits
), kept AS (
  SELECT sc.doc_id, sc.text, sc.quality, l.lang
  FROM scored sc JOIN langs l USING (doc_id)
  WHERE l.lang = 'en' AND sc.quality >= 0.5
), exact_rep AS (
  SELECT min(doc_id) AS doc_id FROM kept
  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
), survivors AS (
  SELECT k.* FROM kept k JOIN exact_rep USING (doc_id)
), g AS (
  SELECT doc_id,
         list_distinct([substring(nt, i, 3)
                        for i in range(1, greatest(length(nt) - 2, 1) + 1)]) AS grams
  FROM (SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        FROM survivors)
), p AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
         length(list_intersect(a.grams, b.grams)) AS i,
         length(a.grams) AS la, length(b.grams) AS lb
  FROM g a JOIN g b ON a.doc_id < b.doc_id
), e AS (
  SELECT left_id AS a, right_id AS b FROM p WHERE 5 * i >= 4 * (la + lb - i)
  UNION ALL
  SELECT right_id, left_id FROM p WHERE 5 * i >= 4 * (la + lb - i)
), reach(node, label) AS (
  SELECT a, a FROM e
  UNION
  SELECT e.b, r.label FROM reach r JOIN e ON e.a = r.node
), comp AS (
  SELECT node, min(label) AS component FROM reach GROUP BY node
), drop_ids AS (
  SELECT node AS doc_id FROM comp WHERE component <> node
)
SELECT sv.doc_id, sv.lang, sv.quality,
       CASE WHEN substring(md5(CAST(sv.doc_id AS VARCHAR)), 1, 1)
                 IN ('0','1','2','3')
            THEN 'val' ELSE 'train' END AS split
FROM survivors sv LEFT JOIN drop_ids di ON sv.doc_id = di.doc_id
WHERE di.doc_id IS NULL
"""
register(corpus_clean_pipeline, oracle=CORPUS_CLEAN_SQL)


