"""Document deduplication family for training-data pipelines.

Five strategies, all shuffle-frugal by construction:

- exact            -- group by 64-bit content fingerprint (never shuffles
                      full text, only the 8-byte hash + doc id)
- MinHash + LSH    -- shingle -> minhash signature -> band buckets ->
                      within-bucket candidate pairs (self-join on the
                      band key, the classic MMDS ch.3 construction)
- SimHash          -- 64-bit weighted-projection hash; near-dups differ
                      in few bits; bucket by rotated prefixes
- n-gram Jaccard   -- exact Jaccard on shingle sets for candidate pairs
                      (the verifier stage after LSH)
- embedding cosine -- near-dup via cosine over an embedding column
                      (delegates to functions.similarity)

Scale notes (100 TB): every strategy reduces each document to a small
signature BEFORE any shuffle; candidate generation is an equi-join on
bucket keys (hash-partitioned, AQE-skew-safe) rather than a cross
join.  The only quadratic step is within-bucket pairing, bounded by
band width.  No driver-side state, no collect.

Hash determinism: xxhash64 with fixed per-permutation seeds -- results
are reproducible across runs and partitionings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nearscan_kafka_streams_spark.functions.text import fingerprint

# persisted intermediates (staged LSH materialization); the producing
# functions return lazy DataFrames over them so they cannot unpersist
# eagerly -- callers release executor memory with release_cached() once
# results are consumed (bench.py does this between queries)
_CACHED: list[DataFrame] = []

# max flattened hashes per vectorized simhash chunk (~64 MB bit matrix)
_SIMHASH_CHUNK = 1 << 20

# exact set-similarity joins: a gram vocabulary up to this size is dense
# (prefix filtering barely filters) and each doc's gram set fits a
# bitmap of at most 64 longs
_BITMAP_MAX_VOCAB = 4096
# largest dense corpus the all-pairs plan takes: its nested-loop join is
# compute-bound, ~134M pair evaluations at 16,384 docs -- about 10x the
# 12.5M-pair regime (5k docs) where it measured faster than the prefix
# plan; the bitmap table (~36 MB at the vocab cap) still broadcasts
_ALLPAIRS_MAX_DOCS = 16384


def _persist_tracked(df: DataFrame) -> DataFrame:
    """Persist ``df`` and take ownership of the cache entry, UNLESS a
    cache entry for the same canonicalized plan already exists.

    Spark's CacheManager keys entries by canonicalized logical plan, so
    persisting a frame whose plan equals an already-cached frame (e.g. a
    caller-persisted staged ``edges=`` frame, or a frame tracked earlier
    in the same query) shares ONE entry.  If we appended such a handle
    to ``_CACHED``, ``release_cached()`` would destroy a cache entry we
    did not create -- the staged-frame ownership bug fixed instance-wise
    in dedup_threshold_sweep (queries.py) and here fixed at the
    mechanism: ownership is only taken when the lookup comes back empty,
    which makes ``release_cached()`` provably unable to free a cache it
    didn't create.  An uncached handle over an externally-cached plan
    still reads the cache at execution (CacheManager.useCachedData
    substitutes InMemoryRelation by canonicalized-subplan match).
    """
    try:
        cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
        if cm.lookupCachedData(df._jdf).isDefined():
            return df
    except Exception:
        pass  # lookup is a safety net only; fall through to own it
    out = df.persist()
    _CACHED.append(out)
    return out


def release_cached() -> int:
    """Unpersist every tracked LSH intermediate; returns count released."""
    n = 0
    while _CACHED:
        try:
            _CACHED.pop().unpersist()
            n += 1
        except Exception:
            pass  # session already stopped
    return n


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to core count ONLY when the scan is under-parallel
    (a tiny test file arrives as one split; signature computation is the
    CPU-heavy stage).  At scale the scan already yields many splits and
    this is a no-op -- no shuffle is added."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # df.rdd is a driver-side plan conversion (no job); file COUNT is
    # not a usable proxy -- Spark bin-packs small files into few scan
    # partitions (maxPartitionBytes/openCostInBytes), so many tiny
    # files can still mean 1-2 partitions
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _bitmap_inter(left: str, right: str, n_words: int) -> F.Column:
    """Exact bitmap-intersection size: sum over the fixed ``n_words``
    long words of ``bit_count(l[j] & r[j])``.

    For SMALL word counts the sum is UNROLLED: higher-order functions
    do not participate in whole-stage codegen and allocate a zipped
    array per evaluated pair, and on the all-pairs BNLJ plans -- millions of
    pair evaluations -- the fold is the dominant per-pair cost; the
    unrolled form is pure codegen-able arithmetic over ``element_at``
    with zero allocation (measured at sf0.1, 6 words: jaccard 2.71 ->
    2.52 s one-JVM interleaved min-of-3).  WIDE word counts keep the
    ``aggregate(zip_with(...))`` fold: the unrolled expression gets
    DUPLICATED through the project+filter pair that consumes it
    (no subexpression elimination across the filter boundary) and the
    resulting generated function blows past JIT limits -- measured
    CATASTROPHICALLY slower at 32 words (containment 5.25 -> 49.5 s
    before this gate).  Identical integer result on either form by
    construction (same popcount sum, no ordering effects)."""
    if n_words > 8:
        return F.aggregate(
            F.zip_with(
                left, right, lambda a, b: F.bit_count(a.bitwiseAND(b))
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
    total = None
    for j in range(1, n_words + 1):
        term = F.bit_count(
            F.element_at(F.col(left), j).bitwiseAND(
                F.element_at(F.col(right), j)
            )
        )
        total = term if total is None else total + term
    return total if total is not None else F.lit(0)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id document per distinct (normalized) text.

    Returns (id, fingerprint, dup_count).  Only the fingerprint and id
    shuffle; the text column is pruned before the exchange.
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, "fp", "dup_count")
    )


def incremental_exact_dedup(
    df: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
    *,
    batch_id: int,
) -> DataFrame:
    """Exact dedup of a NEW batch against a persistent content-identity
    store: the daily-batch-ingest twin of the streaming cross-batch
    dedup (streaming/corpus.py).  Returns the batch's never-seen docs
    and registers their fingerprints so the next batch sees them.

    Scale shape (the reason this reuses the upsert store): the
    identity store is hash-bucketed on fingerprint, so the seen-check
    reads ONLY the buckets the batch's fingerprints land in --
    O(batch) work against an O(corpus) store -- and registration
    rewrites only those buckets (sinks/upsert.py semantics, atomic
    manifest swap; a crash leaves the previous consistent store).

    Re-delivery of the SAME ``batch_id`` (the Structured Streaming
    at-least-once case) returns the SAME survivors: store rows carry
    their source batch and the seen-check ignores rows this batch id
    registered itself, so a replay -- whether the crash hit before or
    after registration -- recomputes the identical admission and
    re-registers idempotently.  ``batch_id`` must therefore be unique
    per LOGICAL batch (foreachBatch guarantees this).
    """
    from nearscan_kafka_streams_spark.sinks.upsert import (
        _bucket_expr,
        _load_manifest,
        bucket_paths,
        foreach_batch_upsert,
    )

    spark = df.sparkSession
    batch = df.withColumn("fp", fingerprint(F.col(text_col)))
    # within-batch: keep the lowest id per fingerprint
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    batch = (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    manifest = _load_manifest(store_path)
    if manifest is not None:
        buckets = manifest["num_buckets"]
        affected = sorted(
            r[0]
            for r in batch.select(
                _bucket_expr("fp", buckets).alias("b")
            ).distinct().collect()
        )
        paths = bucket_paths(store_path, manifest, affected)
        if paths:
            seen_rows = spark.read.parquet(*paths)
            # eqNullSafe (not !=): NULL src_batch rows and legacy
            # generations written before the column existed must count
            # as SEEN, not silently drop out of the anti set
            if "src_batch" in seen_rows.columns:
                seen_rows = seen_rows.where(
                    ~F.col("src_batch").eqNullSafe(F.lit(batch_id))
                )
            batch = batch.join(seen_rows.select("fp"), "fp", "left_anti")

    # write the survivors out DURABLY before registration: the anti-join's
    # lineage pins the pre-registration bucket files, and registration
    # may supersede (and GC) those very generations -- a persist() that
    # gets evicted before the caller consumes the result would then
    # recompute against deleted files.  A staging parquet severs the
    # lineage entirely; it is O(batch) bytes and is overwritten by any
    # replay of the same batch_id
    import os

    staging = os.path.join(store_path, "_staging", f"batch_{batch_id}")
    batch.write.mode("overwrite").parquet(staging)
    survivors = spark.read.parquet(staging)
    foreach_batch_upsert("fp", store_path, num_buckets=num_buckets)(
        survivors.select(
            "fp", F.col(id_col), F.lit(batch_id).alias("src_batch")
        ),
        batch_id,
    )
    return survivors


def normalized_text(text_col: str) -> F.Column:
    """Trimmed, lower-cased text with every whitespace run collapsed to
    one space: the input of :func:`shingle_strings` and :func:`shingles`.

    Project it as its own column, below the projection that builds the
    grams.  The gram kernels read the column twice (length and
    substring), so ``CollapseProject`` keeps the two projections apart
    and the regex runs once per document; written inline, it sits in
    the ``transform`` lambda and runs once per gram."""
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def shingle_strings(norm_col: str, n: int = 3) -> F.Column:
    """Raw (unhashed) distinct character n-grams of the normalized text
    in ``norm_col`` (a :func:`normalized_text` column, projected once
    per document by the caller) -> array<string>.

    Used where cross-engine value parity matters (exact Jaccard with a
    SQL oracle); :func:`shingles` hashes the same grams."""
    norm = F.col(norm_col)
    # sliding window via sequence + substring: pure Catalyst, no UDF
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: norm.substr(i, F.lit(n))))


def shingles(norm_col: str, n: int = 3) -> F.Column:
    """Character n-gram shingle hashes of the normalized text in
    ``norm_col`` (a :func:`normalized_text` column, projected once per
    document by the caller) -> array<bigint>: xxhash64 of each of
    :func:`shingle_strings`' grams, in the same order.

    Hashing shingles immediately keeps the per-doc working set at
    8 bytes/shingle regardless of document size.
    """
    return F.array_distinct(
        F.transform(shingle_strings(norm_col, n), lambda g: F.xxhash64(g))
    )


def _doc_bitmaps(
    sets: DataFrame, gdf: DataFrame, id_col: str, vocab_size: int
) -> DataFrame:
    """(id_col, sz, bm) fixed-width gram bitmaps for the dense all-pairs
    plans: each doc's gram set as ``vocab/64`` long words, so an exact
    intersection is AND + popcount per word.  ``sets`` carries
    (id_col, grams, sz) rows; the vocab index is df-ordered only to keep
    a deterministic bijection (any order yields identical intersection
    sizes)."""
    n_words = (vocab_size + 63) // 64
    vocab = gdf.select(
        "g",
        (F.row_number().over(Window.orderBy("df", "g")) - 1).alias("idx"),
    )
    return (
        sets.select(id_col, "sz", F.explode("grams").alias("g"))
        .join(F.broadcast(vocab), "g")
        .select(
            id_col,
            "sz",
            (F.col("idx") / 64).cast("int").alias("word"),
            # pyspark's shiftleft wrapper takes a literal shift only
            F.expr("shiftleft(CAST(1 AS BIGINT), idx % 64)").alias("bit"),
        )
        .groupBy(id_col, "sz", "word")
        .agg(F.bit_or("bit").alias("bits"))
        .groupBy(id_col, "sz")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("m")
        )
        .select(
            id_col,
            "sz",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda w: F.coalesce(
                    # map lookup by KEY (the 0-based word index)
                    F.element_at(F.col("m"), w),
                    F.lit(0).cast("long"),
                ),
            ).alias("bm"),
        )
    )


def _gram_tables(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    threshold: float,
    min_size: int = 1,
) -> tuple:
    """The prelude of the exact set-similarity joins:
    ``(p, q, sets, gdf, ordered, vocab_size, n_docs)``.

    - ``p/q``: ``threshold`` as an integer fraction.  All threshold
      arithmetic is integer: float ``ceil(t*n)`` can land one off under
      binary rounding (0.8*85 -> 68.00000000000001 -> ceil 69),
      silently shrinking a prefix and losing pairs.
    - ``sets``: persisted (id, grams, sz), the distinct raw n-grams of
      each document's normalized text, without the documents that have
      fewer than ``min_size`` grams.
    - ``gdf``: persisted (g, df), each gram's document frequency.
    - ``ordered``: lazy (id, sz, ordered), each document's (df, g)
      structs sorted rarest first -- the order prefix filtering uses.
    - ``vocab_size`` and ``n_docs``: counted.  The vocabulary count
      fills both caches, so the document count reads cached rows.
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10_000)
    # read by the df count, the prefix build and both verify sides;
    # persisting stops a recompute of the gram pipeline per reader
    sets = _persist_tracked(
        _spread(df)
        .select(F.col(id_col), normalized_text(text_col).alias("norm"))
        .select(F.col(id_col), shingle_strings("norm", shingle_n).alias("grams"))
        .withColumn("sz", F.size("grams"))
    )
    # every set has at least one gram, so only a larger floor filters.
    # The filter goes AFTER the persist, never before: pushed below the
    # projection, the predicate re-evaluates the shingle chain with the
    # normalization regex re-run per array element inside the transform
    # lambda (no subexpression elimination in filter context) --
    # measured 0.3 s -> 15 s on the sf0.1 corpus
    if min_size > 1:
        sets = sets.where(F.col("sz") >= min_size)
    tok = sets.select(id_col, "sz", F.explode("grams").alias("g"))
    # one row per distinct gram, read by the counts, the df-order join
    # and the bitmap vocab index: each would re-run the explode+groupBy
    # of the whole token stream without the persist
    gdf = _persist_tracked(tok.groupBy("g").agg(F.count(F.lit(1)).alias("df")))
    vocab_size = gdf.count()
    n_docs = sets.count()
    # the vocabulary is bounded: broadcast the df table so attaching df
    # to every token is map-side (4M rows of (gram, count) ~ 100 MB)
    if vocab_size <= 4_000_000:
        gdf = F.broadcast(gdf)
    ordered = (
        tok.join(gdf, "g")
        .groupBy(id_col, "sz")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("ordered"))
    )
    return frac.numerator, frac.denominator, sets, gdf, ordered, vocab_size, n_docs


def _hashed_sets(sets: DataFrame, id_col: str, side: str) -> DataFrame:
    """(<side>_id, g_<s>, sz_<s>) verify side of a prefix plan, ``s``
    the side's initial: the set's grams hashed with xxhash64.

    Intersecting hashed grams is 2.6x faster than intersecting strings
    (measured sf0.1: 24.3 s -> 9.3 s, identical pairs).  An xxhash64
    collision between distinct grams of one pair would change a count
    (probability ~|doc|^2 / 2^64 per pair; at a billion docs of 10k
    grams each, ~1e-5 affected pairs corpus-wide); the DuckDB oracles
    intersect raw strings, so a collision would surface as a hash
    mismatch in the correctness check rather than silently."""
    s = side[0]
    return sets.select(
        F.col(id_col).alias(f"{side}_id"),
        F.transform("grams", lambda g: F.xxhash64(g)).alias(f"g_{s}"),
        F.col("sz").alias(f"sz_{s}"),
    )


def jaccard_similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    stats_out: dict | None = None,
    prefix_ext: int | str = "auto",
) -> DataFrame:
    """EXACT set-similarity self-join: every pair whose n-gram-set
    Jaccard is ``>= threshold``.  Unlike the probabilistic MinHash path,
    which trades borderline recall for speed, a naive all-pairs SQL
    oracle matches it bit-for-bit.

    Output: (left_id, right_id, inter_size, union_size) -- integers, so
    the threshold predicate and the oracle compare exactly.

    Three plans, all lossless, chosen from the measured vocabulary and
    document count:

    * dense all-pairs (``prefix_ext="auto"``, vocabulary
      ``<= _BITMAP_MAX_VOCAB``, ``<= _ALLPAIRS_MAX_DOCS`` docs,
      threshold > 0): on a small vocabulary every gram is common and
      prefix filtering barely filters (sf0.1, 5k docs, vocab 377: 3.43M
      distinct candidates of 12.5M pairs), so the prefix self-join,
      per-pair shuffle and distinct cost more than they prune.  Each doc
      becomes a ``vocab/64``-word bitmap, the bitmap table broadcasts
      whole, and a broadcast nested-loop join evaluates the cheap
      (id order, length ratio) predicate in codegen; the exact
      intersection (AND + popcount) runs on survivors only.  Exact
      AllPairs stays quadratic in pairs on such corpora whichever way
      candidates are generated (the 100 TB answer is MinHash+LSH,
      SCALE.md); this plan only lowers the constant.  At threshold 0 the
      all-pairs superset would add zero-intersection pairs the prefix
      plans never emit, so it needs threshold > 0.
    * prefix k=1 (AllPairs/PPJoin): sort each document's grams by global
      document frequency (rarest first) and index only the PREFIX of
      length ``|A| - ceil(t*|A|) + 1``.  Any pair with J >= t collides
      on a prefix gram; length pruning (min_size >= t * max_size) and
      the positional filter (a collision at 1-based positions (i, j)
      caps the overlap at ``1 + min(|x|-i, |y|-j)``, dropped when below
      the required ``ceil(t/(1+t) * (|x|+|y|))``) remove pairs before
      the shuffle.  Prefix posting lists are short by construction, so
      the inverted-index join never degenerates to all-pairs.
    * prefix k>=2 (AdaptJoin, Wang et al. SIGMOD'12): each document
      indexes its ``sz - ceil(t*sz) + k`` rarest grams and a pair is a
      candidate only if it collides on >= least(k, alpha) of them, with
      alpha = ceil(t/(1+t)*(sx+sy)) the pair's required overlap, so tiny
      sets whose alpha < k are never over-filtered.  Soundness is
      pigeonhole: if |A intersect B| >= alpha, the j-th smallest shared
      gram sits within the first ``sz - alpha + j`` grams of BOTH sides.
      The positional filter is row-level, so it runs only at k=1
      (dropping collision rows would undercount the k>=2 requirement).

    Both prefix plans verify the candidates on xxhash64-hashed grams
    (:func:`_hashed_sets`); the dense plan is collision-free.  The
    verify joins are left to Spark's size-based broadcast: a set table
    under ``autoBroadcastJoinThreshold`` broadcasts, a larger one
    shuffles the skinny candidate pairs instead, which measured cheaper
    than broadcasting two ~100 MB set tables (14.9 s vs 23.2 s at 3.2M
    candidates).

    ``prefix_ext``: ``"auto"`` (the default) takes the dense plan where
    it applies, k=1 on any other dense corpus, and on a sparse corpus
    measures the 1-prefix collision mass (sum over grams of
    C(df_prefix, 2), one linear aggregate over the prefix index) and
    jumps to k=3 when it exceeds max(50_000, 20 * n_docs).  On
    bounded-vocabulary corpora 1-prefix collisions grow quadratically
    while TRUE pairs stay linear -- at the 50k-doc stress corpus (vocab
    19,605): 33.1M candidates for 16.5k true pairs.  Collisions between
    non-duplicates are ~Poisson(plen^2/vocab), so each extra required
    collision thins them by another ~lambda/k: k=2 -> 3.17M, k=3 -> 103k
    candidates at +~8% prefix collision mass per increment.  An
    integer ``prefix_ext`` forces that prefix plan; the outputs are
    identical either way.

    The prefix plans pin their own parallelism: the collision join and
    the verify are COMPUTE-AMPLIFYING (kilobytes of prefix index fan out
    to tens of millions of collision rows; each candidate costs an exact
    intersect), and AQE coalesces shuffle partitions by INPUT bytes, so
    it funnels them onto 1-2 tasks (measured: the 92M-row collision
    aggregate ran single-threaded, 50 s -> 12 s with explicit
    repartition + shuffle_hash; the verify stage 44 s -> 15 s).

    ``stats_out``: pass a dict to have the plan inputs and the
    candidate-stage sizes COUNTED into it (vocab_size, use_bitmap = the
    vocabulary is dense, n_docs, prefix_ext, n_candidates_raw,
    n_candidates_distinct; est_prefix_collisions when ``"auto"``
    measured it; plan="bitmap_allpairs" and prefix_ext None on the dense
    plan).  The super-linear term in exact set similarity is candidate
    growth, so a scale-stress harness records these next to the timing
    (one extra action; the counted frame is persisted and reused by the
    verify).
    """
    p, q, sets, gdf, ordered, vocab_size, n_docs = _gram_tables(
        df, text_col, id_col, shingle_n, threshold
    )
    dense = vocab_size <= _BITMAP_MAX_VOCAB
    if stats_out is not None:
        stats_out.update(vocab_size=vocab_size, use_bitmap=dense, n_docs=n_docs)
    par = df.sparkSession.sparkContext.defaultParallelism

    if prefix_ext == "auto" and dense and p > 0 and n_docs <= _ALLPAIRS_MAX_DOCS:
        n_words = (vocab_size + 63) // 64
        bitmaps = _persist_tracked(_doc_bitmaps(sets, gdf, id_col, vocab_size))
        # the BNLJ stream side is compute-amplifying (kilobytes of
        # bitmaps fan out to n^2 pair evaluations), so pin its
        # parallelism against AQE bytes-based coalescing, as on the
        # prefix plans
        left_bm = bitmaps.select(
            F.col(id_col).alias("left_id"),
            F.col("bm").alias("bm_l"),
            F.col("sz").alias("sz_l"),
        ).repartition(par)
        right_bm = bitmaps.select(
            F.col(id_col).alias("right_id"),
            F.col("bm").alias("bm_r"),
            F.col("sz").alias("sz_r"),
        )
        pair_ok = (F.col("left_id") < F.col("right_id")) & (
            F.lit(q) * F.least(F.col("sz_l"), F.col("sz_r"))
            >= F.lit(p) * F.greatest(F.col("sz_l"), F.col("sz_r"))
        )
        pairs = left_bm.join(F.broadcast(right_bm), pair_ok)
        if stats_out is not None:
            # no prefix index exists on this plan, so no k is reported.
            # The BNLJ's cheap predicate depends only on sizes and id
            # order, so the eligible-pair count is a closed form over
            # the size histogram: no second O(n^2) pass
            stats_out["prefix_ext"] = None
            stats_out["plan"] = "bitmap_allpairs"
            hist = (
                sets.groupBy("sz").agg(F.count(F.lit(1)).alias("c")).collect()
            )
            n_pairs = sum(
                r["c"] * (r["c"] - 1) // 2 for r in hist
            ) + sum(
                ra["c"] * rb["c"]
                for ra in hist
                for rb in hist
                if ra["sz"] < rb["sz"] and q * ra["sz"] >= p * rb["sz"]
            )
            stats_out["n_candidates_raw"] = n_pairs
            stats_out["n_candidates_distinct"] = n_pairs
        inter = _bitmap_inter("bm_l", "bm_r", n_words)
        return (
            pairs.withColumn("inter_size", inter)
            .withColumn(
                "union_size",
                F.col("sz_l") + F.col("sz_r") - F.col("inter_size"),
            )
            .where(
                F.lit(q) * F.col("inter_size")
                >= F.lit(p) * F.col("union_size")
            )
            .select("left_id", "right_id", "inter_size", "union_size")
        )

    def _prefixes(k: int) -> DataFrame:
        # plen = sz - ceil(p*sz/q) + k, with ceil done in integers
        plen = (
            F.col("sz")
            - F.floor((F.lit(p) * F.col("sz") + F.lit(q - 1)) / F.lit(q))
            + k
        ).cast("int")
        return (
            ordered.select(
                id_col,
                "sz",
                F.posexplode(F.slice("ordered", 1, plen)).alias("pos0", "p"),
            )
            # posexplode is 0-based; positions here are 1-based within
            # the FULL df-sorted gram list (its first plen entries)
            .select(
                id_col,
                "sz",
                (F.col("pos0") + 1).alias("pos"),
                F.col("p.g").alias("g"),
            )
        )

    if prefix_ext != "auto":
        k_ext = int(prefix_ext)
    elif dense:
        # on a dense corpus every gram is common, the prefix bound is
        # weak at every k, and k=1 keeps the positional filter, where
        # the row-level prune earns its keep (containment measured k=1
        # 7.3 s vs k=3 10.1 s at sf0.1, vocab ~2k); deciding here skips
        # the estimate aggregate
        k_ext = 1
    else:
        # the collision mass of the 1-prefix index is sum C(df_pref, 2)
        # over prefix postings -- the exact raw candidate count BEFORE
        # the length/positional prunes, from one aggregate over the
        # prefix index (linear, no pair blow-up)
        ordered = _persist_tracked(ordered)
        est_row = (
            _prefixes(1)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("m"))
            .first()
        )
        est_collisions = int(est_row["m"] or 0)
        # jump straight to k=3: once collision counting is needed at
        # all, the marginal prefix gram costs ~8% more collision rows
        # while thinning candidates by another ~lambda/3 (measured
        # 3.17M -> 103k at the 50k-doc stress corpus)
        k_ext = 3 if est_collisions > max(50_000, 20 * n_docs) else 1
        if stats_out is not None:
            stats_out["est_prefix_collisions"] = est_collisions
    if stats_out is not None:
        stats_out["prefix_ext"] = k_ext

    # the prefix self-join is COMPUTE-AMPLIFYING (a byte-small posting
    # index fans out to millions of collision rows), so AQE's
    # bytes-based coalescing would funnel it onto a handful of tasks (a
    # stage census measured 13.9 s of collision work on 5 of 32 cores at
    # sf0.1): an explicit COUNT repartition on the join key, persisted,
    # feeds both sides from one shuffle
    pinned = _persist_tracked(_prefixes(k_ext).repartition(par, "g"))
    l = pinned.hint("shuffle_hash").alias("l")
    r = pinned.alias("r")
    lid, rid = f"l.{id_col}", f"r.{id_col}"
    # pair-level length prune (any true pair satisfies it, so it is
    # safe for BOTH the k=1 row path and the k>=2 counting path)
    length_ok = (
        F.lit(q) * F.least(F.col("l.sz"), F.col("r.sz"))
        >= F.lit(p) * F.greatest(F.col("l.sz"), F.col("r.sz"))
    )
    if k_ext <= 1:
        # required overlap for J >= p/q: alpha = ceil(p*(sx+sy)/(p+q));
        # positional cap: 1 + min(sx - i, sy - j) >= alpha, integer form
        pos_cap = F.lit(1) + F.least(
            F.col("l.sz") - F.col("l.pos"), F.col("r.sz") - F.col("r.pos")
        )
        raw_cands = l.join(
            r,
            (F.col("l.g") == F.col("r.g"))
            & (F.col(lid) < F.col(rid))
            & length_ok
            & (
                F.lit(p + q) * pos_cap
                >= F.lit(p) * (F.col("l.sz") + F.col("r.sz"))
            ),
        ).select(F.col(lid).alias("left_id"), F.col(rid).alias("right_id"))
        # with stats asked for, persist+count here so the observability
        # action and the verify share one candidate materialization
        if stats_out is not None:
            raw_cands = _persist_tracked(raw_cands)
            stats_out["n_candidates_raw"] = raw_cands.count()
        # the verify executes IN the candidates' partitioning, and AQE
        # coalesces the distinct's exchange to a handful of tasks
        # because the (left_id, right_id) pairs are byte-small, starving
        # the compute-amplifying verify (a census at sf0.1 measured 15.2
        # s of verify on 5 of 32 cores): the COUNT repartition pins it
        cands = raw_cands.distinct().repartition(par)
        if stats_out is not None:
            cands = _persist_tracked(cands)
            stats_out["n_candidates_distinct"] = cands.count()
    else:
        # k-extended prefix: count collisions per pair and require
        # >= least(k, alpha), alpha = ceil(p*(sx+sy)/(p+q)) in integer
        # form.  The groupBy both counts and dedups, so no distinct
        alpha = F.floor(
            (
                F.lit(p) * (F.col("_szl") + F.col("_szr"))
                + F.lit(p + q - 1)
            )
            / F.lit(p + q)
        )
        cands = (
            l.join(
                r,
                (F.col("l.g") == F.col("r.g"))
                & (F.col(lid) < F.col(rid))
                & length_ok,
            )
            .groupBy(
                F.col(lid).alias("left_id"),
                F.col(rid).alias("right_id"),
                F.col("l.sz").alias("_szl"),
                F.col("r.sz").alias("_szr"),
            )
            .agg(F.count(F.lit(1)).alias("_ncoll"))
            .where(F.col("_ncoll") >= F.least(F.lit(k_ext), alpha))
            .select("left_id", "right_id")
            .repartition(par)
        )
        if stats_out is not None:
            cands = _persist_tracked(cands)
            stats_out["n_candidates_distinct"] = cands.count()
            stats_out["n_candidates_raw"] = stats_out["n_candidates_distinct"]

    return (
        cands.join(_hashed_sets(sets, id_col, "left"), "left_id")
        .join(_hashed_sets(sets, id_col, "right"), "right_id")
        .withColumn("inter_size", F.size(F.array_intersect("g_l", "g_r")))
        .withColumn(
            "union_size", F.col("sz_l") + F.col("sz_r") - F.col("inter_size")
        )
        .where(F.lit(q) * F.col("inter_size") >= F.lit(p) * F.col("union_size"))
        .select("left_id", "right_id", "inter_size", "union_size")
    )


def containment_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.9,
    min_inner_size: int = 8,
    stats_out: dict | None = None,
    prefix_ext: int | str = "auto",
) -> DataFrame:
    """EXACT asymmetric set-CONTAINMENT self-join: pairs where the
    smaller document's n-gram set is mostly inside the larger's,
    ``|A.grams ∩ B.grams| / |A.grams| >= threshold`` with
    ``|A| <= |B|`` (ties broken by id).

    This is the duplicate class symmetric Jaccard structurally MISSES:
    a short document quoted verbatim inside a much longer one has
    containment ~1.0 but Jaccard ~|A|/|B| -> 0, so no Jaccard
    threshold catches it without flooding on unrelated pairs.  Corpus
    dedup pipelines run both (near-dup = Jaccard, quote/subset-dup =
    containment).

    Output: (inner_id, outer_id, inter_size, inner_size) -- integers.
    ``min_inner_size`` floors the inner set size: a document shorter
    than ``shingle_n`` has one gram and is trivially "contained"
    everywhere; mirror the floor in any oracle.  Threshold arithmetic
    is integer, as in :func:`jaccard_similarity_join`.

    The three plans of :func:`jaccard_similarity_join`, adapted to the
    asymmetric predicate:

    * dense all-pairs (``prefix_ext="auto"``, vocabulary
      ``<= _BITMAP_MAX_VOCAB``, ``<= _ALLPAIRS_MAX_DOCS`` docs,
      threshold > 0): with no length-ratio prune the prefix index
      prunes even less here (~6M candidates of 12.5M pairs at sf0.1,
      vocab ~2k), so a broadcast nested-loop join over the bitmaps wins
      by a wider margin; a 256-bit signature pre-filter rejects most
      pairs before the exact fold.
    * prefix k=1: with required overlap ``α = ceil(t*|A|)``, any
      qualifying pair collides between A's df-rarest PREFIX of length
      ``|A| - α + 1`` and B's FULL gram list (if no prefix gram of A is
      in B, the intersection fits inside A's last ``α - 1`` grams).
      Only the small side is prefix-indexed -- the big side has no
      size-ratio prune under containment, so it contributes every gram,
      positioned, and the PPJoin positional cap
      ``1 + min(|A|-i, |B|-j) >= α`` prunes pre-shuffle.
    * prefix k>=2: A indexes its ``|A| - α + k`` rarest grams and a
      pair is a candidate only if it collides on >= least(k, α) of them
      against B's FULL list.  Soundness is the ONE-SIDED pigeonhole: if
      ``|A ∩ B| >= α`` then for j = 1..min(k, α) the j-th smallest
      shared gram sits within A's first ``|A| - α + j`` grams, and B's
      side is its full list, so all min(k, α) collisions are observed.
      The positional cap applies only at k=1.

    Both prefix plans verify on xxhash64-hashed grams (exact modulo
    64-bit collisions, see :func:`_hashed_sets`); the dense plan
    intersects exact per-vocab bit positions.

    ``prefix_ext``: ``"auto"`` (the default) takes the dense plan where
    it applies and k=1 on any other dense corpus (the positional cap
    makes k=1 the cheap plan there: sf0.1, vocab ~2k, 6.8 s vs k=3
    10.1 s).  On a sparse corpus it estimates the 1-prefix candidate
    mass ``Σ_g pref_n(g) · df(g)`` in one aggregate and jumps to k=3
    when it exceeds ``max(50_000, 20 · n_docs)``: the asymmetric
    predicate has no length-ratio prune, so rare-gram document
    frequency governs candidate growth (stress corpus, vocab 595k:
    1,663 -> 222,841 distinct candidates for 10x docs at k=1, 16,892 at
    k=3 at wall parity).  An integer ``prefix_ext`` forces that prefix
    plan.

    ``stats_out``: the same census as :func:`jaccard_similarity_join`,
    without n_candidates_raw on the prefix plans.
    """
    p, q, sets, gdf, ordered, vocab_size, n_docs = _gram_tables(
        df, text_col, id_col, shingle_n, threshold, min_inner_size
    )
    dense = vocab_size <= _BITMAP_MAX_VOCAB
    if stats_out is not None:
        stats_out.update(vocab_size=vocab_size, use_bitmap=dense, n_docs=n_docs)
    par = df.sparkSession.sparkContext.defaultParallelism

    if prefix_ext == "auto" and dense and p > 0 and n_docs <= _ALLPAIRS_MAX_DOCS:
        n_words = (vocab_size + 63) // 64
        bitmaps = _persist_tracked(_doc_bitmaps(sets, gdf, id_col, vocab_size))

        # 256-bit residue SIGNATURE pre-filter: with no length-ratio
        # prune, every size-ordered pair would reach the full
        # n_words-word exact fold.  Fold each doc's bitmap into 4
        # signature words (word j ORs into signature word j mod 4 -- a
        # fixed partition of the vocab into <= 256 groups).  For any
        # group where the inner doc has a gram and the outer has NONE,
        # at least one inner gram is missing from the outer, so
        # ``popcount(sig_i & ~sig_o)`` LOWER-bounds the missing count
        # and ``sz_i - popcount(...)`` UPPER-bounds the intersection:
        # rejecting pairs whose upper bound is below the required
        # overlap is exact-safe.  Cost: 4 scalar AND/NOT/popcounts per
        # pair instead of the 32-word array fold; measured selective
        # on the sf0.1 corpus (docs ~210 grams of vocab 2041 -> expected
        # missing-bound ~63 vs reject threshold ~21 at t=0.9).
        n_sig = min(4, n_words)

        def _sig(k: int) -> F.Column:
            terms = [
                F.element_at(F.col("bm"), j + 1)
                for j in range(k, n_words, 4)
            ]
            out = terms[0]
            for t in terms[1:]:
                out = out.bitwiseOR(t)
            return out

        inner_bm = bitmaps.select(
            F.col(id_col).alias("inner_id"),
            F.col("bm").alias("bm_i"),
            F.col("sz").alias("sz_i"),
            *[_sig(k).alias(f"sg_i{k}") for k in range(n_sig)],
        ).repartition(par)
        outer_bm = bitmaps.select(
            F.col(id_col).alias("outer_id"),
            F.col("bm").alias("bm_o"),
            F.col("sz").alias("sz_o"),
            *[_sig(k).alias(f"sg_o{k}") for k in range(n_sig)],
        )
        pair_ok = (F.col("sz_i") < F.col("sz_o")) | (
            (F.col("sz_i") == F.col("sz_o"))
            & (F.col("inner_id") < F.col("outer_id"))
        )
        # the signature reject is written as a filter after the join,
        # but the optimizer pushes it (and the exact-overlap filter
        # below) into the inner join's condition: the executed plan is
        # one BroadcastNestedLoopJoin whose condition checks the
        # signature bound, the exact popcount and the size order per
        # pair.  The signature bound comes first in that conjunction,
        # so most pairs are rejected before the per-word popcount
        miss_lb = None
        for k in range(n_sig):
            term = F.bit_count(
                F.col(f"sg_i{k}").bitwiseAND(
                    F.bitwise_not(F.col(f"sg_o{k}"))
                )
            )
            miss_lb = term if miss_lb is None else miss_lb + term
        sig_ok = (
            F.lit(q) * (F.col("sz_i") - miss_lb)
            >= F.lit(p) * F.col("sz_i")
        )
        pairs = inner_bm.join(F.broadcast(outer_bm), pair_ok).where(sig_ok)
        if stats_out is not None:
            # no prefix index on this plan, so no k is reported.  Every
            # unordered doc pair has exactly one valid size-order
            # orientation, so the BNLJ EVALUATES C(n, 2) pair conditions
            # -- the signature filter then thins what materializes, but
            # the evaluated-superset count is the diagnostic (and costs
            # no second O(n^2) pass)
            stats_out["prefix_ext"] = None
            stats_out["plan"] = "bitmap_allpairs"
            stats_out["n_candidates_raw"] = n_docs * (n_docs - 1) // 2
            stats_out["n_candidates_distinct"] = stats_out["n_candidates_raw"]
        inter = _bitmap_inter("bm_i", "bm_o", n_words)
        return (
            pairs.withColumn("inter_size", inter)
            .where(
                F.lit(q) * F.col("inter_size") >= F.lit(p) * F.col("sz_i")
            )
            .select(
                "inner_id",
                "outer_id",
                F.col("inter_size").cast("int").alias("inter_size"),
                F.col("sz_i").cast("int").alias("inner_size"),
            )
        )

    # every doc's grams ordered by global df (rarest first), positioned
    ordered = _persist_tracked(
        ordered.select(
            id_col,
            "sz",
            F.posexplode("ordered").alias("pos0", "pg"),
        ).select(
            id_col,
            "sz",
            (F.col("pos0") + 1).alias("pos"),
            F.col("pg.g").alias("g"),
        )
    )

    def _plen(k: int) -> F.Column:
        # inner prefix: plen = sz - α + k with α = ceil(p*sz/q), ceil
        # done in integers
        return (
            F.col("sz")
            - F.floor((F.lit(p) * F.col("sz") + F.lit(q - 1)) / F.lit(q))
            + k
        )

    if prefix_ext != "auto":
        k_ext = int(prefix_ext)
    elif dense:
        # dense corpus: every gram is common, the prefix bound is weak at
        # every k, and the positional cap makes k=1 the cheap plan;
        # deciding here skips the estimate aggregate
        k_ext = 1
    else:
        # 1-prefix candidate mass: each prefix posting of gram g can
        # collide with every full-list posting of g, so Σ pref_n(g) ·
        # df(g) upper-bounds the raw candidates (self and
        # ordering-pruned pairs included -- fine for a plan decision).
        # One aggregate over the prefix index joined to the df table;
        # linear, no pair blow-up
        est_row = (
            ordered.where(F.col("pos") <= _plen(1))
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("_pn"))
            .join(gdf, "g")
            .agg(F.sum(F.col("_pn") * F.col("df")).alias("m"))
            .first()
        )
        est_collisions = int(est_row["m"] or 0)
        k_ext = 3 if est_collisions > max(50_000, 20 * n_docs) else 1
        if stats_out is not None:
            stats_out["est_prefix_collisions"] = est_collisions
    if stats_out is not None:
        stats_out["prefix_ext"] = k_ext

    prefixes = ordered.where(F.col("pos") <= _plen(k_ext))
    l, r = prefixes.alias("l"), ordered.alias("r")
    lid, rid = f"l.{id_col}", f"r.{id_col}"
    # the inner side is smaller, or equal-sized with the lower id
    size_order = (F.col("l.sz") < F.col("r.sz")) | (
        (F.col("l.sz") == F.col("r.sz")) & (F.col(lid) < F.col(rid))
    )
    if k_ext <= 1:
        # positional cap on achievable overlap vs required
        # α = ceil(p*szA/q): q*(1 + min(szA - i, szB - j)) >= p*szA
        pos_cap = F.lit(1) + F.least(
            F.col("l.sz") - F.col("l.pos"), F.col("r.sz") - F.col("r.pos")
        )
        cands = (
            l.join(
                r,
                (F.col("l.g") == F.col("r.g"))
                & size_order
                & (F.lit(q) * pos_cap >= F.lit(p) * F.col("l.sz")),
            )
            .select(F.col(lid).alias("inner_id"), F.col(rid).alias("outer_id"))
            .distinct()
            # the verify executes IN the candidates' partitioning, and
            # AQE coalesces the distinct's exchange to 1-2 tasks because
            # the (inner_id, outer_id) pairs are byte-small, starving
            # the compute-amplifying intersect (a stage census measured
            # the verify on 2 of 32 cores): the COUNT repartition pins it
            .repartition(par)
        )
    else:
        # k-extended prefix: count collisions per (inner, outer) pair
        # against the FULL outer list and require >= least(k, α) with
        # α = ceil(p*szA/q) in integers.  The groupBy both counts and
        # dedups; the persisted COUNT repartition of the prefix index
        # pins the amplifying collision join against AQE's bytes-based
        # coalescing, as in the symmetric join
        l = _persist_tracked(prefixes.repartition(par, "g"))
        l = l.hint("shuffle_hash").alias("l")
        alpha = F.floor(
            (F.lit(p) * F.col("_szi") + F.lit(q - 1)) / F.lit(q)
        )
        cands = (
            l.join(r, (F.col("l.g") == F.col("r.g")) & size_order)
            .groupBy(
                F.col(lid).alias("inner_id"),
                F.col(rid).alias("outer_id"),
                F.col("l.sz").alias("_szi"),
            )
            .agg(F.count(F.lit(1)).alias("_ncoll"))
            .where(F.col("_ncoll") >= F.least(F.lit(k_ext), alpha))
            .select("inner_id", "outer_id")
            .repartition(par)
        )

    # candidate census: with no length-ratio prune, candidate growth is
    # governed by rare-gram document frequency; the persist is shared
    # with the verify below
    if stats_out is not None:
        cands = _persist_tracked(cands)
        stats_out["n_candidates_distinct"] = cands.count()

    return (
        cands.join(_hashed_sets(sets, id_col, "inner"), "inner_id")
        .join(_hashed_sets(sets, id_col, "outer"), "outer_id")
        .withColumn("inter_size", F.size(F.array_intersect("g_i", "g_o")))
        .where(F.lit(q) * F.col("inter_size") >= F.lit(p) * F.col("sz_i"))
        .select(
            "inner_id",
            "outer_id",
            F.col("inter_size").cast("int").alias("inter_size"),
            F.col("sz_i").cast("int").alias("inner_size"),
        )
    )


def _cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` AND truncate its logical plan (persist does
    neither of the latter -- iterative algorithms double their plan per
    round without this).

    Uses the RELIABLE checkpoint when the SparkContext has a
    checkpoint dir configured: ``localCheckpoint`` blocks live
    unreplicated on executors with their lineage gone, so one executor
    loss (spot reclaim, dynamic deallocation) mid-iteration makes them
    unrecomputable and fails the job.  On a real cluster call
    ``sc.setCheckpointDir(...)`` first; local/test mode falls back to
    ``localCheckpoint`` (single JVM -- executor loss means the app died
    anyway)."""
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    stride: int = 1,
) -> DataFrame:
    """Substring-level duplication: every k-char span appearing in
    MORE THAN ONE document (stride 1 = exact detection of any shared
    run >= k chars).

    Document-level dedup (exact/MinHash/SimHash) misses partial
    overlap -- boilerplate headers, license blocks, quoted passages
    shared across otherwise-distinct documents.  Substring dedup (the
    suffix-array approach of Lee et al., "Deduplicating Training Data
    Makes Language Models Better", 2021 -- public) catches it; this is
    the shingle-table form: one row per position, hash-grouped.

    ``stride > 1`` shrinks the index 1/stride but is only sound for
    WITHIN-corpus runs that happen to be position-aligned modulo the
    stride: two documents sample a shared run at the same relative
    offsets only if the run starts congruent mod stride in both --
    generic cross-doc duplicates are silently missed.  For a smaller
    index with a real guarantee use :func:`winnowed_spans`
    (content-defined sampling: selected positions depend on the text
    itself, so they self-synchronize across documents).

    Plan shape: explode is linear (~length rows per doc), groupBy(gram)
    combines map-side, and only grams seen twice survive the HAVING --
    output is the duplicated-content vocabulary, usually tiny next to
    the corpus.  Returns (gram, n_docs, n_occurrences).
    """
    # the stride-1 explode (~length rows per doc) executes in the
    # scan's partitioning, and a bench-scale parquet file arrives as
    # ONE split -- round-10 stage census measured 3.2 s of 3.9 s wall
    # on a single task.  _spread is a no-op at scale (same
    # adjudication as winnowed_spans / knn_classify, SCALE.md r10).
    spans = _spread(df).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1),"
                f" {stride}), p -> substring({text_col}, p, {k}))"
            )
        ).alias("gram"),
    ).where(F.length("gram") == k)
    return (
        spans.groupBy("gram")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


def winnowed_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    window: int = 8,
    stats_out: dict | None = None,
) -> DataFrame:
    """Cross-document duplicate k-char spans via WINNOWING
    fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 -- the MOSS
    algorithm; public).  The scale path for substring dedup: indexes
    ~1/window of the positions :func:`duplicate_spans` does, with a
    real guarantee naive stride sampling lacks.

    Per document: hash every k-gram, then in every sliding window of
    ``window`` consecutive hashes select the RIGHTMOST minimum --
    selected positions are a function of the text content alone, so
    two documents sharing a run pick the SAME spans regardless of
    where the run sits in each (stride sampling only matches when runs
    align modulo the stride).  Guarantee: any shared run of length
    >= k + window - 1 contains a full hash-window, whose minimum is
    fingerprinted identically in both documents.

    All selection is IN-ROW (transform/slice/array_position higher-
    order expressions over the gram-hash array, whole-stage codegen,
    O(len x window) per doc); only the ~len/window selected spans
    explode into the corpus-wide groupBy.  md5 (not xxhash64) orders
    the minima so the DuckDB oracle selects identical positions.
    Returns (gram, n_docs, n_occurrences) for spans in >= 2 docs.
    """
    n_grams = f"greatest(length({text_col}) - {k - 1}, 1)"
    # the per-row winnowing selection (len x window HOF work) executes
    # in the scan's partitioning, and a bench-scale parquet file
    # arrives as ONE split -- round-10 stage census measured 5.2 s of
    # 5.7 s wall on a single task.  _spread is a no-op at scale.
    df = _spread(df).withColumn(
        "_h",
        F.expr(
            f"transform(sequence(1, {n_grams}),"
            f" p -> md5(substring({text_col}, p, {k})))"
        ),
    )
    # rightmost-min per window: i + m - position_of_min_in_reversed_slice
    # (m = actual slice size; the tail windows are shorter than `window`).
    # Two-level transform so each window's slice materializes ONCE (the
    # single-level form repeated slice() for min, reverse and size --
    # 3x the array work in the hot stage); the outer lambda's 0-based
    # index recovers the window start.
    sel = (
        f"array_distinct(transform("
        f" transform(sequence(1, greatest(size(_h) - {window - 1}, 1)),"
        f"           i -> slice(_h, i, {window})),"
        f" (s, i0) -> i0 + 1 + size(s)"
        f"            - array_position(reverse(s), array_min(s))))"
    )
    spans = (
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(F.expr(sel)).alias("_pos"),
        )
        .select(
            id_col,
            F.expr(f"substring({text_col}, _pos, {k})").alias("gram"),
        )
        .where(F.length("gram") == k)
    )
    # linear-term census: winnowing has no candidate-pair stage -- its
    # scale story is the selected-span explode volume (~len/window rows
    # per doc, content-defined).  stats_out records it so the stress
    # harness can verify the ~1/window sampling rate held instead of
    # inferring it from wall time.
    if stats_out is not None:
        spans = _persist_tracked(spans)
        stats_out["n_selected_spans"] = spans.count()
    return (
        spans.groupBy("gram")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


def connected_components(
    edges: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of the (undirected) near-dup pair graph:
    (node, component) where component = min node id in the component.

    The step AFTER pair generation in a dedup pipeline -- clusters pick
    one canonical document (min id) and drop the rest.

    Algorithm: min-label propagation.  Each iteration joins the current
    labels across edges and keeps the per-node min of (own label,
    neighbor labels); converges in O(graph diameter) iterations --
    near-dup clusters are dense, so diameter is small.  Each iteration
    is one equi-join + one aggregation, both hash-partitioned on the
    node id; the driver only checks a changed-row COUNT per iteration
    (no data is collected).  For adversarially long chains at huge
    scale, switch to the large-star/small-star variant (same join
    shape, provably O(log n) rounds).

    Each iteration's labels are cut off from their lineage via
    :func:`_cut_lineage` -- ``persist`` alone keeps the full logical
    plan, which references the previous labels TWICE per iteration
    (neighbor join + change count) and therefore doubles in size every
    round; a 10-iteration run builds a gigabyte-scale plan string and
    OOMs the driver long before any data problem.  Iterative
    algorithms must checkpoint (GraphX/MLlib use the reliable form;
    set a checkpoint dir to get it here -- see _cut_lineage for the
    localCheckpoint executor-loss caveat).  Superseded checkpoint
    blocks are released by the ContextCleaner when the old DataFrame
    is GC'd.
    """
    und = edges.select(
        F.col(left_col).alias("a"), F.col(right_col).alias("b")
    ).unionByName(
        edges.select(F.col(right_col).alias("a"), F.col(left_col).alias("b"))
    )
    und = _persist_tracked(und)
    # eager checkpoint: materializes AND truncates lineage (persist
    # does not -- see docstring)
    labels = _cut_lineage(
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("_nbr"))
        )
        new_labels = _cut_lineage(
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("_nbr"), F.col("component"))
                ).alias("component"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silently-wrong labels would split true components and poison
        # downstream dedup; surface non-convergence instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (graph diameter exceeds max_iter); raise "
            "max_iter or switch to the large-star/small-star variant"
        )
    return labels.select("node", "component")


def connected_components_star(
    edges: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds: (node, component) with component = min node id, same
    contract as :func:`connected_components`.

    The scale path for adversarial graphs: min-label propagation needs
    O(diameter) rounds (a 1M-long chain needs 1M joins), while the
    alternating-star algorithm provably converges in O(log n) rounds
    regardless of shape (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 -- public algorithm, re-expressed
    here as DataFrame joins).  Per round:

    * large-star: for every node u, link each neighbor v > u to
      m(u) = min(neighbors(u) + [u]) -- one groupBy + one equi-join.
    * small-star: orient edges large->small, link each smaller
      neighbor (and u itself) to the minimum -- same shape.

    Both phases only shuffle on the node id; no phase ever materializes
    a neighborhood larger than the input degree.  Rounds are cut from
    their lineage via :func:`_cut_lineage` (see
    :func:`connected_components`).  Convergence = two consecutive
    rounds with identical (edge count, xxhash64 bit_xor) signature --
    one tiny aggregate per round instead of a full set-difference join;
    a 64-bit signature collision masking a real change is ~2^-64.

    Ref parity note: the reference engine has no graph step at all
    (dedup is the repo's north-star extension); cited for scale design
    only.
    """
    e = _cut_lineage(
        edges.select(F.col(left_col).alias("u"), F.col(right_col).alias("v"))
        .where(F.col("u") != F.col("v"))
    )

    prev_sig = None
    for _ in range(max_iter):
        und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(F.min("v").alias("_mn"))
        mins = mins.select("u", F.least("_mn", "u").alias("m"))
        large = (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).where(F.col("u") != F.col("v"))
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        small = _cut_lineage(small)
        # bit_xor, not sum: order-insensitive over the distinct edge
        # set and cannot overflow under ANSI mode
        row = small.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).first()
        sig = (row["n"], row["h"])
        e = small
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds; the alternating-star algorithm needs O(log n) -- "
            "this indicates a bug or an absurd max_iter"
        )
    # converged: e is a star forest -- every non-root points at its
    # component min.  Anchor on the ORIGINAL endpoints so self-loop-only
    # nodes still appear (as their own singleton component), matching
    # connected_components' node coverage exactly.
    nodes = (
        edges.select(F.col(left_col).alias("node"))
        .unionByName(edges.select(F.col(right_col).alias("node")))
        .distinct()
    )
    stars = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return nodes.join(stars, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def refine_components(
    edges: DataFrame,
    base_labels: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Connected components of ``edges`` GIVEN a coarser labelling:
    ``base_labels`` (node, component) are the components of a SUPERSET
    edge set, so every component of ``edges`` lies entirely inside one
    base component (edge-set monotonicity -- raising a similarity
    threshold only removes edges).  That turns a distributed fixpoint
    into ONE single-pass grouped union-find: each edge inherits its
    base component (both endpoints share it by construction), edges
    group by base component, and a per-group union-find labels the
    group's nodes in one ``applyInPandas`` pass -- no iteration, no
    per-round lineage cuts.

    The threshold-sweep use: run :func:`connected_components` once at
    the LOOSEST threshold, then each tighter threshold is a filter +
    this refinement (round-8 verdict item 5 -- 1 fixpoint + 3
    refinements instead of 4 fixpoints).

    Scale: a group is one base near-dup cluster (small by the cluster
    census); the giant-component regime stays with the distributed
    fixpoint, which remains the correct tool for the BASE labelling.
    Output schema matches connected_components: (node, component) with
    component = min node id, long-typed ids.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    keyed = edges.join(
        base_labels.select(
            F.col("node").alias(left_col), F.col("component").alias("_bc")
        ),
        left_col,
    ).select(
        F.col(left_col).cast("long").alias("a"),
        F.col(right_col).cast("long").alias("b"),
        "_bc",
    )

    schema = StructType(
        [
            StructField("node", LongType()),
            StructField("component", LongType()),
        ]
    )

    def _union_find(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["a"], pdf["b"]):
            a, b = int(a), int(b)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root: the root of every set is its
                # minimum node id, matching connected_components'
                # component = min(node) contract by induction
                parent[max(ra, rb)] = min(ra, rb)
        nodes = list(parent)
        return pd.DataFrame(
            {"node": nodes, "component": [find(x) for x in nodes]}
        )

    return keyed.groupBy("_bc").applyInPandas(_union_find, schema)


def refine_components_multi(
    edges: DataFrame,
    base_labels: DataFrame,
    thresholds: list[tuple[int, int, int]],
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Components of SEVERAL nested edge subsets in ONE grouped pass
    (round-13; the round-12 verdict's threshold-sweep item): for each
    ``(pct, p, q)`` in ``thresholds``, the components of the edge
    subset ``q * inter_size >= p * union_size`` -- all computed inside
    a single ``applyInPandas`` union-find per base component instead
    of one grouped pass per threshold.

    Correctness rests on the same monotonicity :func:`refine_components`
    uses, applied incrementally: the threshold predicates are
    ratio-ordered over the SAME (inter_size, union_size) columns, so
    their edge sets are nested.  The union-find processes thresholds
    TIGHTEST FIRST, adding each edge exactly once (at the tightest
    threshold it satisfies) and snapshotting labels after each tier --
    union-by-min-root makes every snapshot's labels identical to an
    independent run on that tier's full edge set (component = min node
    id regardless of union order).  Output:
    (threshold_pct, node, component), exactly the rows per-threshold
    :func:`refine_components` calls would emit, in one pass.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    # tightest (largest p/q) first; exact rational ordering
    from fractions import Fraction

    tiers = sorted(
        thresholds, key=lambda t: Fraction(t[1], t[2]), reverse=True
    )

    keyed = edges.join(
        base_labels.select(
            F.col("node").alias(left_col), F.col("component").alias("_bc")
        ),
        left_col,
    ).select(
        F.col(left_col).cast("long").alias("a"),
        F.col(right_col).cast("long").alias("b"),
        F.col("inter_size").cast("long").alias("_i"),
        F.col("union_size").cast("long").alias("_u"),
        "_bc",
    )

    schema = StructType(
        [
            StructField("threshold_pct", LongType()),
            StructField("node", LongType()),
            StructField("component", LongType()),
        ]
    )

    def _multi_union_find(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        a_v = pdf["a"].to_numpy()
        b_v = pdf["b"].to_numpy()
        i_v = pdf["_i"].to_numpy()
        u_v = pdf["_u"].to_numpy()
        added = None
        out_pct: list[int] = []
        out_node: list[int] = []
        out_comp: list[int] = []
        for pct, p, q in tiers:
            ok = q * i_v >= p * u_v
            new = ok if added is None else (ok & ~added)
            added = ok if added is None else (added | ok)
            for a, b in zip(a_v[new], b_v[new]):
                a, b = int(a), int(b)
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            for node in parent:
                out_pct.append(pct)
                out_node.append(node)
                out_comp.append(find(node))
        return pd.DataFrame(
            {
                "threshold_pct": out_pct,
                "node": out_node,
                "component": out_comp,
            }
        )

    return keyed.groupBy("_bc").applyInPandas(_multi_union_find, schema)


def minhash_signature(shingle_hashes: F.Column, num_hashes: int = 64) -> F.Column:
    """MinHash signature: per permutation i, min over shingles of
    xxhash64(shingle_hash, i) -- a seeded-rehash family.

    xxhash64 over (long, int literal) is a few JVM bitwise ops per
    element inside codegen; an affine (a*h + b) mod p family needs
    128-bit multiplication (decimal math) per element and benchmarks
    orders of magnitude slower.
    """

    def _perm(i: int):
        # closure factory: Spark inspects lambda arity, so no default args
        return lambda h: F.xxhash64(h, F.lit(i))

    return F.array(
        *[F.array_min(F.transform(shingle_hashes, _perm(i))) for i in range(num_hashes)]
    )


def gc_staging(store_path: str, keep_latest: int = 8) -> list[str]:
    """Remove old ``_staging/batch_*`` survivor snapshots of an
    incremental dedup store, keeping the ``keep_latest`` most recent
    batch ids.  Staging dirs exist so a batch's returned DataFrame
    survives store GC and so a re-delivered batch can be recomputed
    identically; once downstream consumers have read a batch's output
    they are dead weight.  Returns the removed directory names."""
    import re
    import shutil
    from pathlib import Path

    root = Path(store_path) / "_staging"
    if not root.exists():
        return []
    batches = []
    for child in root.iterdir():
        m = re.fullmatch(r"batch_(\d+)", child.name)
        if m and child.is_dir():
            batches.append((int(m.group(1)), child))
    batches.sort()
    removed = []
    for _, child in batches[: max(len(batches) - keep_latest, 0)]:
        shutil.rmtree(child, ignore_errors=True)
        removed.append(child.name)
    return removed


def _band_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> tuple[DataFrame, DataFrame]:
    """(banded, shingle_df) banded MinHash keys -- the shared LSH front
    end of the self-join (minhash_lsh_candidates) and the incremental
    store admission (incremental_minhash_dedup).  ``banded`` is
    (id, band, bkey); ``shingle_df`` is (id, sh) for verify-stage reuse.

    The shingle table is persisted: Catalyst's CollapseProject would
    otherwise inline the regex+substring shingle chain into all
    ``num_hashes`` permutation expressions (64x recompute per doc --
    measured 102.7s collapsed vs ~8s staged at sf0.1)."""
    rows_per_band = num_hashes // bands
    sh_df = _persist_tracked(
        _spread(df)
        .select(F.col(id_col), normalized_text(text_col).alias("norm"))
        .select(F.col(id_col), shingles("norm", shingle_n).alias("sh"))
    )
    sig = sh_df.select(
        F.col(id_col),
        minhash_signature(F.col("sh"), num_hashes).alias("sig"),
    )
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice(
                                F.col("sig"), b * rows_per_band + 1, rows_per_band
                            )
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bkey")
    return banded, sh_df


def incremental_minhash_dedup(
    df: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    num_buckets: int | None = None,
    *,
    batch_id: int,
) -> DataFrame:
    """NEAR-dup admission of a new batch against a persistent band-key
    store: the daily-crawl-versus-full-history case that
    ``incremental_exact_dedup`` covers for byte-exact content.

    Admission policy (deterministic, first-occurrence-wins): a batch
    doc is REJECTED iff (a) any of its MinHash band keys was registered
    by a previously admitted doc, or (b) a smaller-id doc in the same
    batch shares a band key (whether or not that doc is itself
    admitted -- the same keep-the-first contract as banded LSH dedup in
    one batch).  Admitted docs' band keys are registered so every later
    batch sees them.  Re-delivery of the same ``batch_id`` returns the
    SAME survivors (store rows carry their source batch; the seen-check
    ignores this batch's own registrations), which is what makes the
    streaming foreachBatch sink exactly-once per batch directory.

    Scale shape: the store is hash-bucketed on band key, so the
    seen-check reads ONLY the buckets the batch's keys land in --
    O(batch x bands) against an O(corpus x bands) store -- and
    registration rewrites only those buckets (atomic manifest swap;
    crash leaves the previous consistent store).
    """
    import os

    from nearscan_kafka_streams_spark.sinks.upsert import (
        _bucket_expr,
        _load_manifest,
        bucket_paths,
        foreach_batch_upsert,
    )

    spark = df.sparkSession
    banded, _ = _band_keys(df, text_col, id_col, num_hashes, bands, shingle_n)
    keyed = _persist_tracked(
        banded.select(
            F.col(id_col),
            F.concat_ws("|", F.col("band"), F.col("bkey")).alias("band_key"),
        )
    )

    rejected = None
    manifest = _load_manifest(store_path)
    if manifest is not None:
        buckets = manifest["num_buckets"]
        affected = sorted(
            r[0]
            for r in keyed.select(
                _bucket_expr("band_key", buckets).alias("b")
            ).distinct().collect()
        )
        paths = bucket_paths(store_path, manifest, affected)
        if paths:
            seen_rows = spark.read.parquet(*paths)
            # replay-idempotence filter: ignore THIS batch's own prior
            # registrations.  eqNullSafe (not !=) so NULL src_batch rows
            # -- and whole legacy generations written before the column
            # existed -- still count as seen instead of silently
            # vanishing from the anti set
            if "src_batch" in seen_rows.columns:
                seen_rows = seen_rows.where(
                    ~F.col("src_batch").eqNullSafe(F.lit(batch_id))
                )
            seen = seen_rows.select("band_key")
            # no broadcast hint: seen is O(corpus rows in the affected
            # buckets), which grows with history, not with the batch --
            # let AQE pick the strategy (the batch side is the small one)
            rejected = (
                keyed.join(seen.distinct(), "band_key")
                .select(id_col)
                .distinct()
            )

    first_per_key = keyed.groupBy("band_key").agg(
        F.min(id_col).alias("_first")
    )
    batch_rejected = (
        keyed.join(first_per_key, "band_key")
        .where(F.col(id_col) > F.col("_first"))
        .select(id_col)
        .distinct()
    )
    rejected = (
        batch_rejected if rejected is None else rejected.union(batch_rejected)
    )

    admitted = df.join(rejected, id_col, "left_anti")
    # durable staging BEFORE registration: the seen-check lineage pins
    # store bucket files that registration may supersede and GC (the
    # same hazard incremental_exact_dedup stages against)
    staging = os.path.join(store_path, "_staging", f"batch_{batch_id}")
    admitted.write.mode("overwrite").parquet(staging)
    survivors = spark.read.parquet(staging)

    # re-derive band keys from the staged survivors (deterministic
    # content hash -- identical keys, store-independent lineage)
    reg_banded, _ = _band_keys(
        survivors, text_col, id_col, num_hashes, bands, shingle_n
    )
    reg = reg_banded.select(
        F.concat_ws("|", F.col("band"), F.col("bkey")).alias("band_key"),
        F.col(id_col),
        F.lit(batch_id).alias("src_batch"),
    )
    foreach_batch_upsert("band_key", store_path, num_buckets=num_buckets)(
        reg, batch_id
    )
    return survivors


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    return_shingles: bool = False,
):
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    ``return_shingles=True`` returns ``(pairs, shingle_df)`` so a verify
    stage (ngram_jaccard_pairs) can reuse the persisted shingle sets
    instead of recomputing the CPU-heaviest stage of the whole family.

    rows/bands = 4 hashes per band -> candidate threshold s ~ (1/16)^(1/4)
    ~ 0.5 Jaccard.  Output: (left_id, right_id, band) with left < right.

    Plan shape: narrow signature computation -> explode to (band_key,
    id) -> equi-self-join on band_key.  The join is the only shuffle;
    its key space (band hash) is uniform by construction.
    """
    # one shared front end with the incremental store (_band_keys),
    # which owns the staged-materialization rationale (CollapseProject
    # 64x-recompute; measured 102.7s collapsed -> ~8s staged at sf0.1)
    banded, sh_df = _band_keys(
        df, text_col, id_col, num_hashes, bands, shingle_n
    )
    # both sides of the self-join read this tiny table (n_docs x bands
    # rows of 3 longs); persisting stops the whole signature pipeline
    # from running twice
    banded = _persist_tracked(banded)

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
        )
        .distinct()
    )
    if return_shingles:
        return pairs, sh_df
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (the LSH verify stage).

    Joins the shingle sets back to each side of the candidate pairs;
    similarity = |A intersect B| / |A union B|.  Pass ``shingle_df``
    (id_col, "sh") -- e.g. from ``minhash_lsh_candidates(...,
    return_shingles=True)`` -- to reuse already-computed sets.
    """
    sets_df = shingle_df
    if sets_df is None:
        sets_df = df.select(
            F.col(id_col), normalized_text(text_col).alias("norm")
        ).select(F.col(id_col), shingles("norm", shingle_n).alias("sh"))
    out = (
        candidates.join(
            sets_df.withColumnRenamed(id_col, "left_id").withColumnRenamed(
                "sh", "sh_l"
            ),
            "left_id",
        )
        .join(
            sets_df.withColumnRenamed(id_col, "right_id").withColumnRenamed(
                "sh", "sh_r"
            ),
            "right_id",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_l", "sh_r"))
            / F.size(F.array_union("sh_l", "sh_r")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )
    return out


def _simhash_kernel(hash_arrays: pd.Series) -> pd.Series:
    """Fully vectorized over the Arrow batch: flatten every row's hashes
    into one array, unpack all bits at once, segment-sum with
    ``np.add.reduceat`` -- no per-row Python, no per-bit loop.

    Majority rule: original votes are +-1 per shingle, bit set iff the
    vote sum is > 0, i.e. iff 2 * ones > n_shingles (ties -> 0).
    Chunked at ~1M hashes so the transient bit matrix stays ~64 MB
    regardless of batch shape.
    """
    n = len(hash_arrays)
    out = np.zeros(n, dtype=np.int64)
    arrs = [
        None if a is None or len(a) == 0 else np.asarray(a, dtype=np.int64)
        for a in hash_arrays
    ]
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    chunk_budget = _SIMHASH_CHUNK
    i = 0
    while i < n:
        rows: list[int] = []
        lens: list[int] = []
        total = 0
        j = i
        while j < n:
            a = arrs[j]
            if a is not None:
                if total and total + len(a) > chunk_budget:
                    break
                rows.append(j)
                lens.append(len(a))
                total += len(a)
            j += 1
        i = j
        if not rows:
            continue
        flat = np.concatenate([arrs[k] for k in rows]).astype("<u8")
        # (total, 64) uint8; column b = bit b of each hash
        bits = np.unpackbits(
            flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        starts = np.concatenate(([0], np.cumsum(lens[:-1]))).astype(np.int64)
        ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int32)
        majority = 2 * ones > np.asarray(lens, dtype=np.int32)[:, None]
        fp = (majority.astype(np.uint64) * weights[None, :]).sum(axis=1)
        out[np.asarray(rows)] = fp.astype(np.int64)
    return pd.Series(out)


def simhash_from_shingles(shingle_hashes):
    """64-bit SimHash from an array<bigint> of shingle hashes, as a
    vectorized Pandas UDF.

    Each shingle hash votes +1/-1 per bit; the sign of the per-bit sum
    is the fingerprint bit.  Near-duplicate documents differ in few
    bits (compare with bit_count(a XOR b)).

    A pure-Catalyst formulation needs 64 array-aggregate expressions
    per row (one per bit) -- measured orders of magnitude slower than
    this numpy path (unpack bits of all shingles at once, sum columns).
    Arrow batching keeps transfer cost at one array column per row.
    """
    # wrapped lazily: pandas_udf needs a live SparkSession to parse the
    # return type, so it cannot run at module import
    return F.pandas_udf(_simhash_kernel, "long")(shingle_hashes)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    prefix_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash with prefix bucketing.

    Buckets on 4 rotations of ``prefix_bits`` leading bits (pigeonhole:
    any pair within hamming distance 3 shares at least one of 4
    contiguous 16-bit blocks), then verifies hamming distance exactly.
    """
    sh = (
        _spread(df)
        .select(F.col(id_col), normalized_text(text_col).alias("norm"))
        .select(F.col(id_col), simhash_from_shingles(shingles("norm")).alias("sh"))
    )
    blocks = sh.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftrightunsigned(F.col("sh"), i * prefix_bits)
                        .bitwiseAND(F.lit((1 << prefix_bits) - 1))
                        .alias("bkey"),
                    )
                    for i in range(64 // prefix_bits)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "sh", "bb.block", "bb.bkey")
    # self-join: persist so the pandas-UDF simhash runs once per doc
    blocks = _persist_tracked(blocks)

    l, r = blocks.alias("l"), blocks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
