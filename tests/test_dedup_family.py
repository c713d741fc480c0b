"""Correctness tests for the dedup family on handcrafted corpora
with known duplicate structure."""

from __future__ import annotations

from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_pairs,
)

# deliberately structured corpus: 0/1 identical mod whitespace+case,
# 2 a near-dup of 0 (one word changed), 3/4 unrelated, 5 empty
DOCS = [
    (0, "The quick brown fox jumps over the lazy dog and runs far away home"),
    (1, "the  QUICK brown fox jumps over the lazy dog and runs far away home"),
    (2, "The quick brown fox jumps over the lazy cat and runs far away home"),
    (3, "Completely different subject matter entirely unrelated to animals"),
    (4, "Numerical tables of integrals series and products reference volume"),
    (5, ""),
]


def _df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_collapses_normalized_equal(spark):
    out = exact_dedup(_df(spark)).collect()
    by_id = {r["doc_id"]: r["dup_count"] for r in out}
    assert by_id[0] == 2  # docs 0 and 1 collapse (case+whitespace)
    assert 1 not in by_id  # 1 absorbed into 0
    assert by_id[2] == 1
    assert len(out) == 5  # 6 docs -> 5 distinct


def test_minhash_lsh_finds_near_dups(spark):
    pairs = {
        (r["left_id"], r["right_id"])
        for r in minhash_lsh_candidates(_df(spark)).collect()
    }
    assert (0, 1) in pairs  # identical post-normalization
    assert (0, 2) in pairs  # one-word change, jaccard >> 0.5
    assert (3, 4) not in pairs  # unrelated


def test_ngram_jaccard_verifies(spark):
    df = _df(spark)
    cands = minhash_lsh_candidates(df)
    verified = ngram_jaccard_pairs(df, cands, threshold=0.5).collect()
    sims = {(r["left_id"], r["right_id"]): r["jaccard"] for r in verified}
    assert sims[(0, 1)] == 1.0  # identical shingle sets
    assert 0.5 <= sims[(0, 2)] < 1.0
    assert (3, 4) not in sims


def test_simhash_near_dups_close(spark):
    pairs = {
        (r["left_id"], r["right_id"]): r["hamming"]
        for r in simhash_pairs(_df(spark), max_hamming=10).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical normalized text
    assert (3, 4) not in pairs  # unrelated docs


def test_simhash_distance_ordering(spark):
    """On short texts SimHash is noisy (few shingles -> small vote
    margins), so assert relative ordering of hamming distances, not a
    fixed bucket threshold: near-dup (0,2) must be closer than
    unrelated (0,3) and (0,4)."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        normalized_text,
        shingles,
        simhash_from_shingles,
    )

    fps = {
        r["doc_id"]: r["fp"]
        for r in _df(spark)
        .select("doc_id", normalized_text("text").alias("norm"))
        .select("doc_id", simhash_from_shingles(shingles("norm")).alias("fp"))
        .collect()
    }

    def ham(a, b):
        return bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")

    assert ham(0, 1) == 0
    assert ham(0, 2) < ham(0, 3)
    assert ham(0, 2) < ham(0, 4)


def test_minhash_deterministic_across_partitionings(spark):
    df1 = _df(spark).repartition(1)
    df8 = _df(spark).repartition(8)
    p1 = sorted(
        (r["left_id"], r["right_id"])
        for r in minhash_lsh_candidates(df1).collect()
    )
    p8 = sorted(
        (r["left_id"], r["right_id"])
        for r in minhash_lsh_candidates(df8).collect()
    )
    assert p1 == p8


def test_lsh_agrees_with_bruteforce_jaccard(spark):
    """Every pair with true Jaccard >= 0.7 must be an LSH candidate
    (16 bands x 4 rows: P(miss at s=0.7) = (1-0.7^4)^16 ~ 0.9%)."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        normalized_text,
        shingles,
    )

    df = _df(spark)
    sh = df.select("doc_id", normalized_text("text").alias("norm")).select(
        "doc_id", shingles("norm").alias("sh")
    )
    l = sh.withColumnRenamed("doc_id", "left_id").withColumnRenamed("sh", "sh_l")
    r = sh.withColumnRenamed("doc_id", "right_id").withColumnRenamed("sh", "sh_r")
    truth = (
        l.crossJoin(r)
        .where(F.col("left_id") < F.col("right_id"))
        .withColumn(
            "j",
            F.size(F.array_intersect("sh_l", "sh_r"))
            / F.size(F.array_union("sh_l", "sh_r")),
        )
        .where(F.col("j") >= 0.7)
    )
    true_pairs = {(r["left_id"], r["right_id"]) for r in truth.collect()}
    lsh_pairs = {
        (r["left_id"], r["right_id"])
        for r in minhash_lsh_candidates(df).collect()
    }
    assert true_pairs <= lsh_pairs


def test_simhash_kernel_matches_rowwise_reference(monkeypatch):
    """The vectorized reduceat kernel must reproduce the definitional
    per-row implementation bit-for-bit (incl. empty/None rows and tie
    votes), across chunk boundaries."""
    import numpy as np
    import pandas as pd

    from nearscan_kafka_streams_spark.functions import dedup as d

    rng = np.random.default_rng(7)
    rows = []
    for i in range(300):
        ln = int(rng.integers(0, 24))
        if ln == 0:
            rows.append(None if i % 2 else [])
        else:
            rows.append(
                rng.integers(-(2**63), 2**63 - 1, size=ln).astype(np.int64)
            )

    def rowwise(arr):
        if arr is None or len(arr) == 0:
            return 0
        h = np.asarray(arr, dtype=np.uint64)
        bits = (h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1
        votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
        fp = 0
        for b in range(64):
            if votes[b] > 0:
                fp |= 1 << b
        return int(np.uint64(fp).astype(np.int64))

    expected = [rowwise(a) for a in rows]
    # force many chunks so boundary handling is exercised
    monkeypatch.setattr(d, "_SIMHASH_CHUNK", 64)
    got = d._simhash_kernel(pd.Series(rows, dtype=object)).tolist()
    assert got == expected


def test_jaccard_similarity_join_exact_vs_bruteforce(spark):
    """Prefix filtering must be lossless at a float-awkward threshold
    (0.8): output == python brute-force all-pairs, pairs present."""
    import re as _re

    from nearscan_kafka_streams_spark.functions.dedup import (
        jaccard_similarity_join,
        release_cached,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = [(i, base + f" tail-{i % 7}-{i % 3}") for i in range(40)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["left_id"], r["right_id"], r["inter_size"], r["union_size"])
        for r in jaccard_similarity_join(df, threshold=0.8).collect()
    }
    release_cached()

    def grams(t):
        t = _re.sub(r"\s+", " ", t.lower().strip())
        return {t[i : i + 3] for i in range(max(len(t) - 2, 1))}

    gs = {i: grams(t) for i, t in docs}
    want = set()
    for i in range(40):
        for j in range(i + 1, 40):
            inter = len(gs[i] & gs[j])
            uni = len(gs[i] | gs[j])
            if 5 * inter >= 4 * uni:
                want.add((i, j, inter, uni))
    assert want and got == want


def test_jaccard_stats_out_counts_candidates(spark):
    """stats_out must record the candidate-stage cardinalities (the
    super-linear term the scale-stress harness tracks) without changing
    the result set."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        jaccard_similarity_join,
        release_cached,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = [(i, base + f" tail-{i % 5}") for i in range(20)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    plain = {
        tuple(r) for r in jaccard_similarity_join(df, threshold=0.8).collect()
    }
    release_cached()
    stats: dict = {}
    counted = {
        tuple(r)
        for r in jaccard_similarity_join(
            df, threshold=0.8, stats_out=stats
        ).collect()
    }
    release_cached()
    assert counted == plain
    assert stats["vocab_size"] > 0
    assert isinstance(stats["use_bitmap"], bool)
    # every emitted pair was once a distinct candidate; raw >= distinct
    assert (
        stats["n_candidates_raw"]
        >= stats["n_candidates_distinct"]
        >= len(plain)
        > 0
    )


def test_jaccard_prefix_ext_exact_vs_bruteforce(spark):
    """The k-extended prefix scheme (prefix_ext >= 2, AdaptJoin bound)
    must stay lossless: requiring >= least(k, alpha) prefix collisions
    keeps every true pair, including tiny sets whose required overlap
    alpha is below k.  Checked against python brute force AND the
    classic k=1 path, across thresholds and k values, on a corpus
    mixing long near-dup clusters with short one-gram-ish docs."""
    import random as _random
    import re as _re

    from nearscan_kafka_streams_spark.functions.dedup import (
        jaccard_similarity_join,
        release_cached,
    )

    rng = _random.Random(42)
    alphabet = "abcdefgh "
    docs = []
    for i in range(30):
        # clustered long docs: shared template + small random tail
        docs.append((i, "the quick brown fox jumps " * 3 + f"t{i % 4}"))
    for i in range(30, 50):
        # random medium docs over a tiny alphabet (dense collisions)
        docs.append(
            (i, "".join(rng.choice(alphabet) for _ in range(40)))
        )
    for i in range(50, 60):
        # tiny docs: gram sets of size 1-3, alpha can fall below k
        docs.append((i, "xy" + "z" * (i % 3)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    def grams(t):
        t = _re.sub(r"\s+", " ", t.lower().strip())
        return {t[i : i + 3] for i in range(max(len(t) - 2, 1))}

    gs = {i: grams(t) for i, t in docs}

    for thr_n, thr_d in ((1, 2), (4, 5), (9, 10)):
        want = set()
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                inter = len(gs[i] & gs[j])
                uni = len(gs[i] | gs[j])
                if thr_d * inter >= thr_n * uni:
                    want.add((i, j, inter, uni))
        for k in (2, 3, "auto"):
            got = {
                tuple(r)
                for r in jaccard_similarity_join(
                    df, threshold=thr_n / thr_d, prefix_ext=k
                ).collect()
            }
            release_cached()
            assert got == want, (thr_n, thr_d, k, want - got, got - want)


def test_jaccard_prefix_ext_auto_records_decision(spark):
    """auto mode must record its decision in stats_out and still match
    the k=1 result set.  Dense (bitmap-regime) corpora short-circuit
    to k=1 BEFORE the collision-mass aggregate (the containment gate,
    ported round 11), so the estimate keys appear only in the sparse
    regime."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        jaccard_similarity_join,
        release_cached,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = [(i, base + f" tail-{i % 5}") for i in range(20)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    plain = {
        tuple(r) for r in jaccard_similarity_join(df, threshold=0.8).collect()
    }
    release_cached()
    stats: dict = {}
    got = {
        tuple(r)
        for r in jaccard_similarity_join(
            df, threshold=0.8, prefix_ext="auto", stats_out=stats
        ).collect()
    }
    release_cached()
    assert got == plain
    if stats.get("plan") == "bitmap_allpairs":
        # dense all-pairs plan: no prefix index exists, so prefix_ext
        # is reported as None (round-12 ADVICE: a k value here would
        # mislead plan-chooser logs)
        assert stats["prefix_ext"] is None
        assert "est_prefix_collisions" not in stats
    elif stats["use_bitmap"]:
        # dense regime on the classic path: the gate picks k=1 with
        # zero decision overhead
        assert stats["prefix_ext"] == 1
        assert "est_prefix_collisions" not in stats
    else:
        assert stats["est_prefix_collisions"] >= 0
        assert stats["n_docs"] == 20
    assert stats["n_candidates_raw"] >= stats["n_candidates_distinct"]


def test_jaccard_auto_dense_gate_short_circuits(spark):
    """A corpus under the bitmap vocab cap must take the k=1 path via
    the regime gate (no estimate aggregate), and a sparse corpus
    (vocab forced tiny-cap off) must still compute the estimate --
    both matching the explicit k=1 output (round-10 verdict item 2)."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        jaccard_similarity_join,
        release_cached,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = [(i, base + f" tail-{i % 5}") for i in range(20)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    dense_stats: dict = {}
    dense = {
        tuple(r)
        for r in jaccard_similarity_join(
            df, threshold=0.8, prefix_ext="auto", stats_out=dense_stats
        ).collect()
    }
    release_cached()
    assert dense_stats["use_bitmap"] is True
    # 20 docs under the allpairs cap: the dense plan is the all-pairs
    # BNLJ (prefix_ext None -- no prefix index on that plan)
    assert dense_stats["plan"] == "bitmap_allpairs"
    assert dense_stats["prefix_ext"] is None
    assert "est_prefix_collisions" not in dense_stats
    # forcing the bitmap cap to 0 puts the same corpus in the sparse
    # regime: the estimate must run and the output must be identical
    sparse_stats: dict = {}
    sparse = {
        tuple(r)
        for r in jaccard_similarity_join(
            df,
            threshold=0.8,
            prefix_ext="auto",
            bitmap_max_vocab=0,
            stats_out=sparse_stats,
        ).collect()
    }
    release_cached()
    assert sparse_stats["use_bitmap"] is False
    assert "est_prefix_collisions" in sparse_stats
    assert sparse == dense


def test_containment_join_exact_vs_bruteforce(spark):
    """Asymmetric prefix filtering must be lossless: output == python
    brute-force all-pairs containment over 5-gram sets."""
    import re as _re

    from nearscan_kafka_streams_spark.functions.dedup import (
        containment_join,
        release_cached,
    )

    long = (
        "in the beginning the corpus held many documents and each "
        "document held many sentences of varied shape and length " * 3
    )
    quote = "each document held many sentences of varied shape"
    docs = (
        [(0, long), (1, quote), (2, quote + " entirely")]
        + [(3 + i, f"unrelated text about topic number {i} with filler") for i in range(10)]
    )
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["inner_id"], r["outer_id"], r["inter_size"], r["inner_size"])
        for r in containment_join(df, threshold=0.9).collect()
    }
    release_cached()

    def grams(t):
        t = _re.sub(r"\s+", " ", t.lower().strip())
        return {t[i : i + 5] for i in range(max(len(t) - 4, 1))}

    gs = {i: grams(t) for i, t in docs if len(grams(t)) >= 8}
    want = set()
    ids = sorted(gs)
    for a in ids:
        for b in ids:
            if a == b:
                continue
            la, lb = len(gs[a]), len(gs[b])
            if la > lb or (la == lb and a >= b):
                continue
            inter = len(gs[a] & gs[b])
            if 10 * inter >= 9 * la:
                want.add((a, b, inter, la))
    # the quote is inside the long doc (the pair Jaccard misses)
    assert any(p[:2] == (1, 0) for p in want)
    assert want and got == want


def test_containment_bitmap_and_array_paths_agree(spark):
    """Both verify representations (dense-vocab bitmap AND+popcount vs
    hashed-array intersect) must produce identical pairs."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        containment_join,
        release_cached,
    )

    long = (
        "in the beginning the corpus held many documents and each "
        "document held many sentences of varied shape and length " * 3
    )
    quote = "each document held many sentences of varied shape"
    docs = [(0, long), (1, quote)] + [
        (2 + i, f"unrelated text about topic number {i} with filler")
        for i in range(8)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    via_bitmap = {
        tuple(r) for r in containment_join(df, threshold=0.9).collect()
    }
    release_cached()
    via_array = {
        tuple(r)
        for r in containment_join(df, threshold=0.9, bitmap_max_vocab=0).collect()
    }
    release_cached()
    assert via_bitmap and via_bitmap == via_array


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc quoted inside a much longer one: containment ~1 but
    Jaccard ~|A|/|B| -- the symmetric join must NOT emit it at the same
    threshold while the containment join does."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        containment_join,
        jaccard_similarity_join,
        release_cached,
    )

    long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    quote = "delta epsilon zeta eta theta"
    df = spark.createDataFrame([(0, long), (1, quote)], ["doc_id", "text"])
    contained = containment_join(df, threshold=0.9).collect()
    release_cached()
    jacc = jaccard_similarity_join(df, shingle_n=5, threshold=0.9).collect()
    release_cached()
    assert [(r["inner_id"], r["outer_id"]) for r in contained] == [(1, 0)]
    assert jacc == []


def test_containment_prefix_ext_exact_vs_bruteforce(spark):
    """The k-extended prefix scheme carried over to the ASYMMETRIC
    containment join must stay lossless: requiring >= least(k, alpha)
    collisions between A's k-extended prefix and B's FULL gram list
    keeps every true pair (one-sided pigeonhole), including tiny
    inner sets whose required overlap alpha falls below k.  Checked
    against python brute force AND the classic k=1 path across
    thresholds and k values on a corpus mixing quoted-substring pairs
    (the containment duplicate class), dense random docs, and tiny
    docs."""
    import random as _random
    import re as _re

    from nearscan_kafka_streams_spark.functions.dedup import (
        containment_join,
        release_cached,
    )

    rng = _random.Random(7)
    alphabet = "abcdefgh "
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    docs = []
    for i in range(12):
        # long hosts sharing a template (quotes of each other's cores)
        docs.append((i, base * 4 + f"tail{i % 3}"))
    for i in range(12, 24):
        # the quoted fragments: near-fully contained in the hosts
        docs.append((i, base + ("x" if i % 2 else "")))
    for i in range(24, 44):
        docs.append(
            (i, "".join(rng.choice(alphabet) for _ in range(50)))
        )
    for i in range(44, 52):
        # tiny docs: gram sets of size 1-4, alpha can fall below k
        docs.append((i, "uvwxy"[: 5] + "z" * (i % 4)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    def grams(t, n=5):
        t = _re.sub(r"\s+", " ", t.lower().strip())
        return {t[i : i + n] for i in range(max(len(t) - (n - 1), 1))}

    gs = {i: {g for g in grams(t) if len(g) == 5} for i, t in docs}

    for thr_n, thr_d in ((4, 5), (9, 10)):
        want = set()
        for i, _ in docs:
            for j, _ in docs:
                a, b = gs[i], gs[j]
                if len(a) < 1 or (
                    (len(a), i) >= (len(b), j)
                ):
                    continue
                inter = len(a & b)
                if thr_d * inter >= thr_n * len(a):
                    want.add((i, j, inter, len(a)))
        for k in (1, 2, 3, "auto"):
            got = {
                tuple(r)
                for r in containment_join(
                    df,
                    threshold=thr_n / thr_d,
                    min_inner_size=1,
                    prefix_ext=k,
                ).collect()
            }
            release_cached()
            assert got == want, (thr_n, thr_d, k, want - got, got - want)


def test_materialize_false_takes_no_cache_ownership(spark):
    """materialize=False is a no-caching contract: neither the jaccard
    nor the containment join may take ownership of a cache entry on
    ANY prefix_ext path when the caller opted out (round-10 ADVICE:
    the k>=2 prefix persist ignored the flag).  stats_out is the one
    documented exception (persist+count observability), so it stays
    None here."""
    from nearscan_kafka_streams_spark.functions import dedup as D

    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = [(i, base + f" tail-{i % 5}") for i in range(12)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for thunk in (
        lambda: D.jaccard_similarity_join(
            df, threshold=0.8, materialize=False, prefix_ext=3
        ),
        lambda: D.jaccard_similarity_join(
            df,
            threshold=0.8,
            materialize=False,
            prefix_ext="auto",
            bitmap_max_vocab=0,
        ),
        lambda: D.containment_join(
            df, threshold=0.9, materialize=False, prefix_ext=3
        ),
        lambda: D.containment_join(
            df,
            threshold=0.9,
            materialize=False,
            prefix_ext="auto",
            bitmap_max_vocab=0,
        ),
    ):
        before = len(D._CACHED)
        thunk().collect()
        assert len(D._CACHED) == before
        D.release_cached()


def test_containment_prefix_ext_auto_records_decision(spark):
    """auto must record its estimate and decision in stats_out, and
    the decided plan's output must equal the classic k=1 output."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        containment_join,
        release_cached,
    )

    long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    quote = "delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(0, long), (1, quote), (2, long + " omega")], ["doc_id", "text"]
    )
    stats: dict = {}
    got = {
        tuple(r)
        for r in containment_join(
            df, threshold=0.9, prefix_ext="auto", stats_out=stats
        ).collect()
    }
    release_cached()
    classic = {
        tuple(r)
        for r in containment_join(df, threshold=0.9, prefix_ext=1).collect()
    }
    release_cached()
    assert got == classic
    assert stats["prefix_ext"] in (None, 1, 3)
    if stats.get("plan") == "bitmap_allpairs":
        assert stats["prefix_ext"] is None
    # the estimate is only computed in the sparse (non-bitmap) regime
    # -- the dense gate short-circuits before the aggregate
    if not stats["use_bitmap"]:
        assert "est_prefix_collisions" in stats and "n_docs" in stats


def test_connected_components_known_graph(spark):
    """Chain, triangle, and isolated pair resolve to min-id labels
    regardless of edge order/partitioning."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        connected_components,
        release_cached,
    )

    edges = spark.createDataFrame(
        # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
        [(2, 1), (2, 3), (4, 3), (10, 11), (11, 12), (10, 12), (21, 20)],
        ["left_id", "right_id"],
    ).repartition(7)
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    release_cached()
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_raises_on_non_convergence(spark):
    """A chain longer than max_iter must raise, never return split
    (silently wrong) components."""
    import pytest as _pytest

    from nearscan_kafka_streams_spark.functions.dedup import (
        connected_components,
        release_cached,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["left_id", "right_id"]
    )
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iter=2)
    release_cached()
    # and with enough iterations the same chain is one component
    got = {r["node"]: r["component"] for r in connected_components(chain).collect()}
    release_cached()
    assert set(got.values()) == {0} and len(got) == 9


def test_connected_components_star_known_graph(spark):
    """Alternating-star CC must produce the identical min-labels as
    label propagation on the shared known graph."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        connected_components_star,
        release_cached,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        ["left_id", "right_id"],
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(edges).collect()
    }
    release_cached()
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_star_logarithmic_rounds(spark):
    """A 65-node chain: label propagation needs ~64 rounds (raises at
    max_iter=10); the star variant converges within 10 -- the O(log n)
    guarantee this variant exists for."""
    import pytest as _pytest

    from nearscan_kafka_streams_spark.functions.dedup import (
        connected_components,
        connected_components_star,
        release_cached,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["left_id", "right_id"]
    )
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iter=10)
    release_cached()
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(chain, max_iter=10).collect()
    }
    release_cached()
    assert set(got.values()) == {0} and len(got) == 65


def test_connected_components_star_matches_propagation_random(spark):
    """Star and propagation must agree label-for-label on a seeded
    random graph (includes singleton self-loop nodes)."""
    import random

    from nearscan_kafka_streams_spark.functions.dedup import (
        connected_components,
        connected_components_star,
        release_cached,
    )

    rng = random.Random(7)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    pairs.append((99, 99))  # self-loop-only node: singleton component
    edges = spark.createDataFrame(pairs, ["left_id", "right_id"])
    a = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    release_cached()
    b = {
        r["node"]: r["component"]
        for r in connected_components_star(edges).collect()
    }
    release_cached()
    assert a == b


def test_winnowing_detects_misaligned_shared_run(spark):
    """A shared run of k + window - 1 chars planted at offsets that
    differ mod the stride: winnowing (content-defined positions) must
    find it; naive stride-8 sampling must MISS it -- the reason
    winnowed_spans exists."""
    import random

    from nearscan_kafka_streams_spark.functions.dedup import (
        duplicate_spans,
        winnowed_spans,
    )

    rng = random.Random(3)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    shared = "".join(rng.choice(alpha) for _ in range(39))  # k=32, w=8
    pre_a = "".join(rng.choice(alpha) for _ in range(50))   # offset 50
    pre_b = "".join(rng.choice(alpha) for _ in range(53))   # offset 53 (≠ mod 8)
    docs = spark.createDataFrame(
        [
            (1, pre_a + shared + "".join(rng.choice(alpha) for _ in range(40))),
            (2, pre_b + shared + "".join(rng.choice(alpha) for _ in range(44))),
        ],
        ["doc_id", "text"],
    )

    winnowed = winnowed_spans(docs).collect()
    assert winnowed, "winnowing missed the shared run"
    assert all(r["gram"] in shared for r in winnowed)

    strided = duplicate_spans(docs, stride=8).collect()
    assert not strided, "stride sampling unexpectedly aligned"

    exact = duplicate_spans(docs).collect()  # stride 1: all 8 windows
    assert len(exact) == 8


def test_incremental_exact_dedup_across_batches(spark, tmp_path):
    from nearscan_kafka_streams_spark.functions.dedup import (
        incremental_exact_dedup,
    )

    store = str(tmp_path / "identity")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # batch 1: within-batch dup (1 vs 3, min id wins)
    b1 = batch([(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "alpha  BETA gamma")])
    s1 = {r["doc_id"] for r in incremental_exact_dedup(b1, store, batch_id=0).collect()}
    assert s1 == {1, 2}

    # batch 2: cross-batch dup of doc 2's content + genuinely new doc
    b2 = batch([(10, "Delta  Epsilon"), (11, "zeta eta theta")])
    s2 = {r["doc_id"] for r in incremental_exact_dedup(b2, store, batch_id=1).collect()}
    assert s2 == {11}

    # RE-DELIVERY of batch 2 (same batch_id -- Structured Streaming's
    # at-least-once case) returns the SAME survivors: the seen-check
    # ignores this batch's own registrations
    s2b = {r["doc_id"] for r in incremental_exact_dedup(b2, store, batch_id=1).collect()}
    assert s2b == {11}

    # a genuinely NEW batch with the same content admits nothing
    s2c = incremental_exact_dedup(b2, store, batch_id=2).collect()
    assert s2c == []

    # the store holds exactly the three distinct fingerprints
    from nearscan_kafka_streams_spark.sinks.upsert import read_store

    assert read_store(spark, store).count() == 3


def test_incremental_minhash_dedup_across_batches(spark, tmp_path):
    """Near-dup admission against the persistent band-key store:
    within-batch near-dups keep the first occurrence, cross-batch
    near-dups of ADMITTED history are rejected, novel content is
    admitted, and a replayed batch admits nothing (at-most-once)."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        incremental_minhash_dedup,
        release_cached,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain stays mainly on the plain and the cat sat on the mat"
    )
    other = (
        "completely different content about spark physical plans and "
        "partition pruning with adaptive query execution at scale"
    )
    store = str(tmp_path / "lsh_store")

    b0 = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, other)], ["doc_id", "text"]
    )
    s0 = {r["doc_id"] for r in incremental_minhash_dedup(b0, store, batch_id=0).collect()}
    release_cached()
    assert s0 == {1, 3}  # 2 is a within-batch near-dup of 1

    third = (
        "a third unrelated document mentioning bloom filters z order "
        "clustering and columnar layouts for large analytical scans"
    )
    b1 = spark.createDataFrame(
        [(10, base + " extra"), (11, third)], ["doc_id", "text"]
    )
    s1 = {r["doc_id"] for r in incremental_minhash_dedup(b1, store, batch_id=1).collect()}
    release_cached()
    assert s1 == {11}  # 10 near-dups admitted history (doc 1)

    # RE-DELIVERY of batch 1 (same batch_id) returns the SAME survivors
    s1b = {r["doc_id"] for r in incremental_minhash_dedup(b1, store, batch_id=1).collect()}
    release_cached()
    assert s1b == {11}

    # a genuinely NEW batch with the same content admits nothing
    s1c = incremental_minhash_dedup(b1, store, batch_id=2).collect()
    release_cached()
    assert s1c == []


def test_incremental_exact_matches_oneshot_on_random_batches(spark, tmp_path):
    """Contract: feeding random batches (ascending ids) through
    incremental_exact_dedup admits exactly the docs a ONE-SHOT
    exact_dedup over the concatenated corpus would keep (global min id
    per fingerprint), regardless of how content repeats across
    batches."""
    import random

    from nearscan_kafka_streams_spark.functions.dedup import (
        exact_dedup,
        incremental_exact_dedup,
    )

    rng = random.Random(13)
    texts = [f"document body number {i} with shared words" for i in range(12)]
    all_rows, admitted, next_id = [], set(), 0
    store = str(tmp_path / "prop_store")
    for b in range(4):
        rows = []
        for _ in range(rng.randint(2, 6)):
            rows.append((next_id, rng.choice(texts)))
            next_id += 1
        all_rows.extend(rows)
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        admitted |= {
            r["doc_id"]
            for r in incremental_exact_dedup(batch, store, batch_id=b).collect()
        }
    corpus = spark.createDataFrame(all_rows, "doc_id long, text string")
    oneshot = {r["doc_id"] for r in exact_dedup(corpus).collect()}
    assert admitted == oneshot


def test_gc_staging_keeps_latest(spark, tmp_path):
    from nearscan_kafka_streams_spark.functions.dedup import (
        gc_staging,
        incremental_exact_dedup,
    )

    store = str(tmp_path / "gc_store")
    for b in range(5):
        batch = spark.createDataFrame(
            [(b * 10, f"unique text for batch {b} here")],
            "doc_id long, text string",
        )
        incremental_exact_dedup(batch, store, batch_id=b).collect()
    removed = gc_staging(store, keep_latest=2)
    assert removed == ["batch_0", "batch_1", "batch_2"]
    from pathlib import Path

    left = sorted(p.name for p in (Path(store) / "_staging").iterdir())
    assert left == ["batch_3", "batch_4"]


def test_incremental_exact_dedup_upgrades_legacy_store(spark, tmp_path):
    """A store written BEFORE rows carried src_batch must stay usable:
    its fingerprints count as seen (NULL src_batch is 'unknown
    provenance', never 'this batch'), and registration merges the new
    wider rows into the old generations without a union-schema crash."""
    from nearscan_kafka_streams_spark.functions.dedup import (
        fingerprint,
        incremental_exact_dedup,
    )
    from nearscan_kafka_streams_spark.sinks.upsert import foreach_batch_upsert

    store = str(tmp_path / "legacy_store")
    legacy = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "old corpus line")],
        "doc_id long, text string",
    ).select(fingerprint(F.col("text")).alias("fp"), "doc_id")
    # legacy layout: (fp, doc_id) only -- no src_batch column
    foreach_batch_upsert("fp", store, num_buckets=8)(legacy, 0)

    batch = spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "fresh text")],
        "doc_id long, text string",
    )
    survivors = {
        r["doc_id"]
        for r in incremental_exact_dedup(
            batch, store, num_buckets=8, batch_id=1
        ).collect()
    }
    # the legacy fingerprint rejects doc 10; doc 11 is admitted
    assert survivors == {11}
    # and a THIRD batch sees both legacy and new registrations
    batch2 = spark.createDataFrame(
        [(20, "old corpus line"), (21, "fresh text"), (22, "never seen")],
        "doc_id long, text string",
    )
    s2 = {
        r["doc_id"]
        for r in incremental_exact_dedup(
            batch2, store, num_buckets=8, batch_id=2
        ).collect()
    }
    assert s2 == {22}


def test_refine_components_matches_fixpoint(spark):
    """refine_components must reproduce connected_components exactly on
    any subset edge set, given the superset's labels -- randomized
    graphs with chains, triangles, isolated pairs, plus the empty
    subset edge case."""
    import random as _random

    from nearscan_kafka_streams_spark.functions.dedup import (
        connected_components,
        refine_components,
        release_cached,
    )

    rng = _random.Random(7)
    for trial in range(3):
        n = 60
        full = set()
        while len(full) < 90:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                full.add((min(a, b), max(a, b)))
        full = sorted(full)
        # subset = random half of the edges (threshold-raise analogue)
        sub = [e for e in full if rng.random() < 0.5]
        full_df = spark.createDataFrame(full, ["left_id", "right_id"])
        base = connected_components(full_df)
        if sub:
            sub_df = spark.createDataFrame(sub, ["left_id", "right_id"])
        else:
            sub_df = full_df.limit(0)
        got = {
            (r["node"], r["component"])
            for r in refine_components(sub_df, base).collect()
        }
        want = (
            {
                (r["node"], r["component"])
                for r in connected_components(sub_df).collect()
            }
            if sub
            else set()
        )
        release_cached()
        assert got == want, (trial, got ^ want)


def test_refine_components_multi_matches_per_threshold_runs(spark):
    """refine_components_multi's per-tier snapshots must equal an
    independent connected_components run on each tier's edge subset --
    randomized weighted graphs, nested ratio thresholds, including a
    tier with zero qualifying edges."""
    import random as _random

    from nearscan_kafka_streams_spark.functions.dedup import (
        connected_components,
        refine_components_multi,
        release_cached,
    )

    rng = _random.Random(13)
    tiers = [(85, 17, 20), (90, 9, 10), (95, 19, 20)]
    for trial in range(3):
        n = 50
        rows = []
        seen = set()
        while len(rows) < 80:
            a, b = rng.randrange(n), rng.randrange(n)
            if a == b or (min(a, b), max(a, b)) in seen:
                continue
            seen.add((min(a, b), max(a, b)))
            # union size 20; inter drawn so the three thresholds
            # split the edge set (17, 18, 19, 20 of 20 = ratios
            # .85/.90/.95/1.0); trial 2 forces an empty 95 tier
            hi = 18 if trial == 2 else 20
            rows.append((min(a, b), max(a, b), rng.randrange(15, hi + 1), 20))
        edges = spark.createDataFrame(
            rows, ["left_id", "right_id", "inter_size", "union_size"]
        )
        base = connected_components(
            edges.select("left_id", "right_id")
        )
        got: dict[int, set] = {pct: set() for pct, _, _ in tiers}
        for r in refine_components_multi(edges, base, tiers).collect():
            got[r["threshold_pct"]].add((r["node"], r["component"]))
        release_cached()
        for pct, p, q in tiers:
            sub = [
                (a, b) for a, b, i, u in rows if q * i >= p * u
            ]
            if sub:
                want = {
                    (r["node"], r["component"])
                    for r in connected_components(
                        spark.createDataFrame(sub, ["left_id", "right_id"])
                    ).collect()
                }
            else:
                want = set()
            release_cached()
            assert got[pct] == want, (trial, pct, got[pct] ^ want)
