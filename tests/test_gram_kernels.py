"""The dedup gram kernels: each document's text is normalized once, in
its own projection (``normalized_text``), and ``shingle_strings`` /
``shingles`` build grams from that column.

Three properties are pinned here:
- the kernels return the arrays of the earlier kernels, which
  normalized inside the gram lambda (recorded below as literals);
- in both dedup joins' optimized plans the normalization regex sits
  outside every lambda, so ``CollapseProject`` has not inlined it back
  into the per-gram ``transform``;
- a repeated Jaccard + containment round reuses its compiled classes:
  the session's codegen cache holds one round's working set."""

from __future__ import annotations

import pytest

from nearscan_kafka_streams_spark.functions.dedup import (
    containment_join,
    jaccard_similarity_join,
    normalized_text,
    release_cached,
    shingle_strings,
    shingles,
)

TEXTS = [
    "Hello   World",
    "a\tb\t\tc",
    "line1\nline2\r\nline3",
    "  lead and trail  ",
    # trim strips spaces only: the tab survives it and becomes a space
    "\t lead tab\n",
    "ab",
    "",
    "   ",
    "\t\n ",
    None,
    # lower('İ') is two chars, 'i' + U+0307
    "İstanbul ÇAY",
    "Straße  日本語",
    "\U0001f600\U0001f600ab",
    # repeated grams: first occurrences, in order
    "Abc abc  ABC",
    "aaaaaaa",
    "ab ab\tab",
]

# n -> one (shingle_strings, shingles) pair per TEXTS entry
EXPECTED = {
    3: [
        (
            ['hel', 'ell', 'llo', 'lo ', 'o w', ' wo', 'wor', 'orl', 'rld'],
            [
                -7200369541278242659, -9088994163068346749, -1912469086330054174,
                7354659600514231870, 8201958571690899364, -822886808888889520,
                6323852705326003782, 5316316021878571980, 5889882984225117544,
            ],
        ),
        (
            ['a b', ' b ', 'b c'],
            [-855244039985217676, 6810061435578775681, 7572837793080470286],
        ),
        (
            ['lin', 'ine', 'ne1', 'e1 ', '1 l', ' li', 'ne2', 'e2 ', '2 l', 'ne3'],
            [
                1154578230539002716, -6191652073248575871, 5186867075892243981,
                -2400398993472726091, -6500467489340023346, 8367428116625663334,
                -3778456659918172930, -938649147467855649, 1513519384328766739,
                -2592078694084159166,
            ],
        ),
        (
            [
                'lea', 'ead', 'ad ', 'd a', ' an', 'and', 'nd ', 'd t', ' tr', 'tra',
                'rai', 'ail',
            ],
            [
                4787017318538449531, -5616291678573468337, 738268356733204312,
                8116733185118690691, -7684869354766500623, 7126819426946154968,
                -5161762270212466167, -4635069743897814828, 2625333436969602186,
                -4992710176003627826, 749652596116249223, 2084294909269155203,
            ],
        ),
        (
            [' le', 'lea', 'ead', 'ad ', 'd t', ' ta', 'tab', 'ab '],
            [
                327978747170953173, 4787017318538449531, -5616291678573468337,
                738268356733204312, -4635069743897814828, 8890318887776752882,
                794952211765279148, -8832126593739382533,
            ],
        ),
        (
            ['ab'],
            [2710560539726725091],
        ),
        (
            [''],
            [-7444071767201028348],
        ),
        (
            [''],
            [-7444071767201028348],
        ),
        (
            [' '],
            [-341964750944010104],
        ),
        (
            [None],
            [42],
        ),
        (
            [
                'i\u0307s', '\u0307st', 'sta', 'tan', 'anb', 'nbu', 'bul', 'ul ',
                'l \xe7', ' \xe7a', '\xe7ay',
            ],
            [
                -8663393775472472163, 5886425780647795395, 6989230964358371981,
                8543011712982466988, 4609892571847446386, -1665147420168635079,
                -2421853634664156821, 2935548662612341888, -3713959364402967617,
                -6390606421205790278, 1380677666280044348,
            ],
        ),
        (
            [
                'str', 'tra', 'ra\xdf', 'a\xdfe', '\xdfe ', 'e \u65e5', ' \u65e5\u672c',
                '\u65e5\u672c\u8a9e',
            ],
            [
                -5582303937399447759, -4992710176003627826, 1555517548336099600,
                -4822974656224088118, -1799091678963377671, 651301656686287234,
                4870120663540242914, -619341062884681239,
            ],
        ),
        (
            ['\U0001f600\U0001f600a', '\U0001f600ab'],
            [6782284368055893957, -7411423681771809017],
        ),
        (
            ['abc', 'bc ', 'c a', ' ab'],
            [
                1423657621850124518, -5997239162414287311, -6970400941014205963,
                2461525999811322244,
            ],
        ),
        (
            ['aaa'],
            [2465751751477118478],
        ),
        (
            ['ab ', 'b a', ' ab'],
            [-8832126593739382533, 8647100265530620696, 2461525999811322244],
        ),
    ],
    5: [
        (
            ['hello', 'ello ', 'llo w', 'lo wo', 'o wor', ' worl', 'world'],
            [
                -4367754540140381902, -2578986669123524386, 6170407608155385545,
                5141899600787402474, 6812673275149546715, -7175565186127901434,
                5443888953786709463,
            ],
        ),
        (
            ['a b c'],
            [-2167479932694485896],
        ),
        (
            [
                'line1', 'ine1 ', 'ne1 l', 'e1 li', '1 lin', ' line', 'line2', 'ine2 ',
                'ne2 l', 'e2 li', '2 lin', 'line3',
            ],
            [
                -1485531337623844957, 4921037254637166022, 7775790503388968955,
                -2663556119746818828, 956590204274200562, 7526832944353525429,
                -4525248859203024054, -3110224612555256798, -6541301175179952508,
                7587431426331432123, 7842113889177934937, -7590696457452926538,
            ],
        ),
        (
            [
                'lead ', 'ead a', 'ad an', 'd and', ' and ', 'and t', 'nd tr', 'd tra',
                ' trai', 'trail',
            ],
            [
                4003348452382590281, 144380864365847445, -2833747933438287733,
                9154322744559500071, 5195057696722231272, 1089286498544434183,
                -2339370539482786941, -4023425477908436672, -1486746780255688089,
                -7934720197753910044,
            ],
        ),
        (
            [' lead', 'lead ', 'ead t', 'ad ta', 'd tab', ' tab '],
            [
                7959945056498544315, 4003348452382590281, -4799127412542250317,
                -6515555318717378464, 9222666651183617010, 8117174002879813861,
            ],
        ),
        (
            ['ab'],
            [2710560539726725091],
        ),
        (
            [''],
            [-7444071767201028348],
        ),
        (
            [''],
            [-7444071767201028348],
        ),
        (
            [' '],
            [-341964750944010104],
        ),
        (
            [None],
            [42],
        ),
        (
            [
                'i\u0307sta', '\u0307stan', 'stanb', 'tanbu', 'anbul', 'nbul ',
                'bul \xe7', 'ul \xe7a', 'l \xe7ay',
            ],
            [
                -7802875372627460965, -1643921586527168915, -4163027519945428300,
                5965158778501732396, 7877557810144933293, 5582680657146288142,
                -8450240918462448307, 7267728419561089692, 6319536388402274724,
            ],
        ),
        (
            [
                'stra\xdf', 'tra\xdfe', 'ra\xdfe ', 'a\xdfe \u65e5',
                '\xdfe \u65e5\u672c', 'e \u65e5\u672c\u8a9e',
            ],
            [
                -1394644680806520576, 390888496332320700, -5452864402374506813,
                -2712104948844899779, 5523291579541787799, 4866542817729004828,
            ],
        ),
        (
            ['\U0001f600\U0001f600ab'],
            [5325538056462102564],
        ),
        (
            ['abc a', 'bc ab', 'c abc', ' abc '],
            [
                8278478675222347100, 4334602481409322346, 3437858185032505349,
                -964715739961313982,
            ],
        ),
        (
            ['aaaaa'],
            [-3461008619219953994],
        ),
        (
            ['ab ab', 'b ab ', ' ab a'],
            [4700928692174172307, -6111123652146920574, -2941443667883399576],
        ),
    ],
}


def test_gram_kernels_match_recorded_arrays(spark):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "i int, text string")
    norm = df.select("i", normalized_text("text").alias("norm"))
    for n, expected in EXPECTED.items():
        rows = (
            norm.select(
                "i",
                shingle_strings("norm", n).alias("s"),
                shingles("norm", n).alias("h"),
            )
            .orderBy("i")
            .collect()
        )
        assert [(r["s"], r["h"]) for r in rows] == expected, n


def _lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` span of a plan string."""
    bodies = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth = 0
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        bodies.append(plan[start : end + 1])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


@pytest.mark.parametrize(
    "join, threshold",
    [(jaccard_similarity_join, 0.8), (containment_join, 0.9)],
    ids=["jaccard", "containment"],
)
def test_normalization_projected_outside_gram_lambdas(word_corpus, join, threshold):
    plan = (
        join(word_corpus, threshold=threshold)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "regexp_replace" in plan
    bodies = _lambda_bodies(plan)
    assert [b for b in bodies if "regexp_replace" in b] == []
    assert any("substr(norm" in b for b in bodies)


def test_repeated_dedup_joins_compile_nothing(spark, word_corpus):
    """The second of two identical rounds compiles no class: before the
    session sized its codegen cache, each join evicted the other's
    classes and a warm round recompiled ~40 of them.

    AQE is off for the check: with it on, a warm round now and then
    compiles 2-4 classes for a plan variant chosen from runtime
    statistics, whatever the cache size; off, the plans are fixed and
    only the cache decides (0 compiles over 15 warm rounds)."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def one_round() -> list[dict]:
        stats: list[dict] = [{}, {}]
        jaccard_similarity_join(word_corpus, threshold=0.8, stats_out=stats[0]).collect()
        release_cached()
        containment_join(word_corpus, threshold=0.9, stats_out=stats[1]).collect()
        release_cached()
        return stats

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert [s["use_bitmap"] for s in one_round()] == [False, False]
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        one_round()
        assert codegen.METRIC_COMPILATION_TIME().getCount() - before == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
