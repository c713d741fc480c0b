"""Property-based invariants for the sampling/normalization family.

- normalize_text is IDEMPOTENT: a second pass never changes anything
  (the contract that makes re-running a cleaning pipeline safe);
- weighted A-ES sampling equals the pure-Python model for ANY
  weight assignment (not just the corpus fixture);
- mixture upsampling conserves exactly sum(copies) rows for ANY
  doc-id/source layout.
"""

from __future__ import annotations

import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nearscan_kafka_streams_spark.functions.text import normalize_text

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

messy_text = st.text(
    alphabet=st.sampled_from(
        list("ab c.\t\n")
        + [" ", " ", "　", "​", "﻿",
           "‘", "’", "“", "”",
           "–", "—", "…", "\x07", "\x0b"]
    ),
    max_size=40,
)


@SETTINGS
@given(st.lists(messy_text, min_size=1, max_size=24))
def test_normalize_is_idempotent(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    out = df.select(
        normalize_text(F.col("text")).alias("once")
    ).select(
        "once", normalize_text(F.col("once")).alias("twice")
    )
    assert all(r["once"] == r["twice"] for r in out.collect())


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),   # doc_id
            st.integers(min_value=1, max_value=5000),    # weight
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=10),              # k
)
def test_weighted_sample_model_parity(spark, rows, k):
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ws"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    u = (u32.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.log(u) / F.col("w").cast("double")
    got = sorted(
        r["doc_id"]
        for r in df.select("doc_id", key.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(k)
        .collect()
    )

    def model_key(doc_id, w):
        h = int(hashlib.md5(f"{doc_id}:ws".encode()).hexdigest()[:8], 16)
        return math.log((h + 0.5) / 4294967296.0) / w

    want = sorted(
        d for _, d in sorted(
            ((-model_key(d, w), d) for d, w in rows)
        )[:k]
    )
    assert got == want


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.sampled_from(["src0", "src1", "src2", "other"]),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_mixture_conserves_copy_counts(spark, rows):
    from nearscan_kafka_streams_spark.queries.corpus_ops import (
        MIXTURE_EPOCHS,
        MIXTURE_EPOCHS_DEFAULT,
    )

    df = spark.createDataFrame(rows, ["doc_id", "source"])
    nib = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
            1, 1,
        ),
        16, 10,
    ).cast("int")
    full = F.lit(MIXTURE_EPOCHS_DEFAULT[0])
    thr = F.lit(MIXTURE_EPOCHS_DEFAULT[1])
    for src, (f_, t_) in MIXTURE_EPOCHS.items():
        full = F.when(F.col("source") == src, F.lit(f_)).otherwise(full)
        thr = F.when(F.col("source") == src, F.lit(t_)).otherwise(thr)
    copies = full + (nib < thr).cast("int")
    out = df.select(
        "doc_id",
        F.explode(
            F.when(copies >= 1, F.sequence(F.lit(1), copies))
        ).alias("c"),
    )

    def model_copies(doc_id, source):
        f_, t_ = MIXTURE_EPOCHS.get(source, MIXTURE_EPOCHS_DEFAULT)
        nib_ = int(hashlib.md5(f"{doc_id}:mix".encode()).hexdigest()[0], 16)
        return f_ + (1 if nib_ < t_ else 0)

    want_total = sum(model_copies(d, s) for d, s in rows)
    assert out.count() == want_total
