"""Shared imports of the query modules, the table reader ``_t`` and
``register``, which records each query and its oracle SQL for the
package's ``QUERIES``/``ORACLES`` (see ``__init__.py``)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nearscan_kafka_streams_spark.functions.dedup import (
    containment_join,
    jaccard_similarity_join,
    minhash_lsh_candidates,
    simhash_pairs,
)
from nearscan_kafka_streams_spark.functions.multimodal import (
    decode_media,
    make_fake_media,
    sample_frames,
)
from nearscan_kafka_streams_spark.functions.similarity import (
    brute_force_topk,
    lsh_topk,
    pq_topk,
)
from nearscan_kafka_streams_spark.functions.text import (
    LANG_STOPWORDS,
    quality_score,
    token_count,
)

Query = Callable[[SparkSession, str], DataFrame]

# name -> (query, oracle SQL or None), in registration order
REGISTERED: dict[str, tuple[Query, str | None]] = {}


def register(fn: Query, oracle: str | None = None) -> None:
    """Add ``fn`` to the registry under ``fn.__name__``, with its DuckDB
    oracle SQL (None: rows-only check).  Called once per query in its
    defining module, right after the query's oracle string."""
    name = fn.__name__
    if name in REGISTERED:
        raise ValueError(f"query {name!r} is already registered")
    REGISTERED[name] = (fn, oracle)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts is parquet TIMESTAMP(NANOS): read as long ns (session sets
    # spark.sql.legacy.parquet.nanosAsLong) and truncate to us -- exactly
    # what DuckDB does when it casts its TIMESTAMP_NS to TIMESTAMP
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division (div), not /: double division loses ns precision
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


