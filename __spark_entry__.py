"""Driver contract for the spark-graft builder (PySpark target).

``entry``      -- flagship query smoke check on sf0.001.
``queries``    -- the implemented operator inventory (SURVEY (S)2 +
                  north-star training-data ops), one callable per query.
``oracle_sql`` -- DuckDB-dialect oracle SQL per query (omitted for the
                  genuinely non-SQL-expressible ops -> rows-only check).

Implementations live in the ``nearscan_kafka_streams_spark/queries/``
package: each module registers its queries (and their oracle SQL) where
they are defined, and the package builds the registry from those; the
NEAR-domain topology itself (the reference's single hard-coded
query) is exercised by ``tests/`` over FIXTURES.md fixtures and its
operator shapes are each represented in the inventory below.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _configure(spark: SparkSession) -> SparkSession:
    """Apply engine settings to a driver-provided session (the driver
    may build its own SparkSession; these are safe runtime confs)."""
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # tz-less parquet timestamps must read as TIMESTAMP (not NTZ):
        # DuckDB oracles treat them as naive-UTC, and functions like
        # unix_micros reject NTZ input
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session -- already effective or N/A
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference-topology analog over the events table --
    keyed running aggregate with latest-event metadata (A1 shape:
    sum + max_by, TokenBalance.java:279-329) at sf0.001."""
    from nearscan_kafka_streams_spark.queries.topology import (
        running_balance_events,
    )

    _configure(spark)
    return running_balance_events(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from nearscan_kafka_streams_spark.queries import QUERIES

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            # dedup/LSH queries persist staged intermediates; release the
            # PREVIOUS query's before building the next plan so a
            # long-lived session never accumulates executor storage
            # (releasing after would unpersist before the driver
            # materializes the returned lazy DataFrame)
            from nearscan_kafka_streams_spark.functions.dedup import release_cached

            release_cached()
            return fn(_configure(spark), sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from nearscan_kafka_streams_spark.queries import ORACLES

    return dict(ORACLES)
