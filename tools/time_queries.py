"""Time a list of registry queries in one fresh JVM (noop sink).

Usage:
  python tools/time_queries.py [--reps N] query [query ...]

Prints one JSON line:
  {"times": {name: [r1, r2, ...]}, "compiles": {name: [c1, c2, ...]}}

``times`` are wall seconds; ``compiles`` counts the classes Janino
compiled during each rep (Spark's ``CodegenMetrics``).  Each rep is a
fresh plan over cleared caches; the first rep of a query carries its
codegen and JIT warm-up, later reps its plan cost.  A later rep that
still compiles means the session's codegen cache did not keep that
query's classes.  Wall time on a shared host swings from run to run,
so compare two trees by interleaving their runs (A B A B ...).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    reps = 2
    if args and args[0] == "--reps":
        reps = int(args[1])
        args = args[2:]
    if not args:
        print(__doc__)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from nearscan_kafka_streams_spark.functions.dedup import release_cached
    from nearscan_kafka_streams_spark.queries import QUERIES
    from nearscan_kafka_streams_spark.session import get_spark

    spark = get_spark(app_name="time-queries")
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    times: dict[str, list[float]] = {}
    compiles: dict[str, list[int]] = {}
    for name in args:
        fn = QUERIES[name]
        times[name], compiles[name] = [], []
        for _ in range(reps):
            spark.catalog.clearCache()
            c0 = codegen.METRIC_COMPILATION_TIME().getCount()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[name].append(round(time.perf_counter() - t0, 3))
            compiles[name].append(
                codegen.METRIC_COMPILATION_TIME().getCount() - c0
            )
            release_cached()
    print(json.dumps({"times": times, "compiles": compiles}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
