"""Per-stage census of the wire-pipeline bench leg (round-11 verdict
item 5): the Confluent-framed Avro replay through the binaryFile
source and the Arrow segment decode vs the all-JVM parquet control.

The bench's `wire_pipeline` minus `wire_pipeline_jvm` is the
documented jarless-Python-decode cost; this tool re-runs both legs at
the bench's exact staging (n_wire = 200_000 * sf, wire_sp =
n_wire // 2500) with the Spark UI enabled and prints every stage's
task count + executor time so a WIDENING delta can be attributed to a
starved stage vs the Arrow-decode cost scaling
with the corpus.

Usage: python tools/wire_census.py [--sf 0.1]
Run SOLO (same discipline as bench.py)."""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.stage_census import _stages  # noqa: E402


def _report(ui: str, before: set, label: str, wall: float) -> None:
    after = _stages(ui)
    new = [st for sid, st in sorted(after.items()) if sid not in before]
    total_exec = sum(st.get("executorRunTime", 0) for st in new) / 1000
    print(
        f"\n== {label}  wall={wall:.1f}s  stages={len(new)}  "
        f"exec_total={total_exec:.1f}s"
    )
    for st in new:
        n, ms = st["numTasks"], st.get("executorRunTime", 0)
        if ms < 200:
            continue  # noise stages clutter the table
        flag = " STARVED" if n <= 2 and ms > 2000 else ""
        print(
            f"  stage {st['stageId']:>4}  tasks={n:>3} "
            f"exec={ms / 1000:7.1f}s  "
            f"{st.get('name', '')[:70]}{flag}"
        )


def main() -> int:
    args = list(sys.argv[1:])
    sf = 0.1
    while args and args[0].startswith("--"):
        flag = args.pop(0)
        if flag == "--sf":
            sf = float(args.pop(0))
        else:
            sys.exit(f"unknown flag {flag}\n{__doc__}")

    from nearscan_kafka_streams_spark.schemas import avro_value_schema
    from nearscan_kafka_streams_spark.session import get_spark
    from nearscan_kafka_streams_spark.sources.pyds import (
        ConfluentAvroDataSource,
    )
    from nearscan_kafka_streams_spark.streaming.pipeline import (
        run_parquet_pipeline,
        run_wire_pipeline,
    )
    from nearscan_kafka_streams_spark.testgen import generate_near_tables

    spark = get_spark(
        app_name="wire-census",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "5000",
        },
    )
    ui = spark.sparkContext.uiWebUrl
    spark.dataSource.register(ConfluentAvroDataSource)
    n_wire = max(int(200_000 * sf), 2000)
    wire_sp = max(4, min(32, n_wire // 2500))
    wr, wo, wa = generate_near_tables(spark, n_wire)
    wire_root = tempfile.mkdtemp(prefix="wire_census_")
    try:
        for topic, df in (
            ("receipts", wr),
            ("execution_outcomes", wo),
            ("action_receipt_actions", wa),
        ):
            (
                df.repartition(8)
                .write.format("confluentavro")
                .option("path", f"{wire_root}/logs/{topic}")
                .option("avro_schema", json.dumps(avro_value_schema(topic)))
                .mode("append")
                .save()
            )
            df.repartition(8).write.mode("overwrite").parquet(
                f"{wire_root}/pq/{topic}"
            )
        # untimed warm replay per leg (bench discipline), then one
        # censused replay each
        run_wire_pipeline(
            spark,
            f"{wire_root}/logs",
            f"{wire_root}/out_warm",
            shuffle_partitions=wire_sp,
        ).write.format("noop").mode("overwrite").save()
        before = set(_stages(ui))
        t0 = time.perf_counter()
        run_wire_pipeline(
            spark,
            f"{wire_root}/logs",
            f"{wire_root}/out_timed",
            shuffle_partitions=wire_sp,
        ).write.format("noop").mode("overwrite").save()
        _report(ui, before, "wire_pipeline", time.perf_counter() - t0)

        run_parquet_pipeline(
            spark,
            f"{wire_root}/pq",
            f"{wire_root}/out_pq_warm",
            shuffle_partitions=wire_sp,
        ).write.format("noop").mode("overwrite").save()
        before = set(_stages(ui))
        t0 = time.perf_counter()
        run_parquet_pipeline(
            spark,
            f"{wire_root}/pq",
            f"{wire_root}/out_pq_timed",
            shuffle_partitions=wire_sp,
        ).write.format("noop").mode("overwrite").save()
        _report(ui, before, "wire_pipeline_jvm", time.perf_counter() - t0)
    finally:
        shutil.rmtree(wire_root, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
