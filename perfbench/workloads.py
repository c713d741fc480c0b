"""The benchmark's workloads.

Each workload stages its seeded inputs, warms the JVM on them, times a
window of ``--seconds`` through the library's public entry points with
their default options, and checks the outputs against references.  What
each one stresses and bypasses is recorded in ``BENCHMARK.json``; which
end-to-end metric each layer's metrics should move is in ``README.md``.

End-to-end metrics (tracing off, timed window only):

- ``setup_s``: process start to the first timed operation (session
  start, input staging, warm-up).
- ``latency_p50_s``: median time from input available to result
  committed and read back.  ``wire_tail``: per segment, the pipeline
  run's return (store read back) minus the segment's due time.
  ``corpus_dedup``: per rep, the wall time of both dedup joins.
- ``records_per_s``: input records over the window.  ``wire_tail``:
  records committed over the window, which equals the arrival rate
  while the pipeline keeps up.  ``corpus_dedup``: documents over the
  median rep.
- ``cpu_us_per_record``: median over steps or reps of the CPU of the
  process tree (JVM and Python workers), per input record.

The process tree's peak RSS in the window is reported per layer
(``process.peak_rss_mb``): it swung by a fifth between identical runs
with GC timing, too much to hold a later change to.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen
import ref
from tracing import Window, tree_cpu_s

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "records_per_s": "1/s",
    "cpu_us_per_record": "us",
}

# per-layer metric -> unit; a layer a workload does not touch reads 0
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "bench.stage_s": "s",
    "trace.overhead_s": "s",
    "engine.cpu_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_mb": "MB",
    "engine.spill_mb": "MB",
    "engine.tasks": "count",
    "engine.task_skew": "ratio",
    "sources.records": "count",
    "sources.latest_offset_ms": "ms",
    "operators.dedup_ms": "ms",
    "operators.dedup_drop_share": "ratio",
    "operators.joins_ms": "ms",
    "operators.balance_ms": "ms",
    "streaming.runs": "count",
    "streaming.triggers": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.fixed_overhead_s": "s",
    "streaming.fixed_overhead_share": "ratio",
    "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.state_memory_mb": "MB",
    "streaming.bridge_files": "count",
    "sinks.upsert_ms": "ms",
    "sinks.read_store_s": "s",
    "sinks.store_files": "count",
    "sinks.store_mb": "MB",
    "functions.jaccard_s": "s",
    "functions.containment_s": "s",
    "functions.cpu_s": "s",
    "functions.shuffle_mb": "MB",
    "functions.candidates": "count",
    "functions.pairs": "count",
    "functions.pair_share": "ratio",
}

@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object
    t_start: float


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _phase(ctx: Context, name: str) -> None:
    _log(f"{name} at {time.monotonic() - ctx.t_start:.2f}s")


def _common_layers(tr) -> dict[str, float]:
    return {
        "session.start_s": tr.total("session.start"),
        "bench.stage_s": tr.total("bench.stage"),
        "engine.cpu_s": tr.engine_total("cpu_s"),
        "engine.gc_s": tr.engine_total("gc_s"),
        "engine.shuffle_mb": tr.engine_total("shuffle_mb"),
        "engine.spill_mb": tr.engine_total("spill_mb"),
        "engine.tasks": tr.engine_total("tasks"),
        "engine.task_skew": tr.engine_total("task_skew"),
    }


def _dir_size(path: str) -> tuple[int, float]:
    files, size = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size / 2**20


# -- wire_tail ---------------------------------------------------------------

SEGMENT_RECEIPTS = 2000  # one segment: 2 s of arrivals at 1,000 receipts/s
STEP_SEGMENTS = 2  # a tail step appends 4 s of arrivals
STEP_S = 10.0  # one timed step per STEP_S of --seconds; a step takes ~18 s


def _seg_name(k: int) -> str:
    return f"seg-{k:06d}.bin"


def wire_tail(ctx: Context) -> Result:
    """Closed-loop tail: each step appends the next pre-encoded segments
    (2 segments, ~12.6k framed records, 5% of each segment's records
    redelivered in the next) to the topic logs and resumes
    ``run_wire_pipeline`` on the same checkpoint and store, then reads
    the store back.  One step per ``STEP_S`` of ``--seconds``; the
    warm-up step creates the checkpoints and the store."""
    from nearscan_kafka_streams_spark.streaming.pipeline import (
        run_wire_pipeline,
    )

    spark, tr = ctx.spark, ctx.tracer
    logs, out, inbox = (os.path.join(ctx.work, d) for d in ("logs", "out", "inbox"))
    n_steps = max(1, int(ctx.seconds // STEP_S))
    with tr.span("bench.stage"):
        segs = gen.wire_segments(ctx.seed, STEP_SEGMENTS * (1 + n_steps),
                                 SEGMENT_RECEIPTS)
        for s in segs:
            s.write(inbox, _seg_name(s.index))
    steps = [segs[i:i + STEP_SEGMENTS] for i in range(0, len(segs), STEP_SEGMENTS)]

    cap = None
    if tr.enabled:
        from nearscan_kafka_streams_spark.streaming.metrics import (
            ProgressCapture,
        )

        cap = ProgressCapture()
        spark.streams.addListener(cap)

    def step(batch) -> list:
        for s in batch:
            for topic in gen.TOPICS:
                name = os.path.join(topic, _seg_name(s.index))
                os.renames(os.path.join(inbox, name), os.path.join(logs, name))
        with tr.span("streaming.run_wire_pipeline", engine=True):
            balances = run_wire_pipeline(spark, logs, out)
        with tr.span("sinks.read_store", engine=True):
            return balances.collect()

    rows = step(steps[0])  # warm-up
    setup_s = time.monotonic() - ctx.t_start
    _phase(ctx, "setup done")
    n_warm_progress = len(cap.rows()) if cap else 0
    tr.phase = "timed"

    latency, cpu, failed = [], [], 0
    with Window(rss=tr.enabled) as w:
        for batch in steps[1:]:
            t, c = time.monotonic(), tree_cpu_s()
            try:
                rows = step(batch)
            except Exception:  # noqa: BLE001 -- counted and reported
                traceback.print_exc()
                failed += 1
                rows = None
            latency.append(time.monotonic() - t)
            cpu.append((tree_cpu_s() - c) / sum(s.records for s in batch))
    tr.phase = "check"
    committed = sum(s.records for s in segs[STEP_SEGMENTS:])

    # checks: the final store equals run_batch and a DuckDB recomputation
    # over everything delivered, and conserves the minted-withdrawn net
    delivered = {t: [r for s in segs for r in s.rows[t]] for t in gen.TOPICS}
    ref_dir = os.path.join(ctx.work, "ref")
    ref.stage_parquet(delivered, ref_dir)
    got = ref.spark_rows(rows) if rows is not None else None
    want = ref.duckdb_balances(ref_dir)
    checks = {
        "store_eq_duckdb": got == want,
        "store_eq_run_batch": got == ref.batch_balances(spark, ref_dir),
        "conservation": got is not None and ref.conserved(got, delivered),
    }
    correct = all(checks.values())
    if not correct:
        failed = n_steps
    _log(f"wire_tail: {n_steps} steps, {committed} records, checks {checks}")

    res = Result(
        correct=correct,
        attempted=n_steps,
        failed=failed,
        metrics={
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(latency),
            "records_per_s": committed / w.wall_s,
            "cpu_us_per_record": statistics.median(cpu) * 1e6,
        },
        detail={"steps": n_steps, "records": committed,
                "accounts": len(want), "window_s": w.wall_s,
                "step_latency_s": latency, "checks": checks},
    )
    if tr.enabled:
        res.layers = _wire_layers(tr, cap, n_warm_progress, out)
        res.layers["process.peak_rss_mb"] = w.peak_rss_mb
    return res


def _wire_layers(tr, cap, n_warm: int, out: str) -> dict[str, float]:
    # progress events arrive asynchronously: wait until they stop coming
    n, deadline = -1, time.monotonic() + 5
    while n != len(cap.rows()) and time.monotonic() < deadline:
        n = len(cap.rows())
        time.sleep(0.5)
    rows = cap.rows()[n_warm:]
    bridge = [r for r in rows if "ForeachBatch" not in r["sink"]["description"]]
    upsert = [r for r in rows if "ForeachBatch" in r["sink"]["description"]]

    def dur(rs, key):
        return sum(r.get("durationMs", {}).get(key, 0) for r in rs)

    def ops(name_part):
        return [o for r in rows for o in r.get("stateOperators") or []
                if name_part in o.get("operatorName", "")]

    def op_ms(os_):
        return sum(o.get("allUpdatesTimeMs", 0) + o.get("allRemovalsTimeMs", 0)
                   + o.get("commitTimeMs", 0) for o in os_)

    dedup = ops("dedupe")
    dropped = sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                  for o in dedup)
    kept = sum(o.get("numRowsUpdated", 0) for o in dedup)
    trigger_ms = dur(rows, "triggerExecution")
    last = {}
    for r in rows:  # latest progress per query
        last[r["id"]] = r
    state_ops = [o for r in last.values() for o in r.get("stateOperators") or []]
    runs = tr.durations("streaming.run_wire_pipeline")
    wall = sum(runs)
    overhead = wall - trigger_ms / 1000
    layers = _common_layers(tr)
    bridge_files, _ = _dir_size(os.path.join(out, "token_transfer"))
    store_files, store_mb = _dir_size(os.path.join(out, "token_balance_store"))
    layers.update({
        "sources.records": sum(r.get("numInputRows", 0) for r in bridge),
        "sources.latest_offset_ms": dur(bridge, "latestOffset"),
        "operators.dedup_ms": op_ms(dedup),
        "operators.dedup_drop_share": dropped / max(1, dropped + kept),
        "operators.joins_ms": op_ms(ops("Join")),
        "operators.balance_ms": op_ms(ops("stateStoreSave")),
        "streaming.runs": len(runs),
        "streaming.triggers": len(rows),
        "streaming.trigger_ms": trigger_ms,
        "streaming.add_batch_ms": dur(bridge, "addBatch"),
        "streaming.query_planning_ms": dur(rows, "queryPlanning"),
        "streaming.wal_commit_ms": dur(rows, "walCommit"),
        "streaming.commit_offsets_ms": dur(rows, "commitOffsets"),
        "streaming.fixed_overhead_s": overhead,
        "streaming.fixed_overhead_share": overhead / wall if wall else 0.0,
        "streaming.state_rows": sum(o.get("numRowsTotal", 0) for o in state_ops),
        "streaming.state_commit_ms": sum(
            o.get("commitTimeMs", 0) for r in rows
            for o in r.get("stateOperators") or []),
        "streaming.state_memory_mb": sum(
            o.get("memoryUsedBytes", 0) for o in state_ops) / 2**20,
        "streaming.bridge_files": bridge_files,
        "sinks.upsert_ms": dur(upsert, "addBatch"),
        "sinks.read_store_s": sum(tr.durations("sinks.read_store")),
        "sinks.store_files": store_files,
        "sinks.store_mb": store_mb,
    })
    return layers


# -- corpus_dedup --------------------------------------------------------------

N_DOCS = 1000
WARM_REPS = 1
REP_S = 2.5  # one timed rep per REP_S of --seconds, at least MIN_REPS
MIN_REPS = 3


def corpus_dedup(ctx: Context) -> Result:
    """Repeated ``jaccard_similarity_join(threshold=0.8)`` and
    ``containment_join(threshold=0.9)`` over a staged seeded corpus with
    20% planted near-duplicates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nearscan_kafka_streams_spark.functions.dedup import (
        containment_join,
        jaccard_similarity_join,
        release_cached,
    )

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("bench.stage"):
        docs, planted = gen.documents(ctx.seed, N_DOCS)
        path = os.path.join(ctx.work, "docs")
        os.makedirs(path)
        pq.write_table(pa.Table.from_pylist(docs),
                       os.path.join(path, "part-0.parquet"))
    corpus = spark.read.parquet(path)

    def pairs(rows) -> frozenset:
        return frozenset((min(r[0], r[1]), max(r[0], r[1])) for r in rows)

    def rep() -> tuple[frozenset, frozenset, dict]:
        stats: dict = {}
        with tr.span("functions.jaccard_similarity_join", engine=True):
            jac = pairs(jaccard_similarity_join(
                corpus, threshold=0.8,
                stats_out=stats if tr.enabled else None).collect())
        with tr.span("functions.containment_join", engine=True):
            con = pairs(containment_join(corpus, threshold=0.9).collect())
        # the joins persist intermediates for the caller to release once
        # the results are consumed; kept, later reps would reuse them
        release_cached()
        return jac, con, stats

    for _ in range(WARM_REPS):
        rep()
    setup_s = time.monotonic() - ctx.t_start
    _phase(ctx, "setup done")
    tr.phase = "timed"

    # a fixed rep count: reps still speed up as the JIT warms, so a count
    # that depended on elapsed time would move the median between runs
    n_reps = max(MIN_REPS, round(ctx.seconds / REP_S))
    walls, cpu, failed, reps, first = [], [], 0, 0, None
    with Window(rss=tr.enabled) as w:
        while reps < n_reps:
            t, c = time.monotonic(), tree_cpu_s()
            try:
                jac, con, stats = rep()
            except Exception:  # noqa: BLE001 -- counted and reported
                traceback.print_exc()
                failed += 1
                reps += 1
                continue
            walls.append(time.monotonic() - t)
            cpu.append(tree_cpu_s() - c)
            reps += 1
            first = first or (jac, con, stats)
            if not (planted <= jac and planted <= con
                    and (jac, con) == first[:2]):
                failed += 1
    tr.phase = "check"
    if first is None:
        raise RuntimeError(f"corpus_dedup: all {reps} reps failed")
    correct = failed == 0
    _log(f"corpus_dedup: {reps} reps, {len(planted)} planted pairs, "
         f"jaccard {len(first[0])} pairs, containment {len(first[1])} pairs, "
         f"failed {failed}")
    p50 = statistics.median(walls)
    res = Result(
        correct=correct,
        attempted=reps,
        failed=failed,
        metrics={
            "setup_s": setup_s,
            "latency_p50_s": p50,
            "records_per_s": N_DOCS / p50,
            "cpu_us_per_record": statistics.median(cpu) / N_DOCS * 1e6,
        },
        detail={"reps": reps, "rep_wall_s": walls, "planted": len(planted),
                "jaccard_pairs": len(first[0]),
                "containment_pairs": len(first[1]), "window_s": w.wall_s},
    )
    if tr.enabled:
        names = ("functions.jaccard_similarity_join",
                 "functions.containment_join")
        cands = first[2].get("n_candidates_distinct", 0)
        res.layers = _common_layers(tr)
        res.layers.update({
            "process.peak_rss_mb": w.peak_rss_mb,
            "functions.jaccard_s": statistics.median(tr.durations(names[0])),
            "functions.containment_s": statistics.median(tr.durations(names[1])),
            "functions.cpu_s": tr.engine_total("cpu_s", names) / reps,
            "functions.shuffle_mb": tr.engine_total("shuffle_mb", names) / reps,
            "functions.candidates": cands,
            "functions.pairs": len(first[0]),
            "functions.pair_share": len(first[0]) / cands if cands else 0.0,
        })
    return res


ALL = {"wire_tail": wire_tail, "corpus_dedup": corpus_dedup}
