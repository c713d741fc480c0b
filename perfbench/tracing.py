"""Measurement plumbing: process-tree CPU and RSS from ``/proc``, engine
counters from the Spark status store, and an in-memory span recorder for
the traced run.

The recorder keeps spans (name, start, end, parent, phase, run id, and
the engine counters of the stages each span ran) in memory and writes
them, with the workload's per-layer counters, as one JSON file at exit.
Spans are taken around the benchmark's calls into the library's public
functions; nothing inside the library is instrumented.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, stat fields after the command name)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited while we looked
        fields = raw[raw.rfind(")") + 2:].split()
        table[int(d)] = (int(fields[1]), fields)
    return table


def _tree(root: int, table) -> list[list[str]]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(table[pid][1])
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and all its descendants
    (the JVM and its Python workers), reaped children included."""
    fields = _tree(os.getpid(), _proc_table())
    ticks = sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for f in fields)
    return ticks / _CLK


def tree_rss_mb() -> float:
    fields = _tree(os.getpid(), _proc_table())
    return sum(int(f[21]) for f in fields) * _PAGE / 2**20


class Window:
    """The timed window: wall, process-tree CPU and, with ``rss``, peak
    RSS, sampled every 0.25 s on a thread, so only the traced run pays
    for it."""

    def __init__(self, rss: bool):
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True) if rss else None

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())
            self._stop.wait(0.25)

    def __enter__(self) -> Window:
        if self._sampler:
            self._sampler.start()
        self.cpu0 = tree_cpu_s()
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.monotonic() - self.t0
        self.cpu_s = tree_cpu_s() - self.cpu0
        if self._sampler:
            self._stop.set()
            self._sampler.join(timeout=10)


# -- engine counters -------------------------------------------------------


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class StageCounters:
    """Executor counters of the Spark stages completed since ``mark()``,
    read from the status store over py4j (works with the UI off)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._last = self._max_stage_id()

    def _stages(self, summaries: bool):
        gw = self._sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        return _seq(self._store.stageList(None, False, summaries, quantiles, None))

    def _max_stage_id(self) -> int:
        return max((s.stageId() for s in self._stages(False)), default=-1)

    def mark(self) -> None:
        self._last = self._max_stage_id()

    def since_mark(self) -> dict:
        new = [s for s in self._stages(True) if s.stageId() > self._last]
        self._last = max([self._last, *(s.stageId() for s in new)])
        out = {
            "stages": len(new),
            "tasks": sum(s.numCompleteTasks() for s in new),
            "cpu_s": sum(s.executorCpuTime() for s in new) / 1e9,
            "run_s": sum(s.executorRunTime() for s in new) / 1e3,
            "gc_s": sum(s.jvmGcTime() for s in new) / 1e3,
            "shuffle_mb": sum(s.shuffleWriteBytes() for s in new) / 2**20,
            "spill_mb": sum(s.diskBytesSpilled() for s in new) / 2**20,
            "task_skew": 1.0,
        }
        # skew of the stage that ran longest: max / median task time
        busiest = max(new, key=lambda s: s.executorRunTime(), default=None)
        if busiest is not None and busiest.taskMetricsDistributions().isDefined():
            q = _seq(busiest.taskMetricsDistributions().get().executorRunTime())
            if len(q) == 2 and q[0] > 0:
                out["task_skew"] = q[1] / q[0]
        return out


# -- spans -----------------------------------------------------------------


class Tracer:
    """Spans in memory; a disabled tracer records nothing and costs one
    attribute check per span."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent inside tracing bookkeeping
        self.phase = "setup"  # stamped on each span: setup, timed or check
        self._stack: list[int] = []
        self._engine: StageCounters | None = None

    def attach_engine(self, spark) -> None:
        if self.enabled:
            t = time.monotonic()
            self._engine = StageCounters(spark)
            self.overhead_s += time.monotonic() - t

    @contextmanager
    def span(self, name: str, engine: bool = False):
        """Record ``name`` around the block.  With ``engine``, attach the
        executor counters of the stages that ran inside it."""
        if not self.enabled:
            yield None
            return
        t = time.monotonic()
        if engine and self._engine is not None:
            self._engine.mark()
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "phase": self.phase,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.overhead_s += time.monotonic() - t
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            t = time.monotonic()
            self._stack.pop()
            if engine and self._engine is not None:
                rec["engine"] = self._engine.since_mark()
            self.overhead_s += time.monotonic() - t

    def durations(self, name: str, phase: str = "timed") -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["phase"] == phase]

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def engine_total(self, key: str, names: tuple[str, ...] | None = None) -> float:
        """Engine counter ``key`` summed over the timed spans (median for
        ``task_skew``)."""
        vals = [
            s["engine"][key]
            for s in self.spans
            if "engine" in s and s["phase"] == "timed"
            and (names is None or s["name"] in names)
        ]
        if key == "task_skew":
            return statistics.median(vals) if vals else 1.0
        return sum(vals)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its child spans
        cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans,
                 "self_s": self.self_times(), **extra},
                fh, indent=1, default=str,
            )
