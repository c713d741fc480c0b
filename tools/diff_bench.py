"""Bench-to-bench diff of two BENCH_PLANS_r{NN}.json side files:
per-query time deltas + physical-plan drift, failing LOUDLY (exit 2)
on plan-shape regressions.

Usage: python tools/diff_bench.py OLD.json NEW.json

Regressions that trip the nonzero exit (PLAN-SHAPE ONLY):
  - a broadcast join lost to sort-merge (broadcast count down, SMJ up)
  - new python_eval nodes (a built-in expression fell back to Python)
  - new nested-loop joins
Timing deltas are reported as prose WARNINGs but never affect the exit
code: per-query run-to-run variance on this box is up to 4x on
sub-second queries, so a timing-based exit would cry wolf and train
readers to ignore exit 2.  Plan fingerprints are deterministic --
drift there is a real signal.
Other plan drift (exchange counts, scan counts) is reported but
informational -- AQE and staged persists legitimately move those.

Timings on both sides are the bench's one reading per query (min of
its reps, bench.py module docstring).  Plan fingerprints count
DISTINCT plan nodes, cached lineage excluded (SCALE.md).
"""

from __future__ import annotations

import json
import sys


def _load(path: str) -> tuple[dict, dict, float | None]:
    with open(path) as fh:
        d = json.load(fh)
    return d.get("queries") or {}, d.get("plans") or {}, d.get("total_sec")


def main() -> int:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    oq, op, oval = _load(sys.argv[1])
    nq, np_, nval = _load(sys.argv[2])

    regressions: list[str] = []
    print(f"total: {oval} -> {nval} s")
    # every query either side timed or plan-fingerprinted
    for name in sorted(set(oq) | set(nq) | set(op) | set(np_)):
        known_old = name in oq or name in op
        known_new = name in nq or name in np_
        if not known_old:
            print(f"  + {name}: {nq.get(name, '?')} s (new)")
            continue
        if not known_new:
            print(f"  - {name}: removed (was {oq.get(name, '?')} s)")
            continue
        a, b = oq.get(name), nq.get(name)
        notes: list[str] = []
        if a is not None and b is not None and b > a * 1.25 and b - a > 0.5:
            # timing-only: warn, never exit nonzero (4x run-to-run
            # variance on sub-second queries makes this pure noise)
            notes.append(f"WARN slower {a} -> {b} s (timing only)")
        if name in op and name in np_ and op[name] != np_[name]:
            o, n = op[name], np_[name]
            changed = {
                k: (o.get(k), n.get(k))
                for k in set(o) | set(n)
                if o.get(k) != n.get(k)
            }
            notes.append(f"plan drift: {changed}")
            if n.get("broadcast_hash_join", 0) < o.get(
                "broadcast_hash_join", 0
            ) and n.get("sort_merge_join", 0) > o.get("sort_merge_join", 0):
                regressions.append(f"{name}: broadcast join lost to SMJ")
            if n.get("python_eval", 0) > o.get("python_eval", 0):
                regressions.append(f"{name}: new python_eval nodes")
            if n.get("nested_loop_join", 0) > o.get("nested_loop_join", 0):
                regressions.append(f"{name}: new nested-loop join")
        if notes:
            print(f"  {name}: {a} -> {b} s  " + "; ".join(notes))

    if regressions:
        print("\nREGRESSIONS:")
        for r in regressions:
            print(f"  !! {r}")
        return 2
    print("\nno regressions")
    return 0


if __name__ == "__main__":
    sys.exit(main())
