"""The bench stdout contract: the driver tail-reads ~2 KB of stdout,
splits on newlines, and ``json.loads`` the FINAL line.  Rounds 2-4 lost
their bench numbers because the final line embedded ~90 per-query
timings (~3.3 KB) and overflowed that window -- this test simulates the
driver's exact parse against a worst-case-sized suite so the line can
never regress past the window again.  Also pins the bench's one
measurement rule for topology legs (``run_leg``) on a fake clock."""

from __future__ import annotations

import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, final_line  # noqa: E402


def _driver_tail_parse(stdout: str) -> dict:
    """What the round driver does: keep the last 2000 bytes, take the
    final non-empty line, json.loads it."""
    tail = stdout.encode()[-2000:].decode(errors="replace")
    lines = [ln for ln in tail.splitlines() if ln.strip()]
    return json.loads(lines[-1])


def test_final_line_fits_driver_tail_window():
    # worst case: every headline query timed, long names, plus a pile of
    # errors and noisy preceding stdout (Spark WARN spew)
    timings = {name: 123.456 for name in HEADLINE}
    timings.update({f"extra_query_with_a_long_name_{i:03d}": 9.99 for i in range(40)})
    errors = {f"err_query_{i}": "SomeException: boom" for i in range(20)}

    line = final_line(timings, errors, 0.1)
    assert len(line.encode()) < 500, f"final line is {len(line)} bytes"

    noise = "\n".join(f"26/08/14 12:00:{i:02d} WARN Executor: spill {i}" for i in range(60))
    stdout = noise + "\n" + line + "\n"

    parsed = _driver_tail_parse(stdout)
    assert parsed["metric"] == "headline-suite wall time"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    assert parsed["n_queries"] == len(timings)
    assert parsed["error_count"] == len(errors)
    assert isinstance(parsed["value"], float)
    # the per-query dict must NOT be on the line -- it lives in the side file
    assert "queries" not in parsed
    assert "stress_10x_ratio" not in parsed


def test_final_line_zero_queries_still_parses():
    parsed = json.loads(final_line({}, {}, "0.01"))
    assert parsed["value"] == 0 and parsed["n_queries"] == 0


def _fake_leg(monkeypatch, walls: dict, fail_on: str | None = None):
    """A Spark-free ``run(tag)`` on a fake clock: each call advances the
    clock by ``walls[tag]`` and logs its tag."""
    import types

    import bench

    clock = [0.0]
    calls: list[str] = []
    monkeypatch.setattr(
        bench, "time", types.SimpleNamespace(perf_counter=lambda: clock[0])
    )

    def run(tag):
        calls.append(tag)
        clock[0] += walls[tag]
        if tag == fail_on:
            raise RuntimeError("leg failed")

    return run, calls


def test_run_leg_warms_once_untimed_then_keeps_min_of_reps(monkeypatch):
    from bench import REPS, run_leg

    assert REPS == 2
    # the warm-up is the slowest call: a timed warm-up would show as 100
    run, calls = _fake_leg(monkeypatch, {"warm": 100.0, "0": 5.0, "1": 2.5})
    timings: dict = {}
    errors: dict = {}
    run_leg(timings, errors, "leg", run)
    assert calls == ["warm", "0", "1"]
    assert timings == {"leg": 2.5} and errors == {}


def test_run_leg_records_a_failure_as_an_error_not_a_timing(monkeypatch):
    from bench import run_leg

    run, calls = _fake_leg(
        monkeypatch, {"warm": 1.0, "0": 1.0, "1": 1.0}, fail_on="0"
    )
    timings: dict = {}
    errors: dict = {}
    run_leg(timings, errors, "leg", run)
    assert calls == ["warm", "0"]
    assert timings == {}
    assert errors == {"leg": "RuntimeError: leg failed"}


def test_every_headline_entry_is_registered():
    from nearscan_kafka_streams_spark.queries import QUERIES

    missing = [n for n in HEADLINE if n not in QUERIES]
    assert not missing, missing


def test_every_registry_family_has_a_headline_member():
    """The HEADLINE selection rule (bench.py module docstring) excludes
    cheap siblings, never whole families: each FAMILY_PATTERNS family
    must keep at least one timed representative, so adding a new
    capability family without benching it fails this lint."""
    from collections import defaultdict

    from bench import family_of
    from nearscan_kafka_streams_spark.queries import QUERIES

    members = defaultdict(list)
    for name in QUERIES:
        members[family_of(name)].append(name)
    timed = set(HEADLINE)
    unbenched = {
        fam: ms
        for fam, ms in members.items()
        if not any(m in timed for m in ms)
    }
    assert not unbenched, unbenched


def test_staged_edge_consumers_directly_follow_producer():
    """The staged Jaccard edge frame must stay alive only across the
    family (clearCache is suppressed while it is staged), so the three
    consumers must sit immediately after dedup_ngram_jaccard."""
    i = HEADLINE.index("dedup_ngram_jaccard")
    assert HEADLINE[i + 1 : i + 4] == [
        "dedup_clusters",
        "dedup_clusters_star",
        "dedup_cluster_census",
    ]
