"""Round-6 seventh-wave queries: gaps-and-islands, week-over-week
deltas, consecutive-day activity streaks.  Engine-free Python
recomputation on sf0.001 (the DuckDB oracle covers cross-engine
equality at sf0.01).
"""

from __future__ import annotations

import math
from collections import defaultdict
from datetime import timedelta

from nearscan_kafka_streams_spark.queries._base import _t
from nearscan_kafka_streams_spark.queries.round6 import (
    activity_streaks_users,
    gap_islands_events,
    wow_change_events,
)


def _tdiv(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def test_gap_islands_match_bruteforce(spark, sf_dir):
    rows = [
        (r["user_id"], r["ts"], r["event_id"], r["event_type"])
        for r in _t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ]
    per: dict[int, list] = defaultdict(list)
    for u, ts, eid, et in rows:
        per[u].append((ts, eid, et))
    got = {r["user_id"]: r for r in gap_islands_events(spark, sf_dir).collect()}
    assert set(got) == set(per)
    for u, evs in per.items():
        evs.sort()
        runs = []
        for _, _, et in evs:
            if not runs or runs[-1][0] != et:
                runs.append([et, 0])
            runs[-1][1] += 1
        assert got[u]["n_islands"] == len(runs)
        assert got[u]["longest_run"] == max(n for _, n in runs)
        assert got[u]["n_events"] == len(evs)
    # the change-point structure must be non-trivial somewhere
    assert any(r["n_islands"] > 1 for r in got.values())


def test_wow_change_matches_bruteforce(spark, sf_dir):
    rows = [
        (
            r["event_type"],
            (r["ts"] - timedelta(days=r["ts"].weekday())).date(),
            int(math.floor(r["value"] * 100 + 0.5)),
        )
        for r in _t(spark, sf_dir, "events")
        .select("event_type", "ts", "value")
        .collect()
    ]
    weekly: dict[tuple, list[int]] = defaultdict(lambda: [0, 0])
    for et, wk, qv in rows:
        weekly[(et, wk)][0] += 1
        weekly[(et, wk)][1] += qv
    got = wow_change_events(spark, sf_dir).collect()
    by_type: dict[str, list] = defaultdict(list)
    for (et, wk), (n, v) in weekly.items():
        by_type[et].append((wk, n, v))
    want = {}
    for et, weeks in by_type.items():
        weeks.sort()
        for (pw, pn, pv), (cw, cn, cv) in zip(weeks, weeks[1:]):
            want[(et, cw)] = (
                cn,
                cv,
                cn - pn,
                _tdiv((cn - pn) * 1000, pn),
                _tdiv((cv - pv) * 1000, pv),
            )
    assert len(got) == len(want)
    for r in got:
        key = (r["event_type"], r["week"].date())
        n, v, nd, ncm, vcm = want[key]
        assert (
            r["n"],
            r["value_centi"],
            r["n_delta"],
            r["n_change_milli"],
            r["value_change_milli"],
        ) == (n, v, nd, ncm, vcm)


def test_activity_streaks_match_bruteforce(spark, sf_dir):
    rows = [
        (r["user_id"], r["ts"].date())
        for r in _t(spark, sf_dir, "events").select("user_id", "ts").collect()
    ]
    per: dict[int, set] = defaultdict(set)
    for u, d in rows:
        per[u].add(d)
    got = {
        r["user_id"]: r for r in activity_streaks_users(spark, sf_dir).collect()
    }
    assert set(got) == set(per)
    for u, days in per.items():
        ds = sorted(days)
        streaks = []
        for d in ds:
            if streaks and (d - streaks[-1][-1]).days == 1:
                streaks[-1].append(d)
            else:
                streaks.append([d])
        assert got[u]["longest_streak"] == max(len(s) for s in streaks)
        assert got[u]["active_days"] == len(ds)
        assert got[u]["n_streaks"] == len(streaks)
    # multi-day streaks must exist on a 30-day corpus
    assert any(r["longest_streak"] > 1 for r in got.values())
