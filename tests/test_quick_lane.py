"""Lint for the quick/slow suite split (tests/slow_tests.txt).

The split is measurement-derived data, not source annotations, so a
rename or deletion could silently strand an id in the list (the test
would quietly fall back into the quick lane under a different id, or
the list would rot).  These checks keep the data file honest without
spawning a nested pytest collection.
"""

from __future__ import annotations

import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))

# files whose every test is measured-slow; each must name the quick
# files that keep its operator family covered in the inner loop
ALL_SLOW_COVERED_BY = {
    "test_additive_store.py": ["test_upsert_sink.py"],
    "test_avro_fuzz.py": ["test_avro_wire.py"],
    "test_metrics_listener.py": ["test_plans.py"],
    "test_training_prep_properties.py": ["test_training_prep.py"],
    "test_balance_properties.py": ["test_bigint_exact.py", "test_pipeline_batch.py"],
    "test_graph_cluster_properties.py": ["test_clustering.py", "test_graph_ts.py"],
    "test_sampling_properties.py": ["test_sampling_mixture.py"],
    "test_selection_properties.py": ["test_selection_ops.py"],
    "test_streaming.py": ["test_streaming_window.py", "test_streaming_quality.py"],
    "test_wire_pipeline.py": ["test_avro_wire.py", "test_python_datasource.py"],
}


def _slow_lines() -> list[str]:
    with open(os.path.join(HERE, "slow_tests.txt")) as fh:
        return [
            line.strip()
            for line in fh
            if line.strip() and not line.startswith("#")
        ]


def test_slow_list_ids_resolve_to_existing_tests():
    for nodeid in _slow_lines():
        parts = nodeid.split("::")
        fname = os.path.basename(parts[0])
        fpath = os.path.join(HERE, fname)
        assert os.path.exists(fpath), f"{nodeid}: file gone"
        # last segment is the test function (methods are indented defs)
        func = re.sub(r"\[.*\]$", "", parts[-1])
        with open(fpath) as fh:
            src = fh.read()
        assert re.search(rf"^\s*def {re.escape(func)}\(", src, re.M), (
            f"{nodeid}: function renamed or removed"
        )


def _fully_slow_files() -> set[str]:
    """Files whose every test def is slow-listed (bracket-free lines
    only -- a bracketed id marks ONE param of a def slow; its sibling
    params stay quick)."""
    from collections import Counter

    per_file = Counter(
        os.path.basename(line.split("::")[0]) for line in _slow_lines()
    )
    out: set[str] = set()
    for fname in per_file:
        src = open(os.path.join(HERE, fname)).read()
        n_tests = len(re.findall(r"^\s*def test_", src, re.M))
        slow_defs = {
            line.split("::")[-1]
            for line in _slow_lines()
            if os.path.basename(line.split("::")[0]) == fname
            and "[" not in line
        }
        if len(slow_defs) >= n_tests:
            out.add(fname)
    return out


def test_all_slow_files_keep_family_coverage_quick():
    fully_slow = _fully_slow_files()
    for fname in fully_slow:
        assert fname in ALL_SLOW_COVERED_BY, (
            f"{fname} is entirely slow-marked with no declared "
            "quick-lane family coverage"
        )
        for cover in ALL_SLOW_COVERED_BY[fname]:
            assert os.path.exists(os.path.join(HERE, cover)), (
                f"{fname}: declared coverage file {cover} missing"
            )
            # a cover file that is itself fully slow contributes zero
            # quick tests -- the guarantee would be vacuously
            # satisfiable
            assert cover not in fully_slow, (
                f"{fname}: coverage file {cover} is itself fully "
                "slow-marked -- point at a file with quick tests"
            )
