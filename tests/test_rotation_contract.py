"""Rotation-contract lint: the driver hash-samples the FIRST ~50
QUERIES entries each round, so dict order IS the verification
schedule.  These tests pin the standing contract (reverify lane
first, then new, then changed, then the oldest-green backlog /
oldest-green fill) so a stray re-registration can't silently push an
unverified entry out of the driver's sampling window.  Round-13 lanes
are the current front; the tail follows registration order."""

from __future__ import annotations

import pytest

from nearscan_kafka_streams_spark import queries as Q
from nearscan_kafka_streams_spark.queries._base import REGISTERED, register


def _front():
    return (
        list(Q._REVERIFY_R13)
        + list(Q._ROUND13_NEW)
        + list(Q._CHANGED_R13)
        + list(Q._STALE_R13)
    )


def test_front_lanes_lead_the_registry_in_order():
    front = _front()
    keys = list(Q.QUERIES)
    assert keys[: len(front)] == front


def test_round13_front_is_exactly_the_sample_budget():
    # 25 changed + 25 round-8-green = 50: the round-12 verdict (item 1)
    # mandates fronting every round-12-changed query path -- the
    # dense-regime bitmap joins, the rank fuse, and the _spread set
    # shipped with only self-reported oracle greens -- so this round
    # the changed lane takes priority over cohort progress (the one
    # leftover round-8 entry, vocab_topk, carries to round 14)
    front = _front()
    assert len(front) == 50
    assert len(Q._CHANGED_R13) == 25
    assert len(Q._STALE_R13) == 25


def test_changed_lane_covers_the_round12_replans():
    # round-12 verdict item 1: the dense-regime bitmap all-pairs
    # family (producer + staged consumers + pipelines), the
    # global-rank total-count fuse consumers, and the _spread
    # starvation-fix set must all be driver hash-verified this round
    changed = set(Q._CHANGED_R13)
    assert {
        "dedup_ngram_jaccard",
        "dedup_ngram_containment",
        "dedup_clusters",
        "dedup_threshold_sweep",
        "corpus_clean_pipeline",
        "corpus_curate_pipeline",
        "rfm_segments_customers",
        "trimmed_mean_lineitem",
        "percentiles_global_lineitem",
        "equidepth_histogram_orders",
        "scan_pruning_audit_lineitem",
        "ann_pq_cosine",
        "ann_ivf_cosine",
        "quality_model_score",
    } <= changed


def test_every_front_entry_is_oracle_checked():
    # a fronted entry without an oracle burns a sample slot on a
    # rows-only check, so the front stays oracle-bearing -- with the
    # round-13 documented exception: the round-12 verdict (item 1)
    # explicitly fronts the two approximate-ANN entries whose plans
    # changed (_spread on the encode/cell-assignment scans); they are
    # rows-only BY CONTRACT (approximate recall has no SQL oracle)
    rows_only_ok = {"ann_pq_cosine", "ann_ivf_cosine"}
    for name in _front():
        assert name in Q.ORACLES or name in rows_only_ok, (
            f"{name} fronted without an oracle"
        )


def test_driver_budget_arithmetic_documented():
    # steady-state rounds keep new+changed bounded so >= 39 sample
    # slots land on oldest-green re-verifications.  Round 13 is the
    # documented exception: the round-12 verdict (item 1) mandates
    # fronting all 25 round-12-changed paths, so the bound this round
    # is 25; revert to <= 12 once the backlog is clear.
    n_front = (
        len(Q._REVERIFY_R13) + len(Q._ROUND13_NEW) + len(Q._CHANGED_R13)
    )
    assert n_front <= 25, (
        f"{n_front} new/changed entries would crowd the stale "
        "re-verification batch out of the driver's ~50-row budget"
    )


def test_register_rejects_a_duplicate_name():
    # a second query under an existing name would silently replace the
    # first (and its oracle); registration refuses it instead
    def twap_events(spark, sf_dir):
        raise AssertionError("never called")

    before = dict(REGISTERED)
    with pytest.raises(ValueError, match="twap_events"):
        register(twap_events, oracle="SELECT 1")
    assert REGISTERED == before
