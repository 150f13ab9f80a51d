"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from checks import check_routes  # noqa: E402
from flowgen import (  # noqa: E402
    TICK_STRIDE,
    flow_events,
    raw_columns,
    raw_days,
    reference_model,
)
from spans import percentile, self_times, supported_tail, tail  # noqa: E402


# -- generators -------------------------------------------------------------


def test_flow_events_deterministic_per_seed():
    a = flow_events(7, 1, n_ticks=3, per_tick=200)
    b = flow_events(7, 1, n_ticks=3, per_tick=200)
    c = flow_events(8, 1, n_ticks=3, per_tick=200)
    assert a.ticks == b.ticks
    assert np.array_equal(a.features, b.features)
    assert a.ticks != c.ticks
    assert a.ticks != flow_events(7, 2, n_ticks=3, per_tick=200).ticks


def test_flow_events_ground_truth():
    ev = flow_events(3, 1, n_ticks=4, per_tick=500, malformed_share=0.05)
    truth = ev.truth()
    assert truth["total"] == 2000 == truth["valid"] + truth["malformed"]
    assert truth["malformed"] > 0
    assert sum(truth["label_mix"].values()) == truth["valid"]
    # the creation tick is recoverable from the id alone
    assert set(np.unique(ev.event_ids // TICK_STRIDE)) == {0, 1, 2, 3}
    for k, (first, last) in truth["tick_to_event_ids"].items():
        assert first // TICK_STRIDE == last // TICK_STRIDE == k
    # well-formed lines are JSON whose features parse back exactly
    import json

    ids = set(ev.event_ids.tolist())
    for line in ev.ticks[0][:50]:
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            continue
        assert int(rec["event_id"]) in ids


def test_raw_days_deterministic_and_truth():
    a = raw_days(5, 400, n_files=4)
    assert a.files == raw_days(5, 400, n_files=4).files
    assert a.files != raw_days(6, 400, n_files=4).files
    t = a.truth
    lines = [ln for f in a.files for ln in f.splitlines()[1:]]
    assert len(lines) == t["total"] == t["distinct"] + t["duplicates"]
    assert len(set(lines)) == t["distinct"]
    sentinel = [ln for ln in set(lines) if "Infinity" in ln or "NaN" in ln]
    assert len(sentinel) == t["sentinels"]
    assert t["kept"] == t["distinct"] - t["sentinels"]
    assert a.files[0].splitlines()[0].split(",") == raw_columns()
    assert len(raw_columns()) == 79


def test_reference_model_deterministic():
    a, b = reference_model(4), reference_model(4)
    assert np.array_equal(a.theta, b.theta) and a.threshold == b.threshold
    assert reference_model(5).threshold != a.threshold


# -- percentile helper --------------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    assert supported_tail(1000) == 99.0
    assert supported_tail(999) == 95.0  # 9.99 samples beyond p99
    assert supported_tail(200) == 95.0
    assert supported_tail(100) == 90.0
    assert supported_tail(20) == 50.0
    assert supported_tail(19) is None
    assert tail([1.0, 2.0, 3.0]) == ("max", 3.0)
    label, v = tail(list(range(1000)))
    assert label == "p99" and v == pytest.approx(np.percentile(range(1000), 99))


def test_percentile_matches_numpy():
    xs = np.random.default_rng(0).random(101)
    for q in (0, 25, 50, 90, 99, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_self_time_subtracts_children():
    spans = [
        {"id": 1, "parent": None, "name": "streaming.pipeline.micro_batch", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "ml.pipeline.score", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "sources.sink_write.alert", "start": 3.0, "end": 6.0},
    ]
    t = self_times(spans)
    assert t["streaming.pipeline"]["self_s"] == pytest.approx(5.0)  # 10 - union(1..6)
    assert t["ml.pipeline"]["self_s"] == pytest.approx(3.0)
    assert t["sources"]["calls"] == 1


# -- output checker -----------------------------------------------------------


@pytest.fixture(scope="module")
def routed():
    model = reference_model(11)
    ev = flow_events(11, 1, n_ticks=2, per_tick=300)
    scores = model.scores(ev.features)
    pred = np.where(scores > model.threshold, "anomaly", "normal").astype(object)
    sink = np.where(pred == "anomaly", "alert", "normal").astype(object)
    return model, ev, ev.event_ids.copy(), scores, pred, sink


def _check(model, ev, ids, scores, pred, sink, dlq=None):
    return check_routes(
        model, ev.event_ids, ev.features, ev.malformed, ids, scores, pred, sink,
        ev.malformed if dlq is None else dlq,
    )


def test_checker_accepts_correct_routes(routed):
    res = _check(*routed)
    assert res.failed == 0
    assert res.attempted == routed[1].total
    assert res.judged > 0


def test_checker_catches_flipped_route(routed):
    model, ev, ids, scores, pred, sink = routed
    i = int(np.argmax(np.abs(scores - model.threshold)))  # far from the threshold
    pred, sink = pred.copy(), sink.copy()
    pred[i] = "normal" if pred[i] == "anomaly" else "anomaly"
    sink[i] = "alert" if pred[i] == "anomaly" else "normal"
    res = _check(model, ev, ids, scores, pred, sink)
    assert res.failures["wrong_route"] == 1 and res.failed == 1


def test_checker_catches_lost_row(routed):
    model, ev, ids, scores, pred, sink = routed
    keep = np.arange(len(ids)) != 5
    res = _check(model, ev, ids[keep], scores[keep], pred[keep], sink[keep])
    assert res.failures["lost"] == 1 and res.failed == 1


def test_checker_catches_duplicated_row(routed):
    model, ev, ids, scores, pred, sink = routed
    idx = np.r_[np.arange(len(ids)), 7]
    res = _check(model, ev, ids[idx], scores[idx], pred[idx], sink[idx])
    assert res.failures["duplicated"] == 1 and res.failed == 1


def test_checker_catches_dlq_and_sink_mismatch(routed):
    model, ev, ids, scores, pred, sink = routed
    assert _check(model, ev, ids, scores, pred, sink, dlq=ev.malformed + 2).failures["dlq_mismatch"] == 2
    sink = sink.copy()
    sink[0] = "alert" if sink[0] == "normal" else "normal"
    assert _check(model, ev, ids, scores, pred, sink).failures["wrong_sink"] == 1
