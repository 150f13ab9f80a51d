"""Output checks: the detector's routed rows against a numpy reference.

Every check returns failure counts; the benchmark adds them to its
``failed`` total, so any lost, duplicated, unexpected or mis-routed flow
makes the run incorrect.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

#: flows whose reference score is this close to the threshold may land on
#: either side through float summation order; they are not judged
THRESHOLD_GUARD = 1e-9
#: relative tolerance between the engine's and the reference's score
SCORE_RTOL = 1e-9


@dataclass
class RouteCheck:
    attempted: int = 0
    failures: dict[str, int] = field(default_factory=dict)
    judged: int = 0

    @property
    def failed(self) -> int:
        return sum(self.failures.values())


def check_routes(
    model,
    truth_ids: np.ndarray,
    truth_features: np.ndarray,
    malformed: int,
    sink_ids: np.ndarray,
    sink_scores: np.ndarray,
    sink_predictions: np.ndarray,
    sink_names: np.ndarray,
    dlq_rows: int,
) -> RouteCheck:
    """Normal + alert + DLQ must account for every generated flow exactly
    once, each routed flow must sit in the sink its prediction names, and its
    score and route must match ``model`` (a ``flowgen.ReferenceModel``)
    recomputed from the generated features."""
    res = RouteCheck(attempted=len(truth_ids) + malformed)
    f = res.failures

    ids, first, counts = np.unique(sink_ids, return_index=True, return_counts=True)
    f["duplicated"] = int((counts - 1).sum())
    present = np.isin(truth_ids, ids)
    f["lost"] = int((~present).sum())
    f["unexpected"] = int((~np.isin(ids, truth_ids)).sum())
    f["dlq_mismatch"] = abs(int(dlq_rows) - int(malformed))
    expected_sink = np.where(sink_predictions == "anomaly", "alert", "normal")
    f["wrong_sink"] = int((expected_sink != sink_names).sum())

    # judge each routed flow once (first occurrence)
    order = np.argsort(truth_ids)
    tid = truth_ids[order]
    pos = np.searchsorted(tid, ids)
    known = (pos < len(tid)) & (tid[np.minimum(pos, len(tid) - 1)] == ids)
    rows = order[pos[known]]
    ref = model.scores(truth_features[rows])
    got = sink_scores[first[known]]
    pred = sink_predictions[first[known]]
    ref_pred = np.where(ref > model.threshold, "anomaly", "normal")
    judged = np.abs(ref - model.threshold) > THRESHOLD_GUARD
    res.judged = int(judged.sum())
    f["wrong_route"] = int(((pred != ref_pred) & judged).sum())
    f["wrong_score"] = int(
        (~np.isclose(got, ref, rtol=SCORE_RTOL, atol=SCORE_RTOL)).sum()
    )
    return res


def check_offline(truth: dict, rows_in: int, rows_train: int, rows_eval: int,
                  train_z: np.ndarray, losses: list[float], production: dict | None) -> RouteCheck:
    """Offline pipeline: row counts equal the generator's ground truth,
    train z-scores have mean ~0 and std ~1 per feature, the training loss
    decreased, and a Production model version exists."""
    res = RouteCheck(attempted=6)
    f = res.failures
    f["rows_in"] = int(rows_in != truth["total"])
    f["rows_kept"] = int(rows_train + rows_eval != truth["kept"])
    mean = train_z.mean(axis=0) if len(train_z) else np.array([np.inf])
    std = train_z.std(axis=0) if len(train_z) else np.array([np.inf])
    f["z_mean"] = int(not np.all(np.abs(mean) < 1e-6))
    f["z_std"] = int(not np.all(np.abs(std - 1.0) < 1e-6))
    f["loss"] = int(not (len(losses) >= 2 and losses[-1] < losses[0]))
    f["production"] = int(production is None)
    return res
