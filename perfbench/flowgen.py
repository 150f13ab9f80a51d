"""Seeded CICIDS2017-shaped inputs, their ground truth, and the numpy
reference detector.

Everything here is a pure function of the seed: the same seed gives the
same bytes. Two input shapes are produced:

- flow events: JSON lines in the 65-feature ``flow_event_ddl()`` schema
  (~2 KB each), grouped into one file per generator tick. ``event_id``
  encodes the tick (``tick * TICK_STRIDE + seq``), so an event's creation
  time is recoverable from its id alone;
- raw day files: CSV with the reference dataset's pathologies (dirty
  headers, the 14 drop columns, ``Infinity``/``NaN`` sentinels, exact
  duplicate rows, raw label spellings).

The reference detector (scaler stats, 64-64-16-64-64 autoencoder weights
and threshold) comes from a seeded benign sample and is computed in numpy,
independently of the package under test.
"""

from __future__ import annotations

import json
from collections import Counter
from dataclasses import dataclass

import numpy as np

from end_to_end_data_engineering_and_ml_system_spark.operators.flows_etl import (
    DROP_COLUMNS,
)
from end_to_end_data_engineering_and_ml_system_spark.streaming.schemas import (
    FLOW_FEATURES,
    MODEL_FEATURES,
)

#: event_id = tick * TICK_STRIDE + sequence number within the tick
TICK_STRIDE = 100_000

BENIGN = "BENIGN"
ATTACK_LABELS = (
    "DoS Hulk",
    "DDoS",
    "PortScan",
    "DoS GoldenEye",
    "FTP-Patator",
    "SSH-Patator",
    "Bot",
    "Web Attack - Brute Force",
)

_MODEL_IDX = np.array([FLOW_FEATURES.index(c) for c in MODEL_FEATURES])

# random streams derived from one seed; each input draws from its own
_SCALES, _SAMPLE, _MODEL, _CSV = 0, 1, 2, 3


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _scales(seed: int) -> np.ndarray:
    """Per-feature magnitudes spanning 1 to 10^4, as flow features do."""
    return 10.0 ** _rng(seed, _SCALES).uniform(0.0, 4.0, size=len(FLOW_FEATURES))


def _milli(x: np.ndarray) -> np.ndarray:
    """Round to 3 decimals so that ``'%.3f'`` text parses back to exactly
    these doubles (both sides round k/1000 to the nearest double)."""
    return np.rint(x * 1000.0) / 1000.0


def _flows(rng: np.random.Generator, n: int, scales: np.ndarray, attack: np.ndarray) -> np.ndarray:
    """Benign rows are gamma-distributed per feature; attack-shaped rows
    inflate 8 random features by 4-12x."""
    x = rng.gamma(2.0, 1.0, size=(n, len(scales))) * scales
    rows = np.flatnonzero(attack)
    if len(rows):
        cols = np.argsort(rng.random((len(rows), len(scales))), axis=1)[:, :8]
        factor = rng.uniform(4.0, 12.0, size=(len(rows), 8))
        x[rows[:, None], cols] *= factor
    return _milli(x)


# ---------------------------------------------------------------------------
# flow events (stream input)
# ---------------------------------------------------------------------------

_EVENT_TEMPLATE = (
    '{"flow_id":"flow_%d","event_id":"%d","event_type":"network_flow",'
    '"timestamp":"2017-07-07T10:00:00",'
    + ",".join(f'"{f}":%.3f' for f in FLOW_FEATURES)
    + ',"label":"%s"}'
)


@dataclass
class FlowEvents:
    """Generated event files plus the ground truth the checks use."""

    ticks: list[list[str]]  # JSON lines per tick; one tick = one file
    event_ids: np.ndarray  # ids of the well-formed events
    features: np.ndarray  # their 64 model features, row-aligned with event_ids
    malformed: int
    label_mix: dict[str, int]

    @property
    def total(self) -> int:
        return sum(len(t) for t in self.ticks)

    def truth(self) -> dict:
        return {
            "total": self.total,
            "valid": int(len(self.event_ids)),
            "malformed": self.malformed,
            "duplicates": 0,
            "sentinels": 0,
            "label_mix": self.label_mix,
            "files": len(self.ticks),
            "tick_stride": TICK_STRIDE,
            # creation tick -> event_id range [first, last]
            "tick_to_event_ids": {
                k: [k * TICK_STRIDE, k * TICK_STRIDE + len(t) - 1]
                for k, t in enumerate(self.ticks)
            },
        }


def flow_events(
    seed: int,
    stream: int,
    n_ticks: int,
    per_tick: int,
    attack_share: float = 0.2,
    malformed_share: float = 0.005,
) -> FlowEvents:
    """``n_ticks`` files of ``per_tick`` JSON lines. ``stream`` separates
    independent inputs drawn from one seed (warm-up, measured run, ...)."""
    if per_tick >= TICK_STRIDE:
        raise ValueError("per_tick must stay below TICK_STRIDE")
    rng = _rng(seed, 100 + stream)
    n = n_ticks * per_tick
    attack = rng.random(n) < attack_share
    malformed = rng.random(n) < malformed_share
    x = _flows(rng, n, _scales(seed), attack)
    labels = np.where(attack, rng.choice(ATTACK_LABELS, size=n), BENIGN)
    ids = (np.arange(n) // per_tick) * TICK_STRIDE + np.arange(n) % per_tick
    cut = rng.uniform(0.2, 0.9, size=n)
    lines = []
    for i in range(n):
        line = _EVENT_TEMPLATE % (ids[i], ids[i], *x[i], labels[i])
        if malformed[i]:
            line = line[: int(len(line) * cut[i])]  # truncated record
        lines.append(line)
    ok = ~malformed
    return FlowEvents(
        ticks=[lines[k * per_tick : (k + 1) * per_tick] for k in range(n_ticks)],
        event_ids=ids[ok].astype(np.int64),
        features=x[ok][:, _MODEL_IDX],
        malformed=int(malformed.sum()),
        label_mix=dict(Counter(labels[ok].tolist())),
    )


def write_tick_files(events: FlowEvents, directory: str) -> None:
    """One file per tick, ``tick_<tick>.json`` (the names loadgen moves)."""
    import os

    for k, lines in enumerate(events.ticks):
        with open(os.path.join(directory, f"tick_{k:05d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")


# ---------------------------------------------------------------------------
# reference detector
# ---------------------------------------------------------------------------

HIDDEN, CODE = 64, 16


def _shapes(dim: int) -> list[tuple[int, ...]]:
    return [
        (dim, HIDDEN), (HIDDEN,), (HIDDEN, CODE), (CODE,),
        (CODE, HIDDEN), (HIDDEN,), (HIDDEN, dim), (dim,),
    ]


@dataclass
class ReferenceModel:
    """Scaler stats + autoencoder weights + alert threshold."""

    mean: np.ndarray
    std: np.ndarray
    theta: np.ndarray
    threshold: float

    @property
    def dim(self) -> int:
        return len(self.mean)

    def stats_row(self) -> dict[str, float]:
        """``mean_<c>`` / ``std_<c>`` keys, as ``fit_standardizer`` names them."""
        row = {f"mean_{c}": float(m) for c, m in zip(MODEL_FEATURES, self.mean)}
        row.update({f"std_{c}": float(s) for c, s in zip(MODEL_FEATURES, self.std)})
        return row

    def scores(self, x: np.ndarray) -> np.ndarray:
        """Standardize -> AE forward -> per-row reconstruction MSE."""
        z = (x - self.mean) / self.std
        params, off = [], 0
        for s in _shapes(self.dim):
            size = int(np.prod(s))
            params.append(self.theta[off : off + size].reshape(s))
            off += size
        w1, b1, w2, b2, w3, b3, w4, b4 = params
        h = np.maximum(z @ w1 + b1, 0.0)
        h = np.maximum(h @ w2 + b2, 0.0)
        h = np.maximum(h @ w3 + b3, 0.0)
        out = h @ w4 + b4
        return ((out - z) ** 2).mean(axis=1)

    def to_artifact(self) -> bytes:
        return json.dumps(
            {
                "features": list(MODEL_FEATURES),
                "mean": self.mean.tolist(),
                "std": self.std.tolist(),
                "theta": self.theta.tolist(),
                "hidden": HIDDEN,
                "code": CODE,
                "threshold": self.threshold,
            }
        ).encode()

    @classmethod
    def from_artifact(cls, data: bytes) -> "ReferenceModel":
        d = json.loads(data)
        if d["features"] != list(MODEL_FEATURES) or (d["hidden"], d["code"]) != (HIDDEN, CODE):
            raise ValueError("artifact does not match the 64-64-16-64-64 flow model")
        return cls(
            mean=np.array(d["mean"]),
            std=np.array(d["std"]),
            theta=np.array(d["theta"]),
            threshold=float(d["threshold"]),
        )


def benign_sample(seed: int, n: int = 4000) -> np.ndarray:
    """The seeded benign sample the detector's scaler and threshold come from
    (64 model features)."""
    rng = _rng(seed, _SAMPLE)
    return _flows(rng, n, _scales(seed), np.zeros(n, dtype=bool))[:, _MODEL_IDX]


def reference_model(seed: int, sample: np.ndarray | None = None) -> ReferenceModel:
    """Population mean/std (zero std guarded to 1.0, as the package's
    standardizer does), seeded Glorot-uniform AE weights, and the 99th
    percentile of the benign sample's scores as the alert threshold."""
    x = benign_sample(seed) if sample is None else sample
    mean = x.mean(axis=0)
    std = x.std(axis=0)
    std = np.where(std > 0.0, std, 1.0)
    rng = _rng(seed, _MODEL)
    parts = []
    for s in _shapes(x.shape[1]):
        if len(s) == 2:
            lim = np.sqrt(6.0 / (s[0] + s[1]))
            parts.append(rng.uniform(-lim, lim, size=s).ravel())
        else:
            parts.append(np.zeros(s))
    model = ReferenceModel(mean=mean, std=std, theta=np.concatenate(parts), threshold=0.0)
    model.threshold = float(np.percentile(model.scores(x), 99.0))
    return model


# ---------------------------------------------------------------------------
# raw day files (offline input)
# ---------------------------------------------------------------------------


def raw_header(feature: str) -> str:
    """The reference dataset's spelling of a feature: leading blank, title
    case, ``/s`` rates and ``.1`` duplicate suffixes (``flow_bytes_s`` ->
    `` Flow Bytes/s``)."""
    words = feature.split("_")
    suffix = ""
    if words[-1] == "s" and len(words) > 1:
        words, suffix = words[:-1], "/s"
    elif words[-1] == "1":
        words, suffix = words[:-1], ".1"
    return " " + " ".join(w.capitalize() for w in words) + suffix


def raw_columns() -> list[str]:
    """79 raw headers: the 14 drop columns (two of which are flow features),
    the remaining flow features, and the label."""
    extra = [c for c in DROP_COLUMNS if c not in ("Active Std", "Idle Std")]
    return [" " + c for c in extra] + [raw_header(f) for f in FLOW_FEATURES] + [" Label"]


@dataclass
class RawDays:
    files: list[str]  # CSV text per day file
    truth: dict


def raw_days(
    seed: int,
    n_rows: int,
    n_files: int = 8,
    attack_share: float = 0.2,
    dup_share: float = 0.02,
    sentinel_share: float = 0.01,
) -> RawDays:
    """``n_rows`` distinct flows plus ``dup_share`` exact duplicates spread
    over ``n_files`` CSV texts. ``sentinel_share`` of the distinct rows carry
    an ``Infinity``/``-Infinity``/``NaN`` in one model feature, so the ETL
    drops them."""
    rng = _rng(seed, _CSV)
    cols = raw_columns()
    n_extra = len(cols) - 1 - len(FLOW_FEATURES)
    attack = rng.random(n_rows) < attack_share
    feats = _flows(rng, n_rows, _scales(seed), attack)
    extra = _milli(rng.gamma(2.0, 50.0, size=(n_rows, n_extra)))
    cells = np.char.mod("%.3f", np.hstack([extra, feats])).astype(object)
    sentinel = rng.random(n_rows) < sentinel_share
    s_rows = np.flatnonzero(sentinel)
    # sentinels go into kept features only: a "NaN" string in a column the
    # ETL drops is never cast, so its row would survive
    s_cols = n_extra + rng.choice(_MODEL_IDX, size=len(s_rows))
    cells[s_rows, s_cols] = rng.choice(["Infinity", "-Infinity", "NaN"], size=len(s_rows))
    labels = np.where(attack, rng.choice(ATTACK_LABELS, size=n_rows), BENIGN)
    lines = [",".join(cells[i]) + "," + labels[i] for i in range(n_rows)]
    n_dup = int(round(n_rows * dup_share))
    dup_of = rng.choice(n_rows, size=n_dup, replace=False)
    lines += [lines[i] for i in dup_of]
    order = rng.permutation(len(lines))
    header = ",".join(cols)
    files = [
        header + "\n" + "\n".join(lines[j] for j in order[k::n_files]) + "\n"
        for k in range(n_files)
    ]
    kept = ~sentinel
    return RawDays(
        files=files,
        truth={
            "total": len(lines),
            "distinct": n_rows,
            "duplicates": n_dup,
            "sentinels": int(sentinel.sum()),
            "kept": int(kept.sum()),
            "malformed": 0,
            "label_mix": dict(Counter(labels.tolist())),
            "columns": len(cols),
        },
    )
