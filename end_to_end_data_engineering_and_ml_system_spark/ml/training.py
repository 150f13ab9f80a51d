"""Distributed epoch-training loop with tracked per-epoch metrics
(SURVEY.md §2.11 M7 training + A13 epoch-series metrics analog).

The reference trains a Keras autoencoder and extracts the epoch loss
series from ``history.history`` before logging final metrics to MLflow
(scripts/train_autoencoder.py:190-216). No TF exists in this container,
and — more to the point — a ``model.fit`` on one node is not the 100 TB
shape. This module re-expresses the SEMANTICS as the canonical
distributed-training loop:

- the dataset never leaves the cluster: each epoch computes the loss and
  the full-batch gradient as ONE Spark aggregation (``mapInPandas``
  partial sums per partition — vectorized numpy, Arrow batches — then a
  driver-side reduce of `#partitions` small rows);
- only the PARAMETERS (~10k doubles, kilobytes) live on the driver and
  ride to executors inside the closure each epoch — the parameter-server
  shape, same as Spark MLlib's own iterative algorithms;
- per-epoch losses go to ``ml.registry.Tracker`` step-indexed, exactly
  like the reference's ``mlflow.log_metric(..., step=epoch)`` pattern,
  so ``history``-style series extraction (A13) is a metrics query.

The model is the reference's 64-64-16-64-64 autoencoder trained by
full-batch Adam; ``mlp_reconstruction_scores`` is its per-row scorer.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

GRAD_SCHEMA = "grad array<double>, loss double, n long"


# ---------------------------------------------------------------------------
# Exact-architecture nonlinear autoencoder (reference parity for M7)
# ---------------------------------------------------------------------------
#
# The reference's model (scripts/train_autoencoder.py:34-51) is a Keras MLP
# d -> Dense(64, relu) -> Dense(16, relu) -> Dense(64, relu) -> Dense(d,
# linear), mse loss, Adam, 50 epochs at batch_size=128 over a 60-row train
# batch — i.e. effectively FULL-BATCH Adam. This trainer is the same model
# family and the same training regime, expressed through the package's
# parameter-server loop: per epoch ONE mapInPandas aggregation returns
# per-partition partial sums of (flat gradient, loss, n); the ~10k
# parameters (plus Adam moments) live on the driver — the documented
# exception to the no-collect rule, correct here because the parameter
# count is architecture-fixed, independent of data size.


def _mlp_shapes(dim: int, hidden: int, code: int) -> list[tuple[int, ...]]:
    return [
        (dim, hidden), (hidden,),
        (hidden, code), (code,),
        (code, hidden), (hidden,),
        (hidden, dim), (dim,),
    ]


def _mlp_unpack(theta: np.ndarray, shapes) -> list[np.ndarray]:
    out, off = [], 0
    for s in shapes:
        size = int(np.prod(s))
        out.append(theta[off : off + size].reshape(s))
        off += size
    return out


def _mlp_init(dim: int, hidden: int, code: int, seed: int) -> np.ndarray:
    """Seeded Glorot-uniform init (the Keras Dense default's public
    formula: U(±sqrt(6/(fan_in+fan_out)))), biases zero — deterministic."""
    rng = np.random.default_rng(seed)
    parts = []
    for s in _mlp_shapes(dim, hidden, code):
        if len(s) == 2:
            lim = np.sqrt(6.0 / (s[0] + s[1]))
            parts.append(rng.uniform(-lim, lim, size=s).ravel())
        else:
            parts.append(np.zeros(s))
    return np.concatenate(parts)


def _mlp_forward(x: np.ndarray, p: list[np.ndarray]):
    w1, b1, w2, b2, w3, b3, w4, b4 = p
    h1 = np.maximum(x @ w1 + b1, 0.0)
    h2 = np.maximum(h1 @ w2 + b2, 0.0)
    h3 = np.maximum(h2 @ w3 + b3, 0.0)
    out = h3 @ w4 + b4
    return h1, h2, h3, out


def _mlp_partials(theta: np.ndarray, dim: int, hidden: int, code: int):
    """Per-partition partial sums of per-row mse (mean over features, the
    Keras 'mse' convention) and its backprop gradient — batched numpy over
    Arrow frames, no per-row Python."""
    shapes = _mlp_shapes(dim, hidden, code)

    def fn(batches):
        import pandas as pd

        p = _mlp_unpack(theta, shapes)
        w1, b1, w2, b2, w3, b3, w4, b4 = p
        g = [np.zeros_like(a) for a in p]
        loss = 0.0
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["features"].to_numpy())  # (b, d)
            h1, h2, h3, out = _mlp_forward(x, p)
            r = out - x
            loss += float((r * r).mean(axis=1).sum())
            go = (2.0 / dim) * r                       # d loss_row / d out
            g[6] += h3.T @ go
            g[7] += go.sum(axis=0)
            gh3 = (go @ w4.T) * (h3 > 0)
            g[4] += h2.T @ gh3
            g[5] += gh3.sum(axis=0)
            gh2 = (gh3 @ w3.T) * (h2 > 0)
            g[2] += h1.T @ gh2
            g[3] += gh2.sum(axis=0)
            gh1 = (gh2 @ w2.T) * (h1 > 0)
            g[0] += x.T @ gh1
            g[1] += gh1.sum(axis=0)
            n += len(x)
        flat = np.concatenate([a.ravel() for a in g])
        yield pd.DataFrame(
            {"grad": [flat.tolist()], "loss": [loss], "n": [n]}
        )

    return fn


@dataclass
class MlpFitResult:
    theta: np.ndarray  # flat parameter vector
    losses: list[float]  # mean mse per epoch, BEFORE that epoch's step
    dim: int
    hidden: int
    code: int


def fit_mlp_autoencoder(
    features: DataFrame,
    dim: int,
    hidden: int = 64,
    code: int = 16,
    epochs: int = 50,
    lr: float = 1e-3,
    seed: int = 42,
    tracker_run=None,
) -> MlpFitResult:
    """Full-batch Adam on the reference-architecture nonlinear AE
    (d→64→16→64→d relu/linear, mse) — one Spark aggregation per epoch,
    Adam moments driver-held beside the parameters (Keras defaults:
    β₁=0.9, β₂=0.999, ε=1e-7). Deterministic: seeded Glorot init, no
    dropout/shuffling (full batch), float summation fixed per
    partitioning. Pass a Tracker run to step-log the loss series exactly
    like the reference's history.history extraction
    (train_autoencoder.py:190-216)."""
    theta = _mlp_init(dim, hidden, code, seed)
    m = np.zeros_like(theta)
    v = np.zeros_like(theta)
    b1, b2, eps = 0.9, 0.999, 1e-7
    df = features.select("features")
    losses: list[float] = []
    for epoch in range(epochs):
        parts = df.mapInPandas(
            _mlp_partials(theta, dim, hidden, code), GRAD_SCHEMA
        ).collect()
        n = sum(p["n"] for p in parts)
        if n == 0:
            raise ValueError("empty training frame")
        grad = sum(np.asarray(p["grad"]) for p in parts) / float(n)
        loss = sum(p["loss"] for p in parts) / float(n)
        losses.append(loss)
        if tracker_run is not None:
            tracker_run.log_metrics({"train_loss": loss}, step=epoch)
        m = b1 * m + (1.0 - b1) * grad
        v = b2 * v + (1.0 - b2) * grad * grad
        mh = m / (1.0 - b1 ** (epoch + 1))
        vh = v / (1.0 - b2 ** (epoch + 1))
        theta = theta - lr * mh / (np.sqrt(vh) + eps)
    return MlpFitResult(
        theta=theta, losses=losses, dim=dim, hidden=hidden, code=code
    )


def mlp_reconstruction_mse_stats(features: DataFrame, fit: MlpFitResult) -> dict:
    """The reference's post-training mse_min/max/mean
    (train_autoencoder.py:209-216) for the MLP AE, as one distributed
    aggregation."""
    shapes = _mlp_shapes(fit.dim, fit.hidden, fit.code)
    theta = fit.theta

    def gen(batches):
        import pandas as pd

        p = _mlp_unpack(theta, shapes)
        s, mn, mx, n = 0.0, float("inf"), float("-inf"), 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["features"].to_numpy())
            _, _, _, out = _mlp_forward(x, p)
            mse = ((out - x) ** 2).mean(axis=1)
            s += float(mse.sum())
            mn = min(mn, float(mse.min()))
            mx = max(mx, float(mse.max()))
            n += len(x)
        if n:
            yield pd.DataFrame({"s": [s], "mn": [mn], "mx": [mx], "n": [n]})

    from pyspark.sql import functions as F

    row = (
        features.select("features")
        .mapInPandas(gen, "s double, mn double, mx double, n long")
        .agg(
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
            F.sum("n").alias("n"),
        )
        .first()
    )
    if not row["n"]:
        raise ValueError("mlp_reconstruction_mse_stats: empty features frame")
    return {
        "mse_mean": row["s"] / row["n"],
        "mse_min": row["mn"],
        "mse_max": row["mx"],
    }


def mlp_reconstruction_scores(
    df: DataFrame, fit: MlpFitResult, id_col: str
) -> DataFrame:
    """Per-row reconstruction MSE under a fitted MLP AE — the M2-shape
    batch-inference scorer for the exact reference architecture
    (stream_anomaly_detector.py:278-302 scores each flow with
    model.predict then row-wise mse). One ``mapInPandas`` pass, the ~10k
    parameters serialized into the closure (per-partition model, no
    driver round-trip, no collect); batched numpy forward only — no
    per-row Python. Returns ``(id_col, recon_mse)``."""
    shapes = _mlp_shapes(fit.dim, fit.hidden, fit.code)
    theta = fit.theta

    def gen(batches):
        import pandas as pd

        p = _mlp_unpack(theta, shapes)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["features"].to_numpy())
            _, _, _, out = _mlp_forward(x, p)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(),
                    "recon_mse": ((out - x) ** 2).mean(axis=1),
                }
            )

    from pyspark.sql import functions as F

    # the output schema carries the caller's actual id type — hardcoding
    # "long" would break (or silently coerce) string/int/decimal ids
    id_type = df.schema[id_col].dataType.simpleString()
    return (
        df.select(F.col(id_col).alias("__id"), "features")
        .mapInPandas(gen, f"__id {id_type}, recon_mse double")
        .withColumnRenamed("__id", id_col)
    )
