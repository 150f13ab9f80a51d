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
- only the PARAMETERS (a d×k matrix, kilobytes) live on the driver and
  ride to executors inside the closure each epoch — the parameter-server
  shape, same as Spark MLlib's own iterative algorithms;
- per-epoch losses go to ``ml.registry.Tracker`` step-indexed, exactly
  like the reference's ``mlflow.log_metric(..., step=epoch)`` pattern,
  so ``history``-style series extraction (A13) is a metrics query.

The model is a tied-weights linear autoencoder ``x̂ = W Wᵀ x`` trained by
full-batch gradient descent: honest distributed optimization (loss
provably decreases under a small enough step), not a toy that pretends
nonlinear-Keras parity — pca_scorer / serialized AE inference in
ml/pipeline.py remain the serving-side analogs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

GRAD_SCHEMA = "grad array<double>, loss double, n long"


def _partial_grad(w: np.ndarray):
    """Per-partition partial sums of loss and tied-AE gradient.

    For each row x: z = Wᵀx, r = x - Wz, loss = rᵀr,
    ∇_W = -2 (r zᵀ + x (Wᵀ r)ᵀ). Everything is batched numpy over the
    Arrow-delivered pandas frames — no per-row Python.
    """

    def fn(batches):
        import pandas as pd

        d, k = w.shape
        g = np.zeros((d, k))
        loss = 0.0
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["features"].to_numpy())  # (b, d)
            z = x @ w  # (b, k)
            r = x - z @ w.T  # (b, d)
            loss += float((r * r).sum())
            g += -2.0 * (r.T @ z + x.T @ (r @ w))
            n += len(x)
        yield pd.DataFrame(
            {"grad": [g.ravel().tolist()], "loss": [loss], "n": [n]}
        )

    return fn


@dataclass
class FitResult:
    weights: np.ndarray
    losses: list[float]  # mean loss per epoch, BEFORE that epoch's step


def fit_linear_autoencoder(
    features: DataFrame,
    dim: int,
    k: int = 8,
    epochs: int = 5,
    lr: float = 1e-3,
    seed: int = 42,
    tracker_run=None,
    init_weights: np.ndarray | None = None,
) -> FitResult:
    """Full-batch GD on the tied linear AE over a ``features``
    array<double> column. One Spark job per epoch; the collect is
    ``#partitions`` rows of (d·k grads, loss, n) — the documented
    parameter-server exception to the no-collect rule (kilobytes,
    independent of row count). Pass a ``Tracker`` run to step-log the
    loss series (A13). ``init_weights`` warm-starts from a previous
    model's parameters — the retraining pattern a drift monitor
    triggers; full-batch GD then improves on the old model's loss over
    the new data monotonically (for a small enough step)."""
    if init_weights is not None:
        w = np.array(init_weights, dtype=float)
        if w.shape != (dim, k):
            raise ValueError(f"init_weights shape {w.shape} != ({dim}, {k})")
    else:
        rng = np.random.default_rng(seed)
        w = rng.standard_normal((dim, k)) * 0.1
    df = features.select("features")
    losses: list[float] = []
    for epoch in range(epochs):
        parts = df.mapInPandas(_partial_grad(w), GRAD_SCHEMA).collect()
        n = sum(p["n"] for p in parts)
        if n == 0:
            raise ValueError("empty training frame")
        grad = sum(
            np.asarray(p["grad"]).reshape(w.shape) for p in parts
        ) / float(n)
        loss = sum(p["loss"] for p in parts) / float(n)
        losses.append(loss)
        if tracker_run is not None:
            tracker_run.log_metrics({"train_loss": loss}, step=epoch)
        w = w - lr * grad
    return FitResult(weights=w, losses=losses)


def reconstruction_mse_stats(features: DataFrame, w: np.ndarray) -> dict:
    """The reference's post-training mse_min/max/mean over the train set
    (train_autoencoder.py:209-216) as one distributed aggregation."""
    parts = features.select("features").mapInPandas(
        _mse_partials(w), "s double, mn double, mx double, n long"
    )
    from pyspark.sql import functions as F

    row = parts.agg(
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.sum("n").alias("n"),
    ).first()
    if not row["n"]:
        raise ValueError("reconstruction_mse_stats: empty features frame")
    return {
        "mse_mean": row["s"] / row["n"],
        "mse_min": row["mn"],
        "mse_max": row["mx"],
    }


def _mse_partials(w: np.ndarray):
    def fn(batches):
        import pandas as pd

        s = 0.0
        mn = float("inf")
        mx = float("-inf")
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["features"].to_numpy())
            r = x - (x @ w) @ w.T
            mse = (r * r).mean(axis=1)
            s += float(mse.sum())
            mn = min(mn, float(mse.min()))
            mx = max(mx, float(mse.max()))
            n += len(x)
        if n:
            yield pd.DataFrame({"s": [s], "mn": [mn], "mx": [mx], "n": [n]})

    return fn


KMEANS_SCHEMA = (
    "cluster int, vec_sum array<double>, n long, inertia double"
)


def _kmeans_partials(centroids: np.ndarray):
    """Per-partition Lloyd's partials: each row assigns to its nearest
    centroid (squared euclidean, ties to the lowest centroid id via
    argmin), contributing its vector to that cluster's sum and its
    distance to the inertia.  Vectorized numpy over Arrow batches."""

    def fn(batches):
        import pandas as pd

        k, d = centroids.shape
        sums = np.zeros((k, d))
        counts = np.zeros(k, dtype=np.int64)
        inertia = np.zeros(k)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["features"].to_numpy())  # (b, d)
            # (b, k) squared distances
            d2 = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                m = assign == c
                if m.any():
                    sums[c] += x[m].sum(axis=0)
                    counts[c] += int(m.sum())
                    inertia[c] += float(d2[m, c].sum())
        yield pd.DataFrame(
            {
                "cluster": np.arange(k, dtype=np.int32),
                "vec_sum": [s.tolist() for s in sums],
                "n": counts,
                "inertia": inertia,
            }
        )

    return fn


@dataclass
class KMeansFitResult:
    centroids: np.ndarray
    inertias: list[float]  # total inertia per iteration, BEFORE the update


def fit_kmeans_lloyd(
    features: DataFrame,
    id_col: str,
    k: int = 8,
    iters: int = 5,
) -> KMeansFitResult:
    """Distributed Lloyd's k-means with a DETERMINISTIC md5-medoid init
    (the k rows with the smallest ``md5(id)`` become the initial
    centroids — engine-portable, no RNG), completing the trainer family
    (linear AE, now clustering).  Same
    parameter-server shape: per iteration one ``mapInPandas`` aggregation
    collects ``#partitions × k`` partial rows; only the k×d centroid
    matrix rides in the closure.  Lloyd's guarantees the inertia sequence
    is non-increasing — the pytest invariant."""
    from pyspark.sql import functions as F

    init_rows = (
        features.select(id_col, "features")
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    if len(init_rows) < k:
        raise ValueError(f"need at least {k} rows, got {len(init_rows)}")
    centroids = np.array([r["features"] for r in init_rows], dtype=float)
    df = features.select("features")
    inertias: list[float] = []
    for _ in range(iters):
        parts = df.mapInPandas(
            _kmeans_partials(centroids), KMEANS_SCHEMA
        ).collect()
        k_, d = centroids.shape
        sums = np.zeros((k_, d))
        counts = np.zeros(k_)
        total_inertia = 0.0
        for p in parts:
            c = p["cluster"]
            sums[c] += np.asarray(p["vec_sum"])
            counts[c] += p["n"]
            total_inertia += p["inertia"]
        inertias.append(total_inertia)
        # empty clusters keep their centroid (standard Lloyd's fallback)
        nonempty = counts > 0
        centroids = centroids.copy()
        centroids[nonempty] = (
            sums[nonempty] / counts[nonempty, None]
        )
    return KMeansFitResult(centroids=centroids, inertias=inertias)


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
