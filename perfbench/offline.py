"""The offline pipeline: CSV read -> ``preprocess_flows`` -> write
train/eval -> ``fit_mlp_autoencoder`` (20 epochs) ->
``mlp_reconstruction_mse_stats`` -> register and promote through
``Tracker``/``ModelRegistry``.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
    ModelRegistry,
    Tracker,
)
from end_to_end_data_engineering_and_ml_system_spark.ml.training import (
    fit_mlp_autoencoder,
    mlp_reconstruction_mse_stats,
)
from end_to_end_data_engineering_and_ml_system_spark.operators.cleaning import (
    exact_dedup,
    sanitize_columns,
)
from end_to_end_data_engineering_and_ml_system_spark.operators.flows_etl import (
    preprocess_flows,
)

from checks import check_offline

EPOCHS = 20
OFFLINE_MODEL = "flow_ae_retrained"


class TimingRun:
    """Wraps a tracker run: forwards ``log_metrics`` and stamps the time of
    each call, which ``fit_mlp_autoencoder`` makes once per epoch."""

    def __init__(self, run):
        self.run = run
        self.stamps: list[float] = []

    def log_metrics(self, metrics: dict, step: int = 0) -> None:
        self.stamps.append(time.perf_counter())
        self.run.log_metrics(metrics, step=step)


def _phase_ms(df) -> float:
    """Analysis + optimization + planning time Catalyst recorded for ``df``'s
    query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def run_offline(spark: SparkSession, csv_dir: str, work: str, registry_root: str,
                truth: dict, tracer, seed: int) -> dict:
    """Runs the pipeline once; returns metrics and the check result."""
    span = tracer.span
    train_dir = os.path.join(work, "train")
    eval_dir = os.path.join(work, "eval")

    t0 = time.perf_counter()
    with span("sources.csv_read"):
        raw = spark.read.option("header", True).csv(csv_dir)
    t_read = time.perf_counter() - t0
    with span("operators.flows_etl.preprocess_flows"):
        res = preprocess_flows(raw, seed=seed)
    with span("sources.parquet_write"):
        res.train.write.mode("overwrite").parquet(train_dir)
        res.stream_eval.write.mode("overwrite").parquet(eval_dir)
    preprocess_s = time.perf_counter() - t0
    plan_s = (_phase_ms(res.train) + _phase_ms(res.stream_eval)) / 1000.0

    t1 = time.perf_counter()
    tracker = Tracker(os.path.join(registry_root, "tracking"))
    run = TimingRun(tracker.start_run("offline_retrain"))
    cols = res.feature_cols
    feats = spark.read.parquet(train_dir).select(F.array(*cols).alias("features")).persist()
    fit_start = time.perf_counter()
    with span("ml.training.fit_mlp_autoencoder"):
        fit = fit_mlp_autoencoder(feats, dim=len(cols), epochs=EPOCHS, tracker_run=run)
    s0 = time.perf_counter()
    with span("ml.training.mlp_reconstruction_mse_stats"):
        mse = mlp_reconstruction_mse_stats(feats, fit)
    stats_s = time.perf_counter() - s0
    r0 = time.perf_counter()
    with span("ml.registry.register"):
        run.run.log_metrics(mse)
        run.run.log_artifact(
            "model.json",
            json.dumps({"features": cols, "theta": fit.theta.tolist()}).encode(),
        )
        run.run.end()
        registry = ModelRegistry(os.path.join(registry_root, "models"))
        version = registry.register(OFFLINE_MODEL, run.run, "model.json")
        registry.transition(OFFLINE_MODEL, version, "Production")
    register_s = time.perf_counter() - r0
    train_s = time.perf_counter() - t1
    feats.unpersist()

    # checks read the written outputs back with pyarrow, outside the timing
    import pyarrow.dataset as ds

    def table(d):
        return ds.dataset(d, format="parquet", ignore_prefixes=["_", "."]).to_table()

    train_t, eval_t = table(train_dir), table(eval_dir)
    train_z = np.column_stack([train_t.column(c).to_numpy() for c in cols])
    csv_bytes = sum(
        os.path.getsize(os.path.join(csv_dir, n)) for n in os.listdir(csv_dir)
    )
    out = {
        "preprocess_s": preprocess_s,
        "train_s": train_s,
        "sources.csv_read_s": t_read,
        "sources.csv_bytes": csv_bytes,
        "operators.flows_etl.plan_s": plan_s,
        "operators.flows_etl.exec_s": max(preprocess_s - t_read - plan_s, 0.0),
        "rows_train": train_t.num_rows,
        "rows_eval": eval_t.num_rows,
        "ml.training.epoch_s": np.diff([fit_start, *run.stamps]).tolist(),
        "ml.training.stats_s": stats_s,
        "ml.registry.register_s": register_s,
        "ml.training.loss_drop_ratio": fit.losses[-1] / fit.losses[0],
    }
    if tracer.enabled:
        # stage row counts cost extra jobs, so only the traced run makes them
        with span("sources.csv_count"):
            out["rows_in"] = raw.count()
        with span("operators.cleaning.exact_dedup"):
            out["rows_deduped"] = exact_dedup(sanitize_columns(raw)).count()
    rows_in = out.get("rows_in", truth["total"])
    production = registry.latest(OFFLINE_MODEL, "Production")
    out["check"] = check_offline(
        truth, rows_in, train_t.num_rows, eval_t.num_rows, train_z, fit.losses, production
    )
    return out
