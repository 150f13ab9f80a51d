"""The full MLOps loop as one composition test: train -> register ->
promote -> MONITOR (PSI drift on a live window) -> retrain on the live
window -> re-register -> promote (archiving v1). This is the production
lifecycle the reference spreads across train_autoencoder.py /
manage_model_registry.py / stream_anomaly_detector.py, driven end-to-end
on the engine's own components."""

from __future__ import annotations

import pickle

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
    ModelRegistry,
    Tracker,
)
from end_to_end_data_engineering_and_ml_system_spark.ml.training import (
    fit_mlp_autoencoder,
    mlp_reconstruction_mse_stats,
)
from end_to_end_data_engineering_and_ml_system_spark.operators.aggregations import (
    population_stability,
)
from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def cohorts(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("features"),
    )
    ref = feats.filter(F.col("vec_id") % 2 == 0).select("features").cache()
    # live window with a genuine distribution shift: constant offset added
    # to every dimension (moves the optimal subspace, not just the scale)
    live = (
        feats.filter(F.col("vec_id") % 2 == 1)
        .select(
            F.transform("features", lambda v: v + F.lit(0.5)).alias("features")
        )
        .cache()
    )
    return ref, live


def test_drift_triggered_retraining(cohorts, tmp_path):
    ref, live = cohorts
    root = str(tmp_path)
    tracker, registry = Tracker(root), ModelRegistry(root)

    # 1) initial train on the reference window -> v1 -> Production
    run1 = tracker.start_run("ae")
    m1 = fit_mlp_autoencoder(ref, dim=64, epochs=4, tracker_run=run1)
    run1.log_artifact("w.pkl", pickle.dumps(m1))
    run1.end()
    v1 = registry.register("ae", run1, "w.pkl")
    registry.transition("ae", v1, "Production")

    # 2) monitor: PSI on the feature the scorer consumes (first dim here),
    #    reference window vs live window
    monitored = ref.select(
        F.col("features")[0].alias("value"), F.lit(True).alias("a")
    ).unionByName(
        live.select(F.col("features")[0].alias("value"), F.lit(False).alias("a"))
    )
    psi = sum(
        r["psi_term"]
        for r in population_stability(
            monitored, "value", F.col("a"), bin_width=0.25, n_bins=9
        ).collect()
    )
    assert psi > 0.2, f"planted shift must trip the drift alarm, psi={psi}"

    # 3) drift tripped -> retrain from scratch ON the live window
    served = pickle.loads(registry.load_artifact("ae", stage="Production"))
    before = mlp_reconstruction_mse_stats(live, served)["mse_mean"]
    run2 = tracker.start_run("ae")
    m2 = fit_mlp_autoencoder(live, dim=64, epochs=4, tracker_run=run2)
    run2.log_artifact("w.pkl", pickle.dumps(m2))
    run2.end()
    v2 = registry.register("ae", run2, "w.pkl")
    registry.transition("ae", v2, "Production")

    # 4) lifecycle assertions: v2 serves, v1 archived, both runs tracked
    assert registry.latest("ae", stage="Production")["version"] == v2
    versions = {v["version"]: v["stage"] for v in registry.versions("ae")}
    assert versions == {v1: "Archived", v2: "Production"}
    assert len(tracker.runs("ae")) == 2

    # 5) retraining helped where it matters: the promoted model fits the
    #    live distribution better than the displaced one
    promoted = pickle.loads(registry.load_artifact("ae", stage="Production"))
    after = mlp_reconstruction_mse_stats(live, promoted)["mse_mean"]
    assert after < before, (before, after)


