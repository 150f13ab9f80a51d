"""File-backed tracking + model-registry lifecycle (M10/M11 analog):
train -> log -> register -> stage-transition -> load -> score, end to end
on Spark, mirroring scripts/manage_model_registry.py:25-93 and
train_autoencoder.py:117-269 semantics without an MLflow server."""

from __future__ import annotations

from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
    ModelRegistry,
    Tracker,
)


def test_tracking_run_lifecycle(tmp_path):
    t = Tracker(str(tmp_path))
    run = t.start_run("exp")
    run.log_params({"k": 2, "lr": 0.01})
    run.log_metrics({"loss": 1.5}, step=0)
    run.log_metrics({"loss": 0.7}, step=1)
    run.log_artifact("model.pkl", b"weights")
    run.end()

    meta = t.runs("exp")[-1]
    assert meta["status"] == "FINISHED"
    assert meta["params"] == {"k": "2", "lr": "0.01"}
    assert [m["value"] for m in meta["metrics"]["loss"]] == [1.5, 0.7]
    assert meta["artifacts"] == ["model.pkl"]
    assert run.artifact_bytes("model.pkl") == b"weights"


def test_find_latest_run_orders_by_start_time(tmp_path):
    t = Tracker(str(tmp_path))
    a = t.start_run("exp")
    b = t.start_run("exp")
    assert t.find_latest_run_id("exp") == b.run_id
    assert t.find_latest_run_id("missing") is None
    assert t.get_run("exp", a.run_id).run_id == a.run_id


def test_register_transition_archives_previous(tmp_path):
    t = Tracker(str(tmp_path))
    reg = ModelRegistry(str(tmp_path))
    r1 = t.start_run("exp")
    r1.log_artifact("m", b"v1-bytes")
    r2 = t.start_run("exp")
    r2.log_artifact("m", b"v2-bytes")

    v1 = reg.register("detector", r1, "m")
    v2 = reg.register("detector", r2, "m")
    assert (v1, v2) == (1, 2)
    assert reg.latest("detector")["version"] == 2
    assert reg.latest("detector", "Production") is None

    reg.transition("detector", v1, "Production")
    assert reg.load_artifact("detector") == b"v1-bytes"

    # promoting v2 archives v1 — the reference's archive_existing_versions
    reg.transition("detector", v2, "Production")
    metas = {m["version"]: m["stage"] for m in reg._versions("detector")}
    assert metas == {1: "Archived", 2: "Production"}
    assert reg.load_artifact("detector") == b"v2-bytes"

    # provenance survives: version points back to its run
    assert reg.latest("detector")["source_run_id"] == r2.run_id


def test_registry_feeds_spark_inference(spark, sf_dir, tmp_path):
    """The full loop the reference runs across three services, on one
    engine: distributed fit -> artifact in the registry -> Production
    lookup -> per-partition scoring; scores from the loaded model must
    equal scoring with the in-memory fit."""
    import pickle

    from pyspark.sql import functions as F

    from end_to_end_data_engineering_and_ml_system_spark.ml.training import (
        fit_mlp_autoencoder,
        mlp_reconstruction_scores,
    )
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.monotonically_increasing_id().alias("row_id"),
            F.array(*[F.col(c).cast("double") for c in cols]).alias("features"),
        )
        .limit(500)
        .cache()
    )
    fit = fit_mlp_autoencoder(li, dim=len(cols), epochs=2)

    t = Tracker(str(tmp_path))
    run = t.start_run("anomaly")
    run.log_params({"epochs": 2, "features": ",".join(cols)})
    run.log_artifact("autoencoder.pkl", pickle.dumps(fit))
    run.end()
    reg = ModelRegistry(str(tmp_path))
    v = reg.register("NetworkAnomalyDetector", run, "autoencoder.pkl")
    reg.transition("NetworkAnomalyDetector", v, "Production")

    served = pickle.loads(reg.load_artifact("NetworkAnomalyDetector", "Production"))
    got = {
        r["row_id"]: r["recon_mse"]
        for r in mlp_reconstruction_scores(li, served, "row_id").collect()
    }
    want = {
        r["row_id"]: r["recon_mse"]
        for r in mlp_reconstruction_scores(li, fit, "row_id").collect()
    }
    assert got == want and len(got) == 500
    li.unpersist()


def test_mlflow_adapter_interface_parity():
    """The HTTP-MLflow seam: MlflowTracker/MlflowRunAdapter must expose
    exactly the duck-typed verbs the trainers consume, so a deployment
    with a real server swaps backends with no caller changes. (The live
    swap itself needs an mlflow install + server — absent in this
    container, so parity of the surface is what is pinned here.)"""
    import inspect

    from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
        MlflowRunAdapter,
        MlflowTracker,
        Run,
        Tracker,
    )

    # the FULL surface callers touch — including the read-back verbs
    # ModelRegistry.register needs (artifact_bytes + .experiment/.run_id),
    # whose absence once made the documented "no caller changes" swap
    # crash at the first register() call
    for verb in ("log_params", "log_metrics", "log_artifact",
                 "artifact_bytes", "end"):
        ours = inspect.signature(getattr(Run, verb))
        theirs = inspect.signature(getattr(MlflowRunAdapter, verb))
        assert list(ours.parameters) == list(theirs.parameters), verb
    for verb in ("start_run", "runs", "find_latest_run_id", "get_run"):
        ours = inspect.signature(getattr(Tracker, verb))
        theirs = inspect.signature(getattr(MlflowTracker, verb))
        assert list(ours.parameters) == list(theirs.parameters), verb


def test_mlflow_live_swap_if_available(tmp_path):
    """Runs only where mlflow is installed: the adapter must drive a real
    (file-URI) MLflow backend through the same verbs the trainers use."""
    import pytest

    pytest.importorskip("mlflow")
    from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
        MlflowTracker,
    )

    t = MlflowTracker(f"file://{tmp_path}/mlruns")
    run = t.start_run("swap_test")
    run.log_params({"k": 8})
    run.log_metrics({"loss": 1.5}, step=0)
    run.log_metrics({"loss": 1.2}, step=1)
    run.end()
    assert t.find_latest_run_id("swap_test") == run.run_id


def test_transition_validates_before_archiving(tmp_path):
    """A failed transition (typo'd version) must be a true no-op: archiving
    siblings BEFORE the existence check once vacated Production with
    nothing promoted — a read-only-looking call causing a serving outage."""
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
        ModelRegistry,
        Tracker,
    )

    t = Tracker(str(tmp_path))
    run = t.start_run("exp")
    run.log_artifact("m.pkl", b"model-bytes")
    reg = ModelRegistry(str(tmp_path))
    v1 = reg.register("m", run, "m.pkl")
    reg.transition("m", v1, "Production")
    with pytest.raises(FileNotFoundError):
        reg.transition("m", 99, "Production")
    # v1 still serves
    assert reg.latest("m", "Production")["version"] == v1
    assert reg.load_artifact("m") == b"model-bytes"


def test_transition_to_archived_skips_redundant_rewrites(tmp_path):
    from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
        ModelRegistry,
        Tracker,
    )

    t = Tracker(str(tmp_path))
    run = t.start_run("exp")
    run.log_artifact("m.pkl", b"x")
    reg = ModelRegistry(str(tmp_path))
    v1 = reg.register("m", run, "m.pkl")
    v2 = reg.register("m", run, "m.pkl")
    reg.transition("m", v1, "Archived")
    reg.transition("m", v2, "Archived")  # must not disturb v1
    stages = {m["version"]: m["stage"] for m in reg.versions("m")}
    assert stages == {v1: "Archived", v2: "Archived"}


def test_artifact_names_must_be_bare_filenames(tmp_path):
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
        Tracker,
    )

    run = Tracker(str(tmp_path)).start_run("exp")
    for bad in ("models/w.pkl", "../escape", "/tmp/x", ""):
        with pytest.raises(ValueError):
            run.log_artifact(bad, b"d")
        with pytest.raises(ValueError):
            run.artifact_bytes(bad)


def test_experiment_and_model_names_must_be_bare_filenames(tmp_path):
    """The traversal guard applies to every registry path component, not
    just artifacts: an experiment or model name containing a separator
    would escape the registry root via os.path.join."""
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
        ModelRegistry,
        Tracker,
    )

    t = Tracker(str(tmp_path / "trk"))
    reg = ModelRegistry(str(tmp_path / "reg"))
    good_run = t.start_run("exp")
    good_run.log_artifact("w.bin", b"blob")
    for bad in ("a/b", "../escape", "/tmp/x", "", ".."):
        with pytest.raises(ValueError):
            t.start_run(bad)
        with pytest.raises(ValueError):
            t.runs(bad)
        with pytest.raises(ValueError):
            reg.register(bad, good_run, "w.bin")
        with pytest.raises(ValueError):
            reg.versions(bad)


def test_corrupt_sidecar_does_not_poison_listings(tmp_path):
    """A truncated run.json/version.json (pre-fsync crash debris) must not
    make every listing of the experiment/model raise forever."""
    import os

    from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
        ModelRegistry,
        Tracker,
    )

    t = Tracker(str(tmp_path))
    good = t.start_run("exp")
    bad = t.start_run("exp")
    with open(bad._meta_path(), "w") as f:
        f.write('{"truncat')  # simulated torn write
    ids = [m["run_id"] for m in t.runs("exp")]
    assert ids == [good.run_id]

    good.log_artifact("m.pkl", b"x")
    reg = ModelRegistry(str(tmp_path))
    v1 = reg.register("m", good, "m.pkl")
    vdir = os.path.join(str(tmp_path), "models", "m", "versions", "7")
    os.makedirs(vdir)
    with open(os.path.join(vdir, "version.json"), "w") as f:
        f.write("{bad")
    assert [m["version"] for m in reg.versions("m")] == [v1]


def test_register_claims_version_dir_exclusively(tmp_path):
    """Version minting is an atomic mkdir claim: a pre-existing dir for
    the computed next version (the concurrent-registration shape) bumps
    past it instead of writing into it."""
    import os

    from end_to_end_data_engineering_and_ml_system_spark.ml.registry import (
        ModelRegistry,
        Tracker,
    )

    t = Tracker(str(tmp_path))
    run = t.start_run("exp")
    run.log_artifact("m.pkl", b"x")
    reg = ModelRegistry(str(tmp_path))
    v1 = reg.register("m", run, "m.pkl")
    # another writer has claimed v2 but not yet committed version.json
    os.makedirs(os.path.join(str(tmp_path), "models", "m", "versions", "2"))
    v_next = reg.register("m", run, "m.pkl")
    assert (v1, v_next) == (1, 3)
