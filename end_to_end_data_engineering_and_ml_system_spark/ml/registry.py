"""File-backed experiment tracking + model registry (SURVEY.md §2.11
M10/M11).

The reference drives an MLflow tracking server and model registry
(scripts/train_autoencoder.py:117-269 logs params/metrics/artifacts per
run; scripts/manage_model_registry.py:25-93 finds the latest run,
registers a model version from its artifact, waits for READY, and
transitions it to a stage while archiving prior versions). No MLflow
exists in this container, so this module re-expresses those SEMANTICS over
plain JSON + artifact files — runnable anywhere, no server — with the same
lifecycle verbs:

- ``Tracker.start_run`` / ``Run.log_params`` / ``Run.log_metrics`` /
  ``Run.log_artifact``  (M11: experiment tracking)
- ``ModelRegistry.register``: run artifact -> new model VERSION (monotonic
  int, like MLflow's), immediately READY (files have no async copy step)
- ``ModelRegistry.transition``: move a version to Staging/Production and
  archive whatever held that stage before — the reference's
  transition_model_version_stage(..., archive_existing_versions=True)
- ``ModelRegistry.latest`` / ``load_artifact``: resolve by stage and
  return the artifact bytes; a pickled ``MlpFitResult`` loads straight
  into ``mlp_reconstruction_scores`` (ml/training.py)

Storage layout (one JSON per run/version, content-addressed artifacts):

    <root>/experiments/<name>/runs/<run_id>/run.json
    <root>/experiments/<name>/runs/<run_id>/artifacts/<artifact_name>
    <root>/models/<model_name>/versions/<N>/version.json
    <root>/models/<model_name>/versions/<N>/artifact

Writes go through write-to-temp + atomic rename, so a crashed writer never
leaves a half-readable version. The root should live on a shared
filesystem in cluster deployments (same contract as scratch.py — only the
DRIVER reads/writes the registry; executors receive the model inside the
scoring closure, never by reading these paths).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

STAGES = ("None", "Staging", "Production", "Archived")


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(data)
        # fsync BEFORE the rename: os.replace alone orders only the
        # directory metadata — after a kernel crash/power loss the rename
        # can survive while the data blocks never flushed, leaving a
        # truncated "atomic" file (the half-readable state the module
        # docstring promises can't happen)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    try:  # persist the rename itself; best-effort (not all FS allow it)
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass


def _write_json(path: str, obj: dict) -> None:
    _atomic_write(path, json.dumps(obj, indent=2, sort_keys=True).encode())


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _read_json_or_none(path: str) -> dict | None:
    """Fail-soft read for directory listings: one corrupt entry (a
    pre-fsync-era crash artifact) must not make EVERY read of the
    model/experiment raise forever."""
    try:
        return _read_json(path)
    except (json.JSONDecodeError, OSError):
        return None


def _check_path_component(name: str, kind: str) -> None:
    """Registry names (artifact, experiment, model) are single path
    components: anything with a separator either fails on a missing
    subdir or — absolute or ..-prefixed — ESCAPES the registry tree via
    os.path.join."""
    if not name or os.path.basename(name) != name or name in (".", ".."):
        raise ValueError(
            f"{kind} name {name!r} must be a bare filename "
            "(no path separators)"
        )


def _check_artifact_name(name: str) -> None:
    _check_path_component(name, "artifact")


@dataclass
class Run:
    """One tracked run: params, metrics (step-indexed history), artifacts."""

    root: str
    experiment: str
    run_id: str

    def __post_init__(self) -> None:
        # every Run path joins the experiment name — the same traversal
        # chokepoint _check_artifact_name closes for artifacts
        _check_path_component(self.experiment, "experiment")

    @property
    def _dir(self) -> str:
        return os.path.join(
            self.root, "experiments", self.experiment, "runs", self.run_id
        )

    def _meta_path(self) -> str:
        return os.path.join(self._dir, "run.json")

    def _meta(self) -> dict:
        return _read_json(self._meta_path())

    def log_params(self, params: dict) -> None:
        m = self._meta()
        m["params"].update({k: str(v) for k, v in params.items()})
        _write_json(self._meta_path(), m)

    def log_metrics(self, metrics: dict, step: int = 0) -> None:
        """Append metric observations; history is kept per metric like the
        reference's per-epoch loss curve (train_autoencoder.py:117-180)."""
        m = self._meta()
        for k, v in metrics.items():
            m["metrics"].setdefault(k, []).append(
                {"step": int(step), "value": float(v)}
            )
        _write_json(self._meta_path(), m)

    def log_artifact(self, name: str, data: bytes) -> str:
        _check_artifact_name(name)
        adir = os.path.join(self._dir, "artifacts")
        os.makedirs(adir, exist_ok=True)
        dest = os.path.join(adir, name)
        _atomic_write(dest, data)
        m = self._meta()
        if name not in m["artifacts"]:
            m["artifacts"].append(name)
            _write_json(self._meta_path(), m)
        return dest

    def artifact_bytes(self, name: str) -> bytes:
        _check_artifact_name(name)
        with open(os.path.join(self._dir, "artifacts", name), "rb") as f:
            return f.read()

    def end(self, status: str = "FINISHED") -> None:
        m = self._meta()
        m["status"] = status
        m["end_time"] = time.time()
        _write_json(self._meta_path(), m)


class Tracker:
    """M11 experiment tracking over files; run ids are uuid4 hex like
    MLflow's, start_time orders runs for latest-run lookup."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def start_run(self, experiment: str) -> Run:
        run_id = uuid.uuid4().hex
        run = Run(self.root, experiment, run_id)
        os.makedirs(run._dir, exist_ok=True)
        _write_json(
            run._meta_path(),
            {
                "run_id": run_id,
                "experiment": experiment,
                "start_time": time.time(),
                "end_time": None,
                "status": "RUNNING",
                "params": {},
                "metrics": {},
                "artifacts": [],
            },
        )
        return run

    def runs(self, experiment: str) -> list[dict]:
        _check_path_component(experiment, "experiment")
        rdir = os.path.join(self.root, "experiments", experiment, "runs")
        if not os.path.isdir(rdir):
            return []
        out = []
        for rid in os.listdir(rdir):
            p = os.path.join(rdir, rid, "run.json")
            if os.path.isfile(p):
                m = _read_json_or_none(p)
                if m is not None:
                    out.append(m)
        return sorted(out, key=lambda m: m["start_time"])

    def find_latest_run_id(self, experiment: str) -> str | None:
        """The reference's latest-run lookup (manage_model_registry.py:25-34:
        search_runs ordered by start_time DESC, max_results=1)."""
        runs = self.runs(experiment)
        return runs[-1]["run_id"] if runs else None

    def get_run(self, experiment: str, run_id: str) -> Run:
        run = Run(self.root, experiment, run_id)
        if not os.path.isfile(run._meta_path()):
            raise FileNotFoundError(f"no run {run_id} in experiment {experiment}")
        return run


class ModelRegistry:
    """M10 model registry over files: monotonically versioned artifacts with
    MLflow-style stage transitions (manage_model_registry.py:58-93)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _model_dir(self, model_name: str) -> str:
        _check_path_component(model_name, "model")
        return os.path.join(self.root, "models", model_name)

    def _versions(self, model_name: str) -> list[dict]:
        vdir = os.path.join(self._model_dir(model_name), "versions")
        if not os.path.isdir(vdir):
            return []
        out = []
        for v in os.listdir(vdir):
            p = os.path.join(vdir, v, "version.json")
            if os.path.isfile(p):
                m = _read_json_or_none(p)
                if m is not None:
                    out.append(m)
        return sorted(out, key=lambda m: m["version"])

    def register(
        self,
        model_name: str,
        run: Run,
        artifact_name: str,
    ) -> int:
        """Register ``run``'s artifact as the next version of ``model_name``
        (the reference's mlflow.register_model(runs:/<id>/<path>, name) —
        manage_model_registry.py:58-66). Returns the new version number;
        status is READY at once (no async artifact copy to await)."""
        versions = self._versions(model_name)
        version = (versions[-1]["version"] + 1) if versions else 1
        base = os.path.join(self._model_dir(model_name), "versions")
        os.makedirs(base, exist_ok=True)
        # CLAIM the version number with an atomic mkdir (POSIX: mkdir is
        # exclusive): two concurrent registrations on a shared root would
        # otherwise read the same max, write into the SAME dir, and
        # interleave one run's version.json with the other's artifact
        # bytes — serving bytes attributed to the wrong run
        while True:
            vdir = os.path.join(base, str(version))
            try:
                os.makedirs(vdir)
                break
            except FileExistsError:
                version += 1
        _atomic_write(
            os.path.join(vdir, "artifact"), run.artifact_bytes(artifact_name)
        )
        _write_json(
            os.path.join(vdir, "version.json"),
            {
                "model": model_name,
                "version": version,
                "source_experiment": run.experiment,
                "source_run_id": run.run_id,
                "source_artifact": artifact_name,
                "stage": "None",
                "status": "READY",
                "created": time.time(),
            },
        )
        return version

    def transition(
        self,
        model_name: str,
        version: int,
        stage: str,
        archive_existing: bool = True,
    ) -> None:
        """Move ``version`` to ``stage``; with ``archive_existing`` every
        other version currently in that stage goes to Archived — the
        reference's transition_model_version_stage(...,
        archive_existing_versions=True) (manage_model_registry.py:84-93)."""
        if stage not in STAGES:
            raise ValueError(f"unknown stage {stage!r}; one of {STAGES}")
        # validate BEFORE any write: archiving siblings first would let a
        # failed call (typo'd version) vacate Production with nothing
        # promoted into it — a destructive no-op
        versions = self._versions(model_name)
        target = next(
            (m for m in versions if m["version"] == version), None
        )
        if target is None:
            raise FileNotFoundError(f"no version {version} of {model_name}")
        # Archive the vacated stage's holders only for the singleton
        # stages: 'None'/'Archived' hold any number of versions, and
        # re-archiving already-Archived versions would be O(versions)
        # redundant writes on every archival.
        if archive_existing and stage in ("Staging", "Production"):
            for meta in versions:
                if meta["version"] != version and meta["stage"] == stage:
                    meta["stage"] = "Archived"
                    self._write_version(model_name, meta)
        target["stage"] = stage
        self._write_version(model_name, target)

    def _write_version(self, model_name: str, meta: dict) -> None:
        vdir = os.path.join(
            self._model_dir(model_name), "versions", str(meta["version"])
        )
        _write_json(os.path.join(vdir, "version.json"), meta)

    def versions(self, model_name: str) -> list[dict]:
        """All version metadata, ascending — the reference's
        search_model_versions listing."""
        return self._versions(model_name)

    def latest(self, model_name: str, stage: str | None = None) -> dict | None:
        """Newest version overall, or the newest in ``stage`` (the serving
        lookup: latest('m', 'Production') is what a scorer loads)."""
        versions = self._versions(model_name)
        if stage is not None:
            versions = [v for v in versions if v["stage"] == stage]
        return versions[-1] if versions else None

    def load_artifact(self, model_name: str, stage: str = "Production") -> bytes:
        """Model bytes for the newest version in ``stage`` — for a pickled
        ``MlpFitResult``, unpickle and pass to mlp_reconstruction_scores
        (ml/training.py), which ships the parameters to executors in its
        closure."""
        meta = self.latest(model_name, stage)
        if meta is None:
            raise FileNotFoundError(f"no {model_name} version in stage {stage}")
        p = os.path.join(
            self._model_dir(model_name),
            "versions",
            str(meta["version"]),
            "artifact",
        )
        with open(p, "rb") as f:
            return f.read()


# ---------------------------------------------------------------------------
# HTTP-MLflow swap seam
# ---------------------------------------------------------------------------
#
# Everything in this package consumes the tracker through the FOUR duck-typed
# verbs (start_run -> run.log_params / run.log_metrics(step=) /
# run.log_artifact / run.end) and reads back through runs()/
# find_latest_run_id()/get_run(). A deployment with a real MLflow tracking
# server swaps the file backend by passing an ``MlflowTracker`` anywhere a
# ``Tracker`` is accepted — the trainers (ml/training.py) only ever touch
# the run verbs, so no caller changes. The adapter is
# import-gated: this container ships no ``mlflow`` package, so it exists as
# the documented seam plus an interface-parity test
# (tests/test_registry_ml.py); on an environment with MLflow installed it
# talks to the server the reference's own scripts use
# (train_autoencoder.py:117-180, tracking URI from env).


class MlflowRunAdapter:
    """Duck-type twin of ``Run`` over an ``mlflow`` run, addressed by
    run_id through ``MlflowClient`` so the SAME adapter works for the
    active run and for runs re-opened via ``get_run`` (module-level
    ``mlflow.log_*`` would silently write to whatever run happens to be
    active). Carries ``experiment`` and serves ``artifact_bytes`` so
    ``ModelRegistry.register(model, run, name)`` works unchanged on this
    backend — the full read-back surface the seam comment promises."""

    def __init__(self, mlflow_mod, run_id: str, experiment: str):
        self._mlflow = mlflow_mod
        self._client = mlflow_mod.tracking.MlflowClient()
        self.run_id = run_id
        self.experiment = experiment

    def log_params(self, params: dict) -> None:
        for k, v in params.items():
            self._client.log_param(self.run_id, k, str(v))

    def log_metrics(self, metrics: dict, step: int = 0) -> None:
        for k, v in metrics.items():
            self._client.log_metric(self.run_id, k, float(v), step=int(step))

    def log_artifact(self, name: str, data: bytes) -> str:
        import tempfile

        _check_artifact_name(name)
        # the temp copy is transport only — removed on exit, and the
        # return value is the DURABLE store URI, not the scratch path
        with tempfile.TemporaryDirectory(prefix="mlflow_artifact_") as d:
            path = os.path.join(d, name)
            with open(path, "wb") as f:
                f.write(data)
            self._client.log_artifact(self.run_id, path)
        info = self._client.get_run(self.run_id).info
        return f"{info.artifact_uri}/{name}"

    def artifact_bytes(self, name: str) -> bytes:
        _check_artifact_name(name)
        local = self._mlflow.artifacts.download_artifacts(
            run_id=self.run_id, artifact_path=name
        )
        with open(local, "rb") as f:
            return f.read()

    def end(self, status: str = "FINISHED") -> None:
        self._client.set_terminated(self.run_id, status=status)


class MlflowTracker:
    """``Tracker`` twin over a real MLflow tracking server (import-gated:
    raises ImportError where ``mlflow`` is not installed — this container).
    ``tracking_uri`` is the reference's ``MLFLOW_TRACKING_URI``."""

    def __init__(self, tracking_uri: str):
        import mlflow  # noqa: F401 — hard requirement for this backend

        self._mlflow = mlflow
        mlflow.set_tracking_uri(tracking_uri)

    def start_run(self, experiment: str) -> MlflowRunAdapter:
        self._mlflow.set_experiment(experiment)
        active = self._mlflow.start_run()
        return MlflowRunAdapter(self._mlflow, active.info.run_id, experiment)

    def runs(self, experiment: str) -> list[dict]:
        """Run metadata in the FILE BACKEND's nested shape (params dict,
        per-metric step histories, start_time in epoch seconds) — a caller
        written against ``Tracker.runs`` must keep working after the swap,
        which mlflow.search_runs' flattened pandas records ('metrics.loss'
        columns, Timestamps) would break."""
        client = self._mlflow.tracking.MlflowClient()
        exp = client.get_experiment_by_name(experiment)
        if exp is None:
            return []
        out = []
        for r in client.search_runs(
            [exp.experiment_id], order_by=["attributes.start_time ASC"]
        ):
            metrics = {
                k: [
                    {"step": int(m.step), "value": float(m.value)}
                    for m in client.get_metric_history(r.info.run_id, k)
                ]
                for k in r.data.metrics
            }
            out.append(
                {
                    "run_id": r.info.run_id,
                    "experiment": experiment,
                    "start_time": (r.info.start_time or 0) / 1000.0,
                    "end_time": (
                        r.info.end_time / 1000.0 if r.info.end_time else None
                    ),
                    "status": r.info.status,
                    "params": dict(r.data.params),
                    "metrics": metrics,
                    "artifacts": [
                        a.path for a in client.list_artifacts(r.info.run_id)
                    ],
                }
            )
        return out

    def find_latest_run_id(self, experiment: str) -> str | None:
        df = self._mlflow.search_runs(
            experiment_names=[experiment],
            order_by=["start_time DESC"],
            max_results=1,
        )
        return None if df.empty else df.iloc[0]["run_id"]

    def get_run(self, experiment: str, run_id: str) -> MlflowRunAdapter:
        """Re-open a run by id (read-back + further run-targeted logging) —
        same signature as ``Tracker.get_run``."""
        self._mlflow.tracking.MlflowClient().get_run(run_id)  # raises if absent
        return MlflowRunAdapter(self._mlflow, run_id, experiment)
