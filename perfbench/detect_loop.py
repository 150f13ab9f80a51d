"""The detect loop, composed only from the package's public functions, plus
the dashboard that reads its sinks while it writes.

Per micro-batch: file stream source -> ``decode_or_dead_letter`` ->
``align_features`` -> ``apply_standardizer_literal`` ->
``mlp_reconstruction_scores`` -> ``classify_by_threshold``/``confidence``.
The routed rows are persisted once and written to an alert sink, a normal
sink and a dead-letter sink. Each sink write lands in a hidden temporary
directory that is renamed to ``batch=<id>`` when complete, so a reader never
sees half a batch, and the rename is the commit an alert's latency ends at.

The per-batch glue (persist, write order, atomic rename) lives here, in the
benchmark, not in the package.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
import traceback

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.functions.scalars import (
    classify_by_threshold,
    confidence,
)
from end_to_end_data_engineering_and_ml_system_spark.ml.pipeline import (
    align_features,
    apply_standardizer_literal,
)
from end_to_end_data_engineering_and_ml_system_spark.ml.registry import ModelRegistry
from end_to_end_data_engineering_and_ml_system_spark.ml.training import (
    MlpFitResult,
    mlp_reconstruction_scores,
)
from end_to_end_data_engineering_and_ml_system_spark.operators.aggregations import (
    histogram,
    percentiles_by_group,
)
from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
    decode_or_dead_letter,
)
from end_to_end_data_engineering_and_ml_system_spark.streaming.schemas import (
    MODEL_FEATURES,
    flow_event_ddl,
)

from flowgen import CODE, HIDDEN, TICK_STRIDE, ReferenceModel

MODEL_NAME = "flow_detector"
SINKS = ("alert", "normal", "dlq")
ROUTED_SCHEMA = "event_id long, anomaly_score double, prediction string, confidence double"


def load_model(registry_root: str) -> ReferenceModel:
    """The Production detector from the model registry."""
    return ReferenceModel.from_artifact(
        ModelRegistry(registry_root).load_artifact(MODEL_NAME, "Production")
    )


class Detector:
    """``foreachBatch`` body plus the per-batch record the metrics need."""

    def __init__(self, model: ReferenceModel, sink_root: str, tracer):
        self.stats_row = model.stats_row()
        self.fit = MlpFitResult(
            theta=model.theta, losses=[], dim=model.dim, hidden=HIDDEN, code=CODE
        )
        self.threshold = model.threshold
        self.sink_root = sink_root
        self.tracer = tracer
        self.batches: list[dict] = []
        self.errors: list[str] = []
        for s in SINKS:
            os.makedirs(os.path.join(sink_root, s), exist_ok=True)

    def _routed(self, raw: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(routed rows, dead letters, decoded rows) of one batch."""
        span = self.tracer.span
        with span("streaming.pipeline.decode_or_dead_letter"):
            good, dead = decode_or_dead_letter(raw, flow_event_ddl())
        if self.tracer.enabled:
            good = good.persist()
            with span("streaming.pipeline.decode_materialize"):
                good.count()
        with span("ml.pipeline.align_features"):
            # event_id rides along as a double: ids stay below 2^53, so the
            # round trip through align_features' cast is exact
            aligned = align_features(good, ["event_id", *MODEL_FEATURES])
        with span("ml.pipeline.apply_standardizer_literal"):
            z = apply_standardizer_literal(aligned, self.stats_row, MODEL_FEATURES)
        feats = z.select(
            F.col("event_id").cast("long").alias("event_id"),
            F.array(*[f"z_{c}" for c in MODEL_FEATURES]).alias("features"),
        )
        with span("ml.training.mlp_reconstruction_scores"):
            scored = mlp_reconstruction_scores(feats, self.fit, "event_id")
        with span("functions.scalars.classify_by_threshold"):
            routed = scored.select(
                "event_id",
                F.col("recon_mse").alias("anomaly_score"),
                classify_by_threshold("recon_mse", self.threshold).alias("prediction"),
                confidence("recon_mse").alias("confidence"),
            )
        return routed, dead, good

    def _write(self, frame: DataFrame, sink: str, batch_id: int) -> int:
        sink_dir = os.path.join(self.sink_root, sink)
        tmp = os.path.join(sink_dir, f"_tmp_{batch_id}")
        frame.write.mode("overwrite").parquet(tmp)
        dest = os.path.join(sink_dir, f"batch={batch_id}")
        if os.path.exists(dest):  # a re-delivered batch replaces its output
            shutil.rmtree(dest)
        os.rename(tmp, dest)
        return sum(1 for n in os.listdir(dest) if n.startswith("part-"))

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        try:
            self._process(batch_df, batch_id)
        except Exception:
            self.errors.append(traceback.format_exc())
            raise

    def _process(self, batch_df: DataFrame, batch_id: int) -> None:
        span = self.tracer.span
        t0 = time.perf_counter()
        rec = {"batch_id": batch_id, "write_ms": {}, "commit": {}, "files": 0}
        with span("streaming.pipeline.micro_batch"):
            raw = batch_df.persist()
            routed, dead, good = self._routed(raw)
            routed = routed.persist()
            rec["plan_ms"] = (time.perf_counter() - t0) * 1000.0
            if self.tracer.enabled:
                with span("ml.pipeline.score_materialize"):
                    routed.count()
            frames = {
                "alert": routed.filter(F.col("prediction") == "anomaly"),
                "normal": routed.filter(F.col("prediction") == "normal"),
                "dlq": dead,
            }
            for sink in SINKS:
                w0 = time.perf_counter()
                with span(f"sources.sink_write.{sink}"):
                    rec["files"] += self._write(frames[sink], sink, batch_id)
                rec["write_ms"][sink] = (time.perf_counter() - w0) * 1000.0
                rec["commit"][sink] = time.time()
            routed.unpersist()
            if self.tracer.enabled:
                good.unpersist()
            raw.unpersist()
        self.batches.append(rec)


def start_stream(
    spark: SparkSession,
    in_dir: str,
    checkpoint: str,
    process,
    files_per_trigger: int | None = None,
    available_now: bool = False,
):
    reader = spark.readStream.schema("value string")
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    writer = reader.text(in_dir).writeStream.foreachBatch(process)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.option("checkpointLocation", checkpoint).start()


def wait_ready(query, timeout_s: float = 60.0) -> None:
    """Block until the query has started and polls for input."""
    deadline = time.monotonic() + timeout_s
    while query.status["message"] != "Waiting for data to arrive":
        if query.exception() is not None:
            raise RuntimeError(f"stream failed to start: {query.exception()}")
        if time.monotonic() > deadline:
            raise TimeoutError("stream did not become ready")
        time.sleep(0.005)


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

PANELS = ("alerts_by_bucket", "score_histogram", "class_percentiles", "top_alerts")


class Dashboard(threading.Thread):
    """Refreshes the reference dashboard's four panels over the growing
    sinks while the detector writes, in the detector's own session.

    Refreshes are due at ``start + k * interval_s`` (epoch seconds); a
    refresh that overruns skips the slots it missed. The fixed schedule keeps
    the overlap between refreshes and micro-batches alike from run to run."""

    def __init__(self, spark: SparkSession, sink_root: str, start: float,
                 interval_s: float, tracer):
        super().__init__(daemon=True, name="dashboard")
        self.spark = spark
        self.sink_root = sink_root
        self.start_at = start
        self.interval_s = interval_s
        self.tracer = tracer
        self.stop_event = threading.Event()
        self.refresh_ms: list[float] = []
        self.refresh_at: list[float] = []  # epoch start of each refresh
        self.panel_ms: dict[str, list[float]] = {p: [] for p in PANELS}
        self.attempted = 0
        self.failed = 0

    def _sink(self, name: str) -> DataFrame:
        # the partition column appears only once a batch has landed, so
        # project it away to keep both sinks union-compatible
        return self.spark.read.schema(ROUTED_SCHEMA).parquet(
            os.path.join(self.sink_root, name)
        ).select("event_id", "anomaly_score", "prediction", "confidence")

    def refresh(self) -> None:
        span = self.tracer.span
        at = time.time()
        t0 = time.perf_counter()
        alerts = self._sink("alert")
        scored = self._sink("normal").unionByName(alerts)
        panels = {
            # alert counts per generator tick (creation-time bucket)
            "alerts_by_bucket": lambda: histogram(
                alerts.withColumn(
                    "created_tick", F.floor(F.col("event_id") / F.lit(TICK_STRIDE))
                ),
                "created_tick",
                width=1.0,
            ),
            "score_histogram": lambda: histogram(
                scored, "anomaly_score", width=0.25, by=["prediction"]
            ),
            "class_percentiles": lambda: percentiles_by_group(
                scored, "anomaly_score", ["prediction"], (0.5, 0.9, 0.99)
            ),
            "top_alerts": lambda: alerts.orderBy(
                F.col("anomaly_score").desc(), "event_id"
            ).limit(10),
        }
        with span("dashboard.refresh"):
            for name, build in panels.items():
                p0 = time.perf_counter()
                with span(f"operators.aggregations.{name}"):
                    build().collect()
                self.panel_ms[name].append((time.perf_counter() - p0) * 1000.0)
        self.refresh_ms.append((time.perf_counter() - t0) * 1000.0)
        self.refresh_at.append(at)

    def run(self) -> None:
        slot = 0
        while not self.stop_event.wait(
            max(self.start_at + slot * self.interval_s - time.time(), 0.0)
        ):
            self.attempted += 1
            try:
                self.refresh()
            except Exception:
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
            slot = int((time.time() - self.start_at) // self.interval_s) + 1

    def stop(self, timeout_s: float = 60.0) -> None:
        self.stop_event.set()
        self.join(timeout_s)
        if self.is_alive():
            raise TimeoutError("dashboard refresh did not finish")


# ---------------------------------------------------------------------------
# reading the sinks back
# ---------------------------------------------------------------------------


def read_sinks(sink_root: str) -> dict:
    """All routed rows (with their sink and batch) and the DLQ row count,
    read with pyarrow, independently of the engine."""
    import pyarrow.dataset as ds

    def table(sink):
        return ds.dataset(
            os.path.join(sink_root, sink),
            format="parquet",
            partitioning="hive",
            ignore_prefixes=["_", "."],
        ).to_table()

    out = {k: [] for k in ("event_id", "anomaly_score", "prediction", "sink", "batch")}
    for sink in ("alert", "normal"):
        t = table(sink)
        if not t.num_rows:  # no partition column to read
            continue
        out["event_id"].append(t.column("event_id").to_numpy())
        out["anomaly_score"].append(t.column("anomaly_score").to_numpy())
        out["prediction"].append(np.asarray(t.column("prediction").to_pylist(), dtype=object))
        out["sink"].append(np.full(t.num_rows, sink, dtype=object))
        out["batch"].append(t.column("batch").to_numpy())
    cols = {k: np.concatenate(v) if v else np.array([], dtype=object) for k, v in out.items()}
    cols["dlq_rows"] = table("dlq").num_rows
    return cols
