"""Streaming observability: per-micro-batch progress metrics captured
in-process (the reference logs per-batch counts/latency ad hoc inside
foreachBatch — stream_anomaly_detector.py:322-368; Spark's
StreamingQueryListener is the engine-native place for that telemetry:
every query reports rows/sec, batch duration, watermark, and state-store
size without touching the data path)."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetric:
    query_id: str
    batch_id: int
    num_input_rows: int
    batch_duration_ms: int | None  # durationMs["triggerExecution"]
    watermark: str | None
    state_rows: int | None
    #: Spark's full ``durationMs`` breakdown in ms: ``queryPlanning``,
    #: ``getBatch``, ``addBatch``, ``walCommit``, ``latestOffset``,
    #: ``commitOffsets`` and ``triggerExecution`` (keys a trigger did not
    #: run are absent)
    durations: dict[str, int] = field(default_factory=dict)


@dataclass
class ProgressCapture(StreamingQueryListener):
    """Collects one :class:`BatchMetric` per progress event. Attach with
    ``spark.streams.addListener`` (and remove after — listeners are
    session-global); progress events arrive asynchronously, so readers
    should poll :meth:`for_query` until the expected batches appear."""

    metrics: list[BatchMetric] = field(default_factory=list)

    def onQueryStarted(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state = p.stateOperators
        durations = dict(p.durationMs or {})
        self.metrics.append(
            BatchMetric(
                query_id=str(p.id),
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                batch_duration_ms=durations.get("triggerExecution"),
                watermark=(p.eventTime or {}).get("watermark"),
                state_rows=(
                    sum(s.numRowsTotal for s in state) if state else None
                ),
                durations=durations,
            )
        )

    def onQueryIdle(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryTerminated(self, event) -> None:  # pragma: no cover - no-op
        pass

    def for_query(self, query_id: str) -> list[BatchMetric]:
        return [m for m in self.metrics if m.query_id == str(query_id)]


class capture_progress:
    """Context manager: attach a :class:`ProgressCapture` for the block's
    duration and detach it afterwards (listeners outliving their block
    would keep observing every other test's queries)."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self.listener = ProgressCapture()

    def __enter__(self) -> ProgressCapture:
        self._spark.streams.addListener(self.listener)
        return self.listener

    def __exit__(self, *exc) -> None:
        self._spark.streams.removeListener(self.listener)
