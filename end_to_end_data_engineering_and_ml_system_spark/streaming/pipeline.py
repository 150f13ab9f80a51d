"""Structured Streaming layer (SURVEY.md §2.10).

Re-expresses the reference's streaming scorer
(/root/reference/scripts/stream_anomaly_detector.py:390-425) and adds what it
lacks: event-time watermarks (ST4), native windowed aggregation in the stream
(ST5 — the reference buckets post-hoc in pandas), watermarked dedup, rate
control via ``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` (ST3's working
equivalent), and cached-batch dual-sink routing in ``foreachBatch`` (the
reference recomputes each micro-batch 4-6×, SURVEY §3.1 step 7).

A file source stands in for Kafka (no broker in the test container): the
events fixture is staged into a multi-file directory and replayed
incrementally. The Kafka wiring differs only in ``format("kafka")`` +
``from_json(value)`` — the JSON decode path is exercised here too (S5/F1).
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..scratch import scratch_root, scratch_unique

#: schema of the *staged* stream source (staging already rebuilt ts as a
#: proper timestamp from the fixtures' nanos longs)
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# default (conf-less) staging root; ``stage_events_dir`` prefers the
# ``spark.e2e.scratchDir`` session conf when set — see scratch.py. The
# replay harness pins file mtimes with os.utime, so whatever root is used
# must be POSIX-visible from the driver (a shared mount on a cluster).
_STAGE_ROOT = os.path.join(tempfile.gettempdir(), "e2e_spark_stream_stage")


def _await_bounded(q, timeout_s: int) -> None:
    """Wait for a bounded (availableNow) replay to finish. On timeout the
    query is STOPPED and a TimeoutError raised — ``awaitTermination``'s
    boolean return is otherwise trivially ignored, silently handing the
    caller a partial sink/state while the query keeps mutating it in the
    background."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"bounded streaming replay did not finish within {timeout_s}s"
        )


def _pin_mtimes(out: str) -> int:
    """FileStreamSource replays files in modification-time order, and
    parquet write-task completion order is arbitrary — pin increasing
    mtimes along the part index (= range-partition order) so replay
    follows the partitioning key. Returns the base mtime used."""
    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    base = int(os.path.getmtime(os.path.join(out, parts[0])))
    for i, f in enumerate(parts):
        t = base + i * 10
        os.utime(os.path.join(out, f), (t, t))
    return base


#: staging-complete marker written by OUR code after every post-write step
#: (mtime pinning, sentinel files). The parquet writer's _SUCCESS is not a
#: safe idempotency marker for those dirs: it exists as soon as the data
#: files land, so a crash between the write and the pinning/sentinel steps
#: would leave a permanently "complete" dir with unordered mtimes.
_STAGED_MARKER = "_STAGED"


def _mark_staged(out: str) -> None:
    with open(os.path.join(out, _STAGED_MARKER), "w"):
        pass


def _latest_per_key(
    df: DataFrame, key_col: str, order_cols: list[str]
) -> DataFrame:
    """Latest row per key under ``order_cols`` DESC — the shared compaction
    step of the CDC-apply runners (``run_latest_state_merge`` /
    ``run_merge_into_table``). One definition so a tie-breaking change can
    never drift between the rotated-snapshot and txlog variants."""
    from pyspark.sql import Window

    if "__rn" in df.columns:
        # withColumn would silently REPLACE the caller's column and the
        # final drop would destroy it
        raise ValueError(
            "latest-per-key input already has a __rn column; rename it"
        )
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _rotate_state_dir(state_dir: list, new_dir: str) -> None:
    """Advance the rotated-snapshot pointer and reap the SUPERSEDED
    snapshot. Write-new-then-read stays crash-safe (the pointer only moves
    after the new snapshot is fully written), but without reaping, a
    long-lived loop leaks one full state snapshot per micro-batch —
    O(batches x state) scratch growth. The previous dir is deleted only
    AFTER the pointer moves, so a crash mid-delete still leaves a complete
    readable snapshot."""
    import shutil

    prev = state_dir[0]
    state_dir[0] = new_dir
    # prev == new_dir happens when a re-delivered micro-batch (checkpoint
    # restart) recomputes the same state_{batch_id} path — reaping would
    # delete the snapshot just written and break the next batch's read
    if prev is not None and prev != new_dir:
        shutil.rmtree(prev, ignore_errors=True)


def stage_events_dir(
    spark: SparkSession, sf_dir: str, n_files: int = 8, sentinels: bool = False
) -> str:
    """Stage the events fixture as an n-file parquet directory so the file
    stream source replays it as multiple micro-batches. Idempotent per
    (sf_dir, n_files, sentinels).

    With ``sentinels=True``, two extra single-purpose files are appended
    AFTER the data files (far-future event times, later mtimes). Replayed
    last, they advance the event-time watermark past every real row, which
    lets outer stream-stream joins and late-closing windows flush their
    final state during a bounded replay: the first sentinel batch raises
    the max seen event time, the second gives the engine a batch that RUNS
    with that raised watermark (a batch's watermark reflects data through
    the previous batch), so eviction — and outer-row emission — happens
    before the query stops. Sentinel rows carry ``user_id = -1`` /
    negative event_ids so query code can filter them from results."""
    key = sf_dir.strip("/").replace("/", "_")
    suffix = "_sentinel" if sentinels else ""
    root = scratch_root(spark, "stream_stage", local_default=_STAGE_ROOT)
    out = os.path.join(root, f"{key}_{n_files}{suffix}")
    marker = os.path.join(out, _STAGED_MARKER)
    if not os.path.exists(marker):
        from ..sources.catalog import load_table

        (
            load_table(spark, sf_dir, "events")
            # range-partition on event time: files replay as roughly
            # time-ordered micro-batches, so watermarks behave as in a live
            # stream instead of seeing arbitrary-order arrivals
            .repartitionByRange(n_files, "ts")
            .write.mode("overwrite")
            .parquet(out)
        )
        base = _pin_mtimes(out)
        if sentinels:
            _write_sentinel_files(spark, out, base + n_files * 10 + 100)
        _mark_staged(out)
    return out


def _write_sentinel_files(spark: SparkSession, out: str, mtime_base: int) -> None:
    """Append two watermark-closing sentinel files (see stage_events_dir).
    Each carries one far-future row per joined event class so the sentinel
    survives a per-side ``event_type`` filter and advances BOTH sides'
    watermarks."""
    import datetime
    import glob
    import shutil

    for idx, day in enumerate((1, 2)):
        ts = datetime.datetime(2100, 1, day)
        rows = [
            (-1 - 10 * idx, ts, -1, "purchase", 0.0, "{}"),
            (-2 - 10 * idx, ts, -1, "click", 0.0, "{}"),
        ]
        tmp = os.path.join(out, f"_sentinel_tmp_{idx}")
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dest = os.path.join(out, f"sentinel-{idx}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(tmp)
        t = mtime_base + idx * 10
        os.utime(dest, (t, t))


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 2,
    sentinels: bool = False,
) -> DataFrame:
    """Incremental file-source stream of the events table with the ns→µs
    timestamp rebuild (same conversion as the batch catalog).

    ``sentinels=True`` requires ``max_files_per_trigger=1``: the two
    watermark-closing sentinel files only work as separate micro-batches
    (the first raises the max seen event time, the second RUNS with the
    raised watermark). Any larger trigger size can coalesce them into one
    final batch — then no batch ever runs after the watermark is raised
    and outer-join tails / late windows never flush."""
    if sentinels and max_files_per_trigger != 1:
        raise ValueError(
            "sentinels=True needs max_files_per_trigger=1 — larger trigger "
            "sizes can coalesce both sentinel files into the final "
            "micro-batch, so the raised watermark never gets a batch to "
            "run in and closing state is never flushed"
        )
    staged = stage_events_dir(spark, sf_dir, sentinels=sentinels)
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(staged)
    )


def windowed_counts(stream_df: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """Watermarked 5s tumbling-window counts + mean value per class — the
    dashboard query (A8/A11) running *inside* the stream (ST4/ST5)."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 seconds").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double")
                / F.count("value")
            ).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def json_envelope_decode(stream_df: DataFrame) -> DataFrame:
    """Kafka-value shape: encode each event to a JSON string, then decode with
    a pinned schema and flatten (S5→F1→P4, stream_anomaly_detector.py:413-416).
    The encode half mimics the producer (S10); in production the string
    arrives from Kafka."""
    value = F.to_json(
        F.struct("event_id", "user_id", "event_type", "value")
    ).alias("value")
    decoded_schema = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    return (
        stream_df.select(F.col("ts"), value)
        .select("ts", F.from_json("value", decoded_schema).alias("data"))
        .select("ts", "data.*")
    )


def dedup_within_watermark(
    stream_df: DataFrame, key: str = "event_id", watermark: str = "30 seconds"
) -> DataFrame:
    """Keyed streaming dedup with bounded state (the 100 TB answer to P10 on
    streams: state is pruned past the watermark)."""
    return stream_df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        [key]
    )


class rocksdb_state_provider:
    """Scope ``spark.sql.streaming.stateStore.providerClass`` to RocksDB
    for ONE query's start-to-stop window, restoring the previous provider
    on exit. State API v2 (``transformWithStateInPandas``) requires
    RocksDB, but the provider conf is session-global and fixed per query
    at start — a permanent set would silently move every later streaming
    query in the session onto RocksDB (different state format, disk use,
    checkpoint identity). Wrap the ``writeStream.start()`` /
    ``awaitTermination`` of a state-v2 query in this."""

    _ROCKSDB = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    _KEY = "spark.sql.streaming.stateStore.providerClass"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        try:
            self.prev = self.spark.conf.get(self._KEY)
        except Exception:
            self.prev = None
        self.spark.conf.set(self._KEY, self._ROCKSDB)
        return self

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self._KEY)
        else:
            self.spark.conf.set(self._KEY, self.prev)


class _replay_shuffle_partitions:
    """Pin spark.sql.shuffle.partitions for the lifetime of one bounded
    replay query, then restore. A streaming query fixes its state-store
    partition count at start; the vanilla-session default of 200 turns a
    10k-row fixture replay into 200-task micro-batches of pure overhead
    (measured 3-10× slower). Harness-only: production streams size this to
    the cluster, not to a fixture."""

    def __init__(self, spark: SparkSession, n: int = 8):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        if int(self.prev) > self.n:
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def run_to_memory_sink(
    agg_df: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
) -> DataFrame:
    """Execute a streaming DataFrame to completion with availableNow and
    return the memory-sink contents as a batch DataFrame."""
    spark = agg_df.sparkSession
    name = "sink_" + uuid.uuid4().hex[:12]
    ck = scratch_unique(spark, "e2e_ck")
    with _replay_shuffle_partitions(spark):
        q = (
            agg_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        _await_bounded(q, timeout_s)
    return spark.table(name)


def run_routed_foreach_batch(
    stream_df: DataFrame,
    score_fn: Callable[[DataFrame], DataFrame],
    threshold: float = 2.0,
    timeout_s: int = 300,
) -> tuple[list[int], list[int]]:
    """The reference's flagship loop done right (S8/P12/ST8): per micro-batch,
    ONE pass computes both routes — the normal-side sink is a real executed
    filter + count over the scored batch, and the anomaly-side count rides
    the same job as an observed metric (CollectMetrics sees every scored
    row; the downstream filter is not pushed through it — pinned by
    tests/test_streaming.py). The old shape persisted the batch and ran a
    separate count job per sink; for count-style sinks the cache write and
    the second job are pure overhead (guide §1.4/§5 — two actions over a
    cache vs one observed action; r16 same-JVM A/B: the old shape is 18%
    slower). Returns the per-batch (normal, anomaly) counts the sinks
    received.

    The single-pass observe shape is valid ONLY for count-style sinks: the
    anomaly rows are never routed anywhere as rows. A real dual-sink
    implementation (per-topic Kafka writes, the reference's S7/S8/P12
    shape) must revert to persist + two executed writes (the reference's
    cache/split/write/unpersist pattern), or the anomaly-side write is
    silently dropped."""
    from pyspark.sql import Observation

    normal_counts: list[int] = []
    anomaly_counts: list[int] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        obs = Observation()
        scored = score_fn(batch_df).observe(
            obs,
            F.count(F.when(F.col("prediction") == "anomaly", 1)).alias("a"),
        )
        # stand-ins for the two Kafka topic sinks (S7): the routing filter
        # still executes (normal side); the anomaly count is observed on
        # the same single pass
        normal_counts.append(
            scored.filter(F.col("prediction") == "normal").count()
        )
        anomaly_counts.append(obs.get["a"])

    ck = scratch_unique(stream_df.sparkSession, "e2e_ck")
    with _replay_shuffle_partitions(stream_df.sparkSession):
        q = (
            stream_df.writeStream.foreachBatch(process)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        _await_bounded(q, timeout_s)
    return normal_counts, anomaly_counts


def rate_replay_stream(
    spark: SparkSession,
    sf_dir: str,
    rows_per_batch: int = 500,
    table: str = "events",
    order_col: str = "event_id",
) -> DataFrame:
    """Rate-limited fixture replay (S14): the Spark-native analog of the
    reference's sleep-loop simulator (simulate_network_traffic.py:54-215).

    A ``rate-micro-batch`` source emits exactly ``rows_per_batch`` sequence
    numbers per trigger; a stream-static join on the fixture's row index
    turns those into fixture rows, so replay order and batch boundaries are
    deterministic (unlike wall-clock ``rate``, and unlike the reference's
    asyncio sleeps). ``arrival_ts`` carries the synthetic arrival time.

    Scale path: the static side is the bounded fixture; at 100 TB you replay
    from Kafka instead — this operator exists to test downstream logic under
    micro-batch arrival without a broker.
    """
    from pyspark.sql import Window

    from ..sources.catalog import load_table

    static = load_table(spark, sf_dir, table)
    # row index 0..N-1 in replay order. A global row_number needs a single
    # sort partition — fine for a bounded replay fixture, never used on the
    # 100 TB path (see docstring).
    w = Window.orderBy(order_col)
    indexed = static.withColumn("__idx", F.row_number().over(w) - F.lit(1))
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
        .select(
            F.col("value").alias("__idx"),
            F.col("timestamp").alias("arrival_ts"),
        )
    )
    return rate.join(indexed, "__idx").drop("__idx")


def run_replay_until(
    replay_df: DataFrame,
    expected_rows: int,
    timeout_s: int = 120,
) -> DataFrame:
    """Run a rate-replay stream until the memory sink holds ``expected_rows``
    rows (the rate source is unbounded, so availableNow doesn't apply), then
    stop and return the sink contents."""
    import time

    spark = replay_df.sparkSession
    name = "replay_" + uuid.uuid4().hex[:12]
    ck = scratch_unique(spark, "e2e_ck")
    with _replay_shuffle_partitions(spark):
        q = (
            replay_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .start()
        )
    try:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            # a dead query's sink count never grows — surface the real
            # streaming error now instead of spinning out the timeout
            # and masking it behind a row-count TimeoutError
            if q.exception() is not None:
                raise q.exception()
            if spark.table(name).count() >= expected_rows:
                break
            time.sleep(0.5)
        else:
            raise TimeoutError(
                f"replay produced {spark.table(name).count()} of "
                f"{expected_rows} rows within {timeout_s}s"
            )
    finally:
        q.stop()
    return spark.table(name)


def running_user_totals(
    stream_df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator (ST6, declared-optional surface): per-key
    running (count, sum) maintained across micro-batches with
    ``applyInPandasWithState`` — the engine's supported path for stateful
    logic Spark's built-in windowed aggs can't express (e.g. model-state
    per entity). Arrow-batched; state is one small tuple per key.

    Scale note: state lives in the state store partitioned by key; with a
    watermark + ``GroupStateTimeout.EventTimeTimeout`` idle keys expire.
    Here the replay fixture is bounded, so NoTimeout keeps the test
    deterministic."""
    import pandas as pd  # noqa: F401  (worker-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((int(n), float(total)))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [int(n)], "total_value": [float(total)]}
        )

    return (
        stream_df.select(key_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def decode_or_dead_letter(
    df: DataFrame, schema_ddl: str, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """ST8 done right: instead of dropping a whole micro-batch on error
    (stream_anomaly_detector.py:371-372), undecodable records split off to
    a dead-letter frame (raw payload + arrival time) while good records
    flow on. ``from_json`` yields NULL for malformed input, so the split is
    a pair of filters — no row-level try/except.

    PERMISSIVE ``from_json`` yields an all-null struct (not NULL) for
    malformed input, so corruption is detected via the declared
    ``_corrupt_record`` column, which Spark fills with the raw payload.
    NULL payloads (Kafka tombstones) and the JSON literal ``null`` are a
    separate case: ``from_json`` returns a NULL STRUCT for those — no
    corrupt-record fill — so the struct-level null check below is what
    keeps them out of the good stream (they would otherwise pass the
    corrupt filter and emit phantom all-null rows)."""
    full_ddl = f"{schema_ddl}, _corrupt_record string"
    parsed = df.withColumn(
        "__data",
        F.from_json(
            F.col(value_col),
            full_ddl,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    bad = F.col("__data._corrupt_record").isNotNull() | F.col("__data").isNull()
    good = parsed.filter(~bad).select("__data.*").drop("_corrupt_record")
    dead = parsed.filter(bad).select(
        F.col(value_col).alias("raw_value"),
        F.current_timestamp().alias("dlq_ts"),
    )
    return good, dead


def run_dead_letter_foreach_batch(
    value_stream: DataFrame,
    schema_ddl: str,
    timeout_s: int = 300,
) -> tuple[int, int]:
    """Per micro-batch: decode, route good rows onward and bad rows to the
    dead-letter sink (counts stand in for the two sinks). Cache once per
    batch — the reference recomputes each batch per consumer."""
    good_total = [0]
    dead_total = [0]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cached = batch_df.persist()
        try:
            good, dead = decode_or_dead_letter(cached, schema_ddl)
            good_total[0] += good.count()
            dead_total[0] += dead.count()
        finally:
            cached.unpersist()

    ck = scratch_unique(value_stream.sparkSession, "e2e_ck")
    with _replay_shuffle_partitions(value_stream.sparkSession):
        q = (
            value_stream.writeStream.foreachBatch(process)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        _await_bounded(q, timeout_s)
    return good_total[0], dead_total[0]


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "60 seconds",
    watermark: str = "30 seconds",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join (the declared §2.3 surface the
    reference never needed): both sides buffer state bounded by the
    watermark, matches require the right event within ``within`` AFTER the
    left event. The time-range predicate is what lets Spark expire state —
    an unconstrained stream-stream join would buffer forever.

    ``how="leftOuter"`` additionally emits null-extended left rows once the
    watermark proves no match can still arrive. In a bounded replay those
    tail rows only flush if something advances the watermark past the last
    real event — replay the source with watermark-closing sentinels
    (``stage_events_dir(..., sentinels=True)``) to get the complete,
    deterministic left-join result set."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return l.join(r, cond, how)


def running_max_with_state(
    stream_df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running max via ``transformWithStateInPandas`` — the Spark-4
    arbitrary-state API (successor to applyInPandasWithState, ST6): typed
    ValueState per key, Arrow-batched input, update-mode emission. Max is
    order-insensitive, so the final state is exactly the batch groupBy max
    regardless of micro-batch boundaries.

    Requires ``protobuf`` (the state-server wire format) and the RocksDB
    state store provider — run the query under
    ``with rocksdb_state_provider(spark):`` so the provider conf is scoped
    to that query and restored after (this function builds the plan only
    and mutates no session state). The test container ships neither
    protobuf nor a way to install it, so this surface is declared +
    import-gated; the equivalent coverage runs through
    ``running_user_totals`` (applyInPandasWithState), which has no
    protobuf dependency."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas needs the protobuf package"
        ) from e
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = f"{key_col} bigint, max_value double"

    class RunningMax(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._mx = handle.getValueState("mx", "mx double")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            mx = self._mx.get()[0] if self._mx.exists() else None
            for pdf in rows:
                m = pdf[value_col].max()
                if pd.notna(m):
                    mx = float(m) if mx is None else max(mx, float(m))
            if mx is not None:
                self._mx.update((mx,))
                yield pd.DataFrame({key_col: [key[0]], "max_value": [mx]})

        def close(self) -> None:
            pass

    return (
        stream_df.select(key_col, value_col)
        .groupBy(key_col)
        .transformWithStateInPandas(
            RunningMax(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def run_binned_count_accumulator(
    stream_df: DataFrame,
    bin_col: str = "bin",
    timeout_s: int = 300,
) -> dict[int, int]:
    """foreachBatch accumulator for associative per-bin counts: each
    micro-batch contributes its own grouped counts (map-side combined
    inside the batch), merged into a tiny driver-side dict. Because counts
    add, the accumulated totals are EXACTLY the batch groupBy over the
    whole replayed input — the equivalence a streaming monitor needs to
    share its arithmetic (and its oracle) with the batch query. The
    driver state is one integer per bin, independent of stream volume."""
    totals: dict[int, int] = {}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        for r in batch_df.groupBy(bin_col).agg(F.count("*").alias("n")).collect():
            totals[r[bin_col]] = totals.get(r[bin_col], 0) + r["n"]

    ck = scratch_unique(stream_df.sparkSession, "psi_ck")
    with _replay_shuffle_partitions(stream_df.sparkSession):
        q = (
            stream_df.writeStream.foreachBatch(process)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        _await_bounded(q, timeout_s)
    return totals


def run_latest_state_merge(
    stream_df: DataFrame,
    key_col: str,
    order_cols: list[str],
    timeout_s: int = 300,
) -> DataFrame:
    """Streaming CDC-apply: maintain a latest-row-per-key state TABLE by
    merging each micro-batch into it — the lakehouse `MERGE INTO` loop a
    Delta/Iceberg pipeline runs per batch, here against rotated parquet
    snapshot dirs (write-new-then-read, never overwrite-in-place, so a
    crashed batch can't corrupt the readable snapshot).

    Each batch is first compacted to its own latest-per-key (cheap: the
    batch is small), then the union with the standing snapshot is
    re-compacted. Ordering is by ``order_cols`` DESC (not arrival order),
    so the final state equals the BATCH latest-per-key over the entire
    replayed input regardless of how rows were split into micro-batches —
    that equivalence is what lets this streaming loop share the batch
    query's oracle. State size is one row per key; per-batch cost is
    O(batch + state), independent of total history."""
    spark = stream_df.sparkSession
    root = scratch_unique(spark, "merge_state")
    state_dir = [None]  # current snapshot path, rotated per batch

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            # an empty/no-data micro-batch must not re-read and rewrite
            # the whole state snapshot as a new rotation
            return
        compacted = _latest_per_key(batch_df, key_col, order_cols)
        if state_dir[0] is not None:
            prev = batch_df.sparkSession.read.parquet(state_dir[0])
            compacted = _latest_per_key(
                prev.unionByName(compacted), key_col, order_cols
            )
        new_dir = os.path.join(root, f"state_{batch_id}")
        compacted.write.mode("overwrite").parquet(new_dir)
        _rotate_state_dir(state_dir, new_dir)

    ck = scratch_unique(spark, "merge_ck")
    with _replay_shuffle_partitions(spark):
        q = (
            stream_df.writeStream.foreachBatch(process)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        _await_bounded(q, timeout_s)
    if state_dir[0] is None:
        return spark.createDataFrame([], stream_df.schema)
    return spark.read.parquet(state_dir[0])


def run_merge_into_table(
    stream_df: DataFrame,
    table,
    key_col: str,
    order_cols: list,
    timeout_s: int = 300,
) -> DataFrame:
    """Streaming MERGE INTO a transaction-log table (sources/txlog.py):
    each micro-batch compacts to its latest-per-key and commits one MERGE
    version — so the table's history is the batch trail (one auditable
    version per micro-batch) and its final snapshot equals the batch SCD1
    view, independent of how the stream was split (ordering is by
    ``order_cols``, not arrival). The versioned twin of
    ``run_latest_state_merge``'s rotated snapshots."""
    spark = stream_df.sparkSession
    ck = scratch_unique(spark, "txmerge_ck")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # txn keyed on the checkpoint identity: a re-delivered batch_id
        # (sink failure after commit, source replay) is a no-op instead
        # of a duplicate MERGE version — the exactly-once contract
        table.merge(
            _latest_per_key(batch_df, key_col, list(order_cols)),
            key_col,
            list(order_cols),
            txn=(ck, batch_id),
        )

    with _replay_shuffle_partitions(spark):
        q = (
            stream_df.writeStream.foreachBatch(process)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        _await_bounded(q, timeout_s)
    snap = table.snapshot()
    if snap is None:
        return spark.createDataFrame([], stream_df.schema)
    return snap
