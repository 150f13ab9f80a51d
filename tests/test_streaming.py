"""Streaming semantics: batch-equivalence replay + foreachBatch routing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table
from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
    dedup_within_watermark,
    events_stream,
    run_routed_foreach_batch,
    run_to_memory_sink,
)


def test_stream_dedup_keeps_unique_keys(spark, sf_dir):
    # event_id is unique -> watermarked dedup must keep every row
    out = run_to_memory_sink(
        dedup_within_watermark(events_stream(spark, sf_dir)).select("event_id"),
        output_mode="append",
    )
    total = load_table(spark, sf_dir, "events").count()
    assert out.count() == total
    assert out.distinct().count() == total


def test_foreach_batch_routing_partitions_stream(spark, sf_dir):
    def score(batch_df):
        return batch_df.withColumn(
            "prediction",
            F.when(F.col("value") > 400, "anomaly").otherwise("normal"),
        )

    normal, anomaly = run_routed_foreach_batch(events_stream(spark, sf_dir), score)
    assert len(normal) >= 2  # multi-file staging -> multiple micro-batches
    total = load_table(spark, sf_dir, "events").count()
    assert sum(normal) + sum(anomaly) == total
    expected_anomaly = (
        load_table(spark, sf_dir, "events").filter(F.col("value") > 400).count()
    )
    assert sum(anomaly) == expected_anomaly


def test_rate_replay_delivers_fixture_rows_in_batches(spark, sf_dir):
    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        rate_replay_stream,
        run_replay_until,
    )

    total = load_table(spark, sf_dir, "events").count()
    n = min(total, 1000)
    replay = rate_replay_stream(spark, sf_dir, rows_per_batch=250)
    out = run_replay_until(replay, expected_rows=n).persist()
    # replayed rows are real fixture rows with a synthetic arrival time
    assert "arrival_ts" in out.columns and "event_id" in out.columns
    got = out.limit(n)
    assert got.select("event_id").distinct().count() == got.count()
    joined = got.join(
        load_table(spark, sf_dir, "events").select("event_id"), "event_id", "left_anti"
    )
    assert joined.count() == 0  # every replayed id exists in the fixture
    out.unpersist()


def test_stateful_running_totals_match_batch(spark, sf_dir):
    import pyspark.sql.functions as SF

    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        events_stream,
        running_user_totals,
        run_to_memory_sink,
    )

    out = run_to_memory_sink(
        running_user_totals(events_stream(spark, sf_dir)), output_mode="update"
    )
    # the last update per key is the final running total; with multiple
    # micro-batches a key emits several rows - take max n_events per key
    final = out.groupBy("user_id").agg(
        SF.max("n_events").alias("n_events"),
        SF.max("total_value").alias("total_value"),
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(SF.count("*").alias("bn"), SF.sum("value").alias("bt"))
    )
    j = final.join(batch, "user_id").persist()
    assert j.count() == batch.count()
    assert j.filter(SF.col("n_events") != SF.col("bn")).count() == 0
    assert (
        j.filter(SF.abs(SF.col("total_value") - SF.col("bt")) > 1e-6).count() == 0
    )
    j.unpersist()


def test_dead_letter_split_counts(spark, sf_dir):
    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        decode_or_dead_letter,
        events_stream,
        run_dead_letter_foreach_batch,
    )

    # batch semantics: corrupt every 5th payload
    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 5 == 0, F.lit("{not json"))
        .otherwise(F.to_json(F.struct("event_id", "value")))
        .alias("value")
    )
    good, dead = decode_or_dead_letter(ev, "event_id bigint, value double")
    total = ev.count()
    n_bad = load_table(spark, sf_dir, "events").filter("event_id % 5 = 0").count()
    assert dead.count() == n_bad
    assert good.count() == total - n_bad
    assert dead.columns == ["raw_value", "dlq_ts"]

    # streaming: same split through foreachBatch routing
    stream_vals = events_stream(spark, sf_dir).select(
        F.when(F.col("event_id") % 5 == 0, F.lit("{not json"))
        .otherwise(F.to_json(F.struct("event_id", "value")))
        .alias("value")
    )
    g, d = run_dead_letter_foreach_batch(stream_vals, "event_id bigint, value double")
    assert (g, d) == (total - n_bad, n_bad)


def test_dead_letter_null_payloads_route_to_dlq(spark):
    """NULL payloads (Kafka tombstones) and the JSON literal ``null`` make
    ``from_json`` return a NULL struct with NO corrupt-record fill — they
    must land in the dead-letter frame, not enter the good stream as
    phantom all-null rows."""
    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        decode_or_dead_letter,
    )

    vals = spark.createDataFrame(
        [('{"event_id": 1, "value": 2.5}',), (None,), ("null",),
         ("{not json",)],
        "value string",
    )
    good, dead = decode_or_dead_letter(vals, "event_id bigint, value double")
    assert good.count() == 1
    assert dead.count() == 3
    rows = good.collect()
    assert rows[0]["event_id"] == 1 and rows[0]["value"] == 2.5


def test_events_stream_rejects_sentinels_with_coalescing_trigger(spark, sf_dir):
    """sentinels=True + max_files_per_trigger>1 can coalesce both
    watermark-closing sentinel files into the final micro-batch, so no
    batch ever runs with the raised watermark — the API must refuse."""
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        events_stream,
    )

    with pytest.raises(ValueError, match="max_files_per_trigger=1"):
        events_stream(spark, sf_dir, max_files_per_trigger=2, sentinels=True)


def test_rocksdb_state_provider_scopes_and_restores(spark):
    key = "spark.sql.streaming.stateStore.providerClass"
    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        rocksdb_state_provider,
    )

    prev = spark.conf.get(key)
    with rocksdb_state_provider(spark):
        assert "RocksDB" in spark.conf.get(key)
    assert spark.conf.get(key) == prev


def test_staging_marker_survives_partial_post_write(spark, sf_dir):
    """The idempotency marker is written AFTER mtime pinning and sentinel
    files, so a crash in that window leaves the dir re-stageable instead
    of permanently half-staged (the parquet _SUCCESS file exists as soon
    as the data lands and would mask the missing post-steps)."""
    import os

    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        _STAGED_MARKER,
        stage_events_dir,
    )

    out = stage_events_dir(spark, sf_dir, sentinels=True)
    marker = os.path.join(out, _STAGED_MARKER)
    assert os.path.exists(marker)
    sentinel_files = [f for f in os.listdir(out) if "sentinel" in f]
    assert sentinel_files, "sentinel staging must add sentinel files"
    # simulate the crash window: data + _SUCCESS present, post-steps lost
    os.remove(marker)
    for f in sentinel_files:
        os.remove(os.path.join(out, f))
    out2 = stage_events_dir(spark, sf_dir, sentinels=True)
    assert out2 == out
    assert os.path.exists(marker)
    assert [f for f in os.listdir(out) if "sentinel" in f]
    # mtimes strictly increasing along part index (the pin step re-ran)
    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    mtimes = [os.path.getmtime(os.path.join(out, f)) for f in parts]
    assert mtimes == sorted(mtimes)


def test_udf_surface_registration(spark, sf_dir):
    # M1/F6: the declared row-at-a-time UDF surface (the engine prefers
    # native exprs; this pins the API contract the reference used)
    from pyspark.sql.types import StringType

    def label_of(v):
        return "anomaly" if (v or 0.0) > 400 else "normal"

    spark.udf.register("label_of_udf", label_of, StringType())
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_udf_test")
    out = spark.sql(
        "SELECT label_of_udf(value) AS lbl, COUNT(*) AS n FROM events_udf_test GROUP BY 1"
    )
    rows = {r["lbl"]: r["n"] for r in out.collect()}
    expected_anom = ev.filter(F.col("value") > 400).count()
    assert rows.get("anomaly", 0) == expected_anom
    assert sum(rows.values()) == ev.count()


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        events_stream,
        run_to_memory_sink,
        stream_stream_join,
    )

    def split(df):
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
        )
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
        )
        return purchases, clicks

    sp, sc = split(events_stream(spark, sf_dir))
    joined = stream_stream_join(
        sp, sc, key="user_id", left_ts="pts", right_ts="cts", within="60 seconds"
    ).select("pid", "cid")
    got = run_to_memory_sink(joined, output_mode="append")

    bp, bc = split(load_table(spark, sf_dir, "events"))
    want = bp.join(
        bc,
        (bp.user_id == bc.user_id)
        & (bc.cts >= bp.pts)
        & (bc.cts <= bp.pts + F.expr("INTERVAL 60 seconds")),
    ).select("pid", "cid")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_running_max_with_state_matches_batch_or_skips():
    # transformWithState (state API v2) needs protobuf, absent from this
    # container - the operator must fail loud-and-clear, not crash workers
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        import pytest

        from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
            running_max_with_state,
        )

        with pytest.raises(ImportError, match="protobuf"):
            running_max_with_state(None)
        pytest.skip("protobuf not installed - state API v2 unavailable here")
    # with protobuf present this would run the batch-equivalence check
    # (mirrors test_stateful_running_totals_match_batch)


@pytest.mark.skipif(
    not os.environ.get("KAFKA_BOOTSTRAP_SERVERS"),
    reason="no Kafka broker in this environment (set KAFKA_BOOTSTRAP_SERVERS "
    "to run); decode/route logic is covered by the file-source harness",
)
def test_kafka_round_trip_against_real_broker(spark, sf_dir, tmp_path):
    """Real-broker integration: produce the events envelope to a topic,
    consume it back, and check batch-equivalence with the file path. Skipped
    (visibly) when no broker is reachable — the builders themselves are
    import-safe and covered only to the .load()/.save() boundary otherwise."""
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )
    from end_to_end_data_engineering_and_ml_system_spark.streaming.kafka import (
        decode_json_stream,
        kafka_sink_batch,
        kafka_source,
        serialize_json_value,
    )

    servers = os.environ["KAFKA_BOOTSTRAP_SERVERS"]
    topic = f"e2e_events_{os.getpid()}"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    kafka_sink_batch(serialize_json_value(ev, key_col="event_id"), servers, topic)
    src = kafka_source(spark, servers, topic, starting_offsets="earliest")
    decoded = decode_json_stream(
        src, "event_id bigint, event_type string, value double"
    )
    q = (
        decoded.writeStream.format("memory")
        .queryName("kafka_rt")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select count(*) n from kafka_rt").first()["n"]
    assert got == ev.count()


def test_stream_dedup_drops_planted_duplicates(spark, sf_dir, tmp_path):
    """Planted cross-micro-batch duplicates: the same 100 events staged as
    two files -> watermarked dedup must emit each event_id exactly once."""
    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        EVENTS_SCHEMA,
        _replay_shuffle_partitions,
    )

    ev = load_table(spark, sf_dir, "events").limit(100).select(
        "event_id", "user_id", "event_type", "value", "props", "ts"
    )
    src = tmp_path / "dup_src"
    ev.coalesce(1).write.parquet(str(src / "a"))
    ev.coalesce(1).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    with _replay_shuffle_partitions(spark):
        out = run_to_memory_sink(
            dedup_within_watermark(stream).select("event_id"),
            output_mode="append",
        )
        got = out.toPandas()
    assert len(got) == 100
    assert got["event_id"].is_unique


def test_deterministic_split_identical_in_stream_and_batch(spark, sf_dir, tmp_path):
    """hash-keyed splits are stateless projections, so the same operator
    runs unchanged on a stream and must assign every event the same split
    it gets in batch — the stream/batch unification contract."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        deterministic_split,
    )
    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        EVENTS_SCHEMA,
    )

    ev = load_table(spark, sf_dir, "events").limit(500).select(
        "event_id", "user_id", "event_type", "value", "props", "ts"
    )
    src = tmp_path / "split_src"
    ev.coalesce(2).write.parquet(str(src))
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    fracs = {"train": 0.8, "val": 0.1, "test": 0.1}
    streamed = run_to_memory_sink(
        deterministic_split(stream, "user_id", fracs).select("event_id", "split"),
        output_mode="append",
    )
    batch = deterministic_split(ev, "user_id", fracs).select("event_id", "split")
    assert streamed.count() == batch.count() == 500
    assert streamed.exceptAll(batch).isEmpty()


def test_stateless_corpus_ops_identical_in_stream(spark, sf_dir, tmp_path):
    """Quality scoring, PII redaction and chunking are stateless projections,
    so the text library runs unchanged over a documents stream with
    bit-identical output — corpus preprocessing as a streaming pipeline."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from end_to_end_data_engineering_and_ml_system_spark.operators.text import (
        chunk_documents,
        quality_score,
        redact_pii,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    src = tmp_path / "docs_src"
    docs.coalesce(2).write.parquet(str(src))
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )

    def pipeline(df):
        scored = df.select(
            "doc_id",
            quality_score("text").alias("q"),
            redact_pii("text").alias("clean_text"),
        ).filter(F.col("q") > 0.3)
        return chunk_documents(scored, "doc_id", "clean_text", 256, 32)

    streamed = run_to_memory_sink(pipeline(stream), output_mode="append")
    batch = pipeline(spark.read.parquet(str(src)))
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).isEmpty()


def test_streaming_resume_from_checkpoint_exactly_once(spark, tmp_path):
    """Kill-and-resume with the same checkpoint: the restarted query must
    process ONLY files that arrived while it was down — no reprocessing of
    already-committed source offsets, no lost batches (ST2 recovery)."""
    src = str(tmp_path / "in")
    sink = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    def arrive(lo, hi, name):
        spark.range(lo, hi).selectExpr("id", "id * 2 AS v").coalesce(
            1
        ).write.parquet(f"{src}/{name}")

    def run_once():
        s = (
            spark.readStream.schema("id bigint, v bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    arrive(0, 100, "a")
    run_once()
    assert spark.read.parquet(sink).count() == 100
    arrive(100, 150, "b")
    run_once()
    got = spark.read.parquet(sink)
    assert got.count() == 150  # 100 old NOT reprocessed + 50 new
    assert got.select("id").distinct().count() == 150
    assert got.agg(F.max("id")).collect()[0][0] == 149


class _FakeAdmin:
    def __init__(self, existing, fail_create=False):
        self.topics = set(existing)
        self.created_with = []
        self.closed = False
        self.fail_create = fail_create

    def list_topics(self):
        return sorted(self.topics)

    def create_topics(self, names, num_partitions, replication_factor):
        if self.fail_create:
            raise RuntimeError("broker rejected create")
        self.created_with.append((list(names), num_partitions, replication_factor))
        self.topics.update(names)

    def close(self):
        self.closed = True


def test_ensure_topics_creates_only_missing():
    from end_to_end_data_engineering_and_ml_system_spark.streaming.kafka import (
        ensure_topics,
    )

    admin = _FakeAdmin({"flows"})
    out = ensure_topics(
        ["flows", "alerts", "dlq"], admin_factory=lambda: admin, num_partitions=3
    )
    assert out == {"created": ["alerts", "dlq"], "existing": ["flows"], "error": None}
    assert admin.created_with == [(["alerts", "dlq"], 3, 1)]
    assert admin.closed
    # idempotent: second call creates nothing
    out2 = ensure_topics(["flows", "alerts", "dlq"], admin_factory=lambda: admin)
    assert out2["created"] == [] and len(admin.created_with) == 1


def test_ensure_topics_best_effort_on_errors():
    from end_to_end_data_engineering_and_ml_system_spark.streaming.kafka import (
        ensure_topics,
    )

    # admin construction fails (no broker): error reported, not raised
    out = ensure_topics(["t"], admin_factory=lambda: (_ for _ in ()).throw(OSError("conn refused")))
    assert out["error"] and out["created"] == []
    # create fails mid-flight: error reported, admin still closed
    admin = _FakeAdmin(set(), fail_create=True)
    out = ensure_topics(["t"], admin_factory=lambda: admin)
    assert out["error"] and admin.closed


def test_progress_listener_captures_batch_metrics(spark, sf_dir):
    import time

    from end_to_end_data_engineering_and_ml_system_spark.streaming.observability import (
        capture_progress,
    )
    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        events_stream,
        run_to_memory_sink,
    )

    with capture_progress(spark) as cap:
        counts = run_to_memory_sink(
            events_stream(spark, sf_dir).groupBy("event_type").count()
        )
        assert counts.count() > 0
        # progress events arrive asynchronously after the query finishes
        deadline = time.time() + 30
        while time.time() < deadline and not cap.metrics:
            time.sleep(0.5)
    assert cap.metrics, "listener saw no progress events"
    total_rows = sum(m.num_input_rows for m in cap.metrics)
    assert total_rows > 0
    assert all(m.batch_id >= 0 for m in cap.metrics)
    # the aggregation is stateful: at least one progress reports state rows
    assert any(m.state_rows for m in cap.metrics)


def test_progress_listener_keeps_duration_breakdown(spark, tmp_path):
    """Each batch's metric keeps Spark's durationMs breakdown, not only the
    trigger total."""
    import time

    from end_to_end_data_engineering_and_ml_system_spark.streaming.observability import (
        capture_progress,
    )

    src = tmp_path / "in"
    src.mkdir()
    for k in range(2):
        (src / f"part-{k}.txt").write_text("".join(f"{k}-{i}\n" for i in range(5)))
    with capture_progress(spark) as cap:
        q = (
            spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", 1)
            .text(str(src))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        deadline = time.time() + 30
        while time.time() < deadline and len(cap.for_query(q.id)) < 2:
            time.sleep(0.2)
    metrics = cap.for_query(q.id)
    assert [m.num_input_rows for m in metrics] == [5, 5]
    for m in metrics:
        assert {"addBatch", "queryPlanning", "triggerExecution"} <= set(m.durations)
        assert m.batch_duration_ms == m.durations["triggerExecution"]


def test_stream_merge_into_tx_table_versions_and_state(spark, sf_dir, tmp_path):
    from end_to_end_data_engineering_and_ml_system_spark.sources.txlog import (
        TxTable,
    )
    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        events_stream,
        run_merge_into_table,
    )

    table = TxTable(spark, str(tmp_path / "state"))
    state = run_merge_into_table(
        events_stream(spark, sf_dir), table, "user_id", ["ts", "event_id"]
    )
    # one committed MERGE version per non-empty micro-batch (8 staged
    # files / 2 per trigger = 4 batches), all auditable in the history
    hist = table.history()
    assert len(hist) >= 2
    assert all(m["op"] == "merge" for m in hist)
    # final snapshot is the batch SCD1 view
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = {
        (r["user_id"], r["event_id"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    got = {(r["user_id"], r["event_id"]) for r in state.collect()}
    assert got == want
    # earlier versions are PARTIAL states (fewer or equal users), readable
    v0 = table.snapshot(version=0)
    assert v0.count() <= len(want)


def test_rotated_state_dirs_are_reaped(spark, sf_dir):
    """The rotated-snapshot runners must reap superseded state dirs: a
    long-lived loop would otherwise leak one full snapshot per micro-batch
    (O(batches x state) scratch growth). Only the final snapshot survives."""
    import os

    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        events_stream,
        run_latest_state_merge,
    )

    out = run_latest_state_merge(
        events_stream(spark, sf_dir, max_files_per_trigger=2),
        key_col="user_id",
        order_cols=["ts", "event_id"],
    )
    n = out.count()
    assert n > 0
    # the snapshot root holds exactly ONE state dir after the replay
    files = out.inputFiles()
    assert files, "final snapshot must be file-backed"
    root = os.path.dirname(os.path.dirname(files[0].replace("file:", "")))
    state_dirs = [d for d in os.listdir(root) if d.startswith("state_")]
    assert len(state_dirs) == 1, state_dirs
