"""Kafka source/sink wiring (SURVEY §2.1 S5/S6/S7/S10/S11/S13).

The test container has no broker and no spark-sql-kafka package, so these
builders are import-safe and fail with a clear error only when started.
Everything downstream of the source (JSON decode, watermarking, scoring,
routing) is broker-agnostic and fully tested via the file-source harness in
``streaming/pipeline.py`` — swapping the source/sink is exactly these
functions.

Reference parity notes:
- subscribe to one or many topics (S5/S6: ``subscribe="a,b"``); the
  ``topic`` metadata column replaces the dashboard's manual tagging (U2).
- rate control belongs to ``maxOffsetsPerTrigger`` — the reference sets the
  legacy DStream conf which Structured Streaming ignores
  (stream_anomaly_detector.py:42, ST3).
- the sink takes a pre-serialized ``value`` (and optional ``key``) column;
  ``serialize_json_value`` mirrors the producer's envelope
  (common_kafka/producer.py:51-84, S10) with ``to_json(struct(*))``.
- exactly-once: the Kafka sink is at-least-once; downstream must dedup by
  key (``event_id``) — documented limit of foreachBatch+Kafka (ST2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    group_id: str | None = None,
) -> DataFrame:
    """Streaming Kafka source; ``value`` arrives as binary → cast + decode
    with a pinned schema downstream (F1)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    if group_id is not None:
        reader = reader.option("kafka.group.id", group_id)
    return reader.load()


def decode_json_stream(kafka_df: DataFrame, schema_ddl: str) -> DataFrame:
    """value bytes → string → ``from_json`` with pinned schema → flattened
    columns + the topic metadata column (S5→F1→P4).

    Malformed payloads decode to all-null rows here (``from_json``'s NULL
    struct flattened) — fine for trusted producers; for an untrusted wire
    use :func:`...streaming.pipeline.decode_or_dead_letter`, which splits
    undecodable records (including NULL payloads) into a DLQ frame."""
    from pyspark.sql.types import _parse_datatype_string

    payload_fields = [f.name for f in _parse_datatype_string(schema_ddl)]
    if "topic" in payload_fields:
        raise ValueError(
            "payload schema declares a 'topic' field, which collides with "
            "the Kafka topic metadata column this decode emits — rename "
            "the payload field (the metadata column already carries the "
            "topic; a duplicate name makes every downstream "
            "F.col('topic') ambiguous)"
        )
    return (
        kafka_df.select(
            F.col("topic"),
            F.from_json(F.col("value").cast("string"), schema_ddl).alias("data"),
        )
        .select("topic", "data.*")
    )


def serialize_json_value(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Full-row JSON envelope for the sink (F2/S10): value = to_json(struct
    of ALL columns — including ``key_col``), key = optional routing key for
    partition affinity. The key column stays IN the value too: a consumer
    decoding only the value (the usual shape — ``decode_json_stream`` never
    reads the Kafka key) must still see the id, or the module's documented
    at-least-once dedup-by-key contract is impossible downstream."""
    out = df.select(
        *( [F.col(key_col).cast("string").alias("key")] if key_col else [] ),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )
    return out


def kafka_sink_batch(df: DataFrame, bootstrap_servers: str, topic: str) -> None:
    """Per-micro-batch Kafka write (S7, used inside foreachBatch). Expects
    ``value`` (and optional ``key``) columns already serialized."""
    (
        df.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .mode("append")
        .save()
    )


def ensure_topics(
    topics: list[str],
    bootstrap_servers: str = "localhost:9092",
    num_partitions: int = 1,
    replication_factor: int = 1,
    admin_factory=None,
) -> dict:
    """Create-if-missing topic admin (S13, reference
    stream_anomaly_detector.py:374-388 / main.py:85-96): list existing
    topics, create only the missing ones, best-effort — an admin failure
    must never take down the pipeline, so errors are returned, not raised.

    Spark has no topic-admin surface (it is an ops concern, not a query
    one), so the transport is a pluggable admin client: the default
    factory uses ``kafka-python``'s KafkaAdminClient when installed; any
    object with ``list_topics() / create_topics(names, num_partitions,
    replication_factor) / close()`` works, which is also what makes the
    create-missing logic testable without a broker. Idempotent by
    construction — a second call finds nothing to create.

    Returns ``{"created": [...], "existing": [...], "error": str | None}``.
    """
    if admin_factory is None:

        def admin_factory():
            try:
                from kafka.admin import KafkaAdminClient, NewTopic
            except ImportError as e:  # pragma: no cover - env-dependent
                raise RuntimeError(
                    "kafka-python not installed; pass admin_factory"
                ) from e

            client = KafkaAdminClient(
                bootstrap_servers=bootstrap_servers.split(",")
            )

            class _Admin:  # adapt to the minimal admin protocol
                def list_topics(self):
                    return client.list_topics()

                def create_topics(self, names, num_partitions, replication_factor):
                    client.create_topics(
                        new_topics=[
                            NewTopic(
                                name=n,
                                num_partitions=num_partitions,
                                replication_factor=replication_factor,
                            )
                            for n in names
                        ],
                        validate_only=False,
                    )

                def close(self):
                    client.close()

            return _Admin()

    try:
        admin = admin_factory()
    except Exception as e:
        return {"created": [], "existing": [], "error": str(e)}
    try:
        existing = set(admin.list_topics())
        missing = [t for t in topics if t not in existing]
        if missing:
            admin.create_topics(
                missing,
                num_partitions=num_partitions,
                replication_factor=replication_factor,
            )
        return {
            "created": missing,
            "existing": [t for t in topics if t in existing],
            "error": None,
        }
    except Exception as e:
        return {"created": [], "existing": [], "error": str(e)}
    finally:
        try:
            admin.close()
        except Exception:
            pass
