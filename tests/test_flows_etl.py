"""End-to-end flows ETL (SURVEY §3.2) on a synthesized dirty fixture, plus
the Kafka JSON envelope round-trip (broker-free parts of streaming/kafka.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.operators.flows_etl import (
    preprocess_flows,
)
from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table
from end_to_end_data_engineering_and_ml_system_spark.streaming.kafka import (
    decode_json_stream,
    serialize_json_value,
)


@pytest.fixture(scope="module")
def dirty_flows(spark, sf_dir):
    """Flow-shaped table with the reference's raw-CSV pathologies: dirty
    headers (spaces, slashes, leading blanks), string-typed numerics,
    Infinity sentinels, raw multi-spelling labels, a droppable column
    (preprocess_cicids2017.py:103-137,151-162; test.py:9-88)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias(" Flow Duration"),
        F.col("l_partkey").cast("string").alias("Total Fwd Packets"),
        # Infinity sentinel on ~every 7th row
        F.when(F.col("l_suppkey") % 7 == 0, F.lit("Infinity"))
        .otherwise(F.col("l_extendedprice").cast("string"))
        .alias("Flow Bytes/s"),
        F.col("l_discount").cast("string").alias("Down/Up Ratio"),  # dropped (P3)
        F.when(F.col("l_quantity") < 25, F.lit("BENIGN"))
        .when(F.col("l_quantity") < 35, F.lit("DoS Hulk"))
        .when(F.col("l_quantity") < 45, F.lit("Web Attack XSS"))
        .otherwise(F.lit("DDoS"))
        .alias(" Label"),
    )


def test_preprocess_flows_end_to_end(spark, dirty_flows):
    res = preprocess_flows(dirty_flows, seed=42)

    # P3: the droppable column is gone, fuzzily resolved post-sanitize
    assert all("down" not in c.lower() for c in res.feature_cols)
    assert set(res.feature_cols) == {"Flow_Duration", "Total_Fwd_Packets", "Flow_Bytes_s"}

    # train is BENIGN-only, label column projected away, z-scored
    assert res.train.columns == res.feature_cols
    stats = res.train.agg(
        *[F.avg(c).alias(f"m_{c}") for c in res.feature_cols],
        *[F.stddev_pop(c).alias(f"s_{c}") for c in res.feature_cols],
    ).first()
    for c in res.feature_cols:
        assert abs(stats[f"m_{c}"]) < 0.05, c
        assert abs(stats[f"s_{c}"] - 1.0) < 0.05, c

    # eval set: held-out benign + all attacks, canonical labels only (F5)
    labels = {r["Label"] for r in res.stream_eval.select("Label").distinct().collect()}
    assert labels <= {"BENIGN", "DoS", "DDoS", "WebAttack"}
    assert "DoS" in labels and "DDoS" in labels

    # split arithmetic: train + benign-eval ≈ all benign survivors (R1 80/20)
    n_train = res.train.count()
    n_eval_benign = res.stream_eval.filter(F.col("Label") == "BENIGN").count()
    n_benign = n_train + n_eval_benign
    assert 0.70 < n_train / n_benign < 0.90

    # P7/P9: every Infinity row was nulled then dropped
    total = res.train.count() + res.stream_eval.count()
    survivors = dirty_flows.filter(~F.col("Flow Bytes/s").isin("Infinity")).count()
    assert total == survivors


def test_preprocess_flows_z_scores_are_bit_identical_to_numpy(spark, dirty_flows):
    """The ETL's z-scored outputs equal numpy's ``(x - mean) / std`` over the
    same split and the fitted stats, bit for bit, on train and on the
    benign part of the eval set."""
    import numpy as np

    splits = []

    def split(benign):
        odd = F.col("Total_Fwd_Packets") % 2 == 1
        splits.append((benign.filter(odd), benign.filter(~odd)))
        return splits[-1]

    res = preprocess_flows(dirty_flows, seed=42, split_fn=split)
    cols = res.feature_cols
    stats = res.stats.first()
    mean = np.array([stats[f"mean_{c}"] for c in cols])
    std = np.array([stats[f"std_{c}"] for c in cols])

    def values(df):
        return df.select(*cols).toPandas().to_numpy(dtype=np.float64)

    def row_bits(a):  # row order is not part of the contract
        return sorted(map(tuple, a.view(np.int64)))

    train_b, test_b = splits[0]
    assert row_bits(values(res.train)) == row_bits((values(train_b) - mean) / std)
    benign_eval = res.stream_eval.filter(F.col("Label") == "BENIGN")
    assert row_bits(values(benign_eval)) == row_bits((values(test_b) - mean) / std)


def test_kafka_json_envelope_round_trip(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("value").cast("double").alias("value"), "event_type"
    )
    enveloped = serialize_json_value(ev, key_col="event_id")
    assert enveloped.columns == ["key", "value"]

    # decode path expects kafka's (topic, value) shape; from_json is the same
    # expression in batch and streaming (F1)
    wire = enveloped.select(F.lit("network_flows").alias("topic"), "value")
    decoded = decode_json_stream(
        wire, "event_id bigint, value double, event_type string"
    )
    assert decoded.columns == ["topic", "event_id", "value", "event_type"]
    orig_sum = ev.agg(F.sum("value")).first()[0]
    rt_sum = decoded.agg(F.sum("value")).first()[0]
    assert abs(orig_sum - rt_sum) < 1e-6
    # the KEY column must survive the value-only decode: the at-least-once
    # contract says consumers dedup by event_id, which is impossible if the
    # envelope drops it (a count-only assertion masked exactly that)
    assert decoded.filter(F.col("event_id").isNull()).count() == 0
    assert decoded.select("event_id").distinct().count() == ev.count()
    # a payload schema that declares 'topic' would collide with the Kafka
    # metadata column — refused loudly, not emitted as a duplicate name
    import pytest

    with pytest.raises(ValueError, match="topic"):
        decode_json_stream(wire, "topic string, value double")


def test_flow_event_schema_decode_round_trip(spark):
    from end_to_end_data_engineering_and_ml_system_spark.streaming.schemas import (
        EXCLUDED_FEATURES,
        FLOW_FEATURES,
        MODEL_FEATURES,
        flow_event_ddl,
        flow_event_schema,
    )

    assert len(FLOW_FEATURES) == 66
    assert len(MODEL_FEATURES) == 64  # the model input excludes the two *_std
    assert set(EXCLUDED_FEATURES).isdisjoint(MODEL_FEATURES)
    schema = flow_event_schema()
    assert len(schema.fields) == 66 + 4 + 1  # features + envelope + label
    assert all(f.nullable for f in schema.fields)

    # a JSON flow event decodes against both schema forms identically
    payload = (
        '{"flow_id":"flow_1","event_id":"e1","event_type":"network_flow",'
        '"timestamp":"2024-01-01T00:00:00","flow_duration":1.5,'
        '"label":"BENIGN"}'
    )
    df = spark.createDataFrame([(payload,)], "value string").select(
        F.lit("network_flows").alias("topic"), "value"
    )
    decoded = decode_json_stream(df, flow_event_ddl())
    row = decoded.first()
    assert row["flow_id"] == "flow_1"
    assert row["flow_duration"] == 1.5
    assert row["fwd_iat_mean"] is None  # absent fields decode null, not error
    assert row["label"] == "BENIGN"


def test_preprocess_flows_reference_width(spark, sf_dir):
    """Regression: the composed ETL must stay analyzable at the reference's
    real width (~65 columns). Constraint propagation over the stacked
    projections went superlinear (>4 min) before the lineage cut at the
    fan-out point; this pins the fix with a wall-clock budget."""
    import time

    li = load_table(spark, sf_dir, "lineitem").limit(500)
    cols = [
        ((F.col("l_extendedprice") * (1 + i)) % 1000).cast("string").alias(f"Feat {i}")
        for i in range(64)
    ]
    raw = li.select(
        *cols,
        F.when(F.col("l_quantity") < 25, F.lit("BENIGN"))
        .otherwise(F.lit("DoS Hulk"))
        .alias(" Label"),
    )
    t0 = time.time()
    res = preprocess_flows(raw, seed=42)
    total = res.train.count() + res.stream_eval.count()
    elapsed = time.time() - t0
    assert total == 500
    assert len(res.feature_cols) == 64
    assert elapsed < 120, f"wide ETL took {elapsed:.0f}s - plan blowup regressed"


def test_sanitize_columns_generated_suffix_never_collides(spark):
    """The _N uniquifying suffix must not collide with a LATER column that
    sanitizes to the same generated name (['a b', 'a_b', 'a_b_1'] used to
    emit two a_b_1 columns — a silently ambiguous frame)."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.cleaning import (
        sanitize_columns,
    )

    df = spark.createDataFrame([(1, 2, 3)], ["a b", "a_b", "a_b_1"])
    out = sanitize_columns(df)
    assert len(set(out.columns)) == 3, out.columns
    assert out.columns[0] == "a_b"


def test_dedup_keep_best_rejects_rn_collision(spark):
    import pytest
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_and_ml_system_spark.operators.cleaning import (
        dedup_keep_best,
    )

    df = spark.range(4).select("id", F.lit(1).alias("__rn"))
    with pytest.raises(ValueError, match="__rn"):
        dedup_keep_best(df, ["id"], [F.col("id")])
