"""Storage-layout scale features: partition pruning, bucketed co-located
joins (zero-exchange), salted skew joins — asserted on the actual plans,
not hoped for."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.planutil import physical_plan

from end_to_end_data_engineering_and_ml_system_spark.operators.relational import salted_join
from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table
from end_to_end_data_engineering_and_ml_system_spark.sources.partitioned import (
    count_exchanges,
    read_pruned,
    scan_partition_filters,
    write_bucketed_table,
    write_partitioned,
)


def test_partition_pruning_hits_partition_filters(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    dest = os.path.join(tempfile.mkdtemp(prefix="e2e_part_"), "events_by_date")
    write_partitioned(ev, dest, ["event_date"])

    some_date = ev.select(F.min("event_date")).first()[0]
    pruned = read_pruned(spark, dest, f"event_date = '{some_date}'")
    pf = scan_partition_filters(pruned)
    assert "event_date" in pf, f"no partition filter in scan: {pf!r}"
    expected = ev.filter(F.col("event_date") == F.lit(some_date)).count()
    assert pruned.count() == expected


def test_bucketed_join_needs_no_exchange(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    write_bucketed_table(orders, "b_orders", "o_custkey", num_buckets=4,
                         sort_col="o_custkey")
    write_bucketed_table(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer", "o_custkey", num_buckets=4, sort_col="o_custkey",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable auto-broadcast so the planner must use the bucket layout
        # (at real scale neither side broadcasts; this simulates that)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        # co-located bucketed join: the shuffle was paid at write time
        assert count_exchanges(j) == 0, "bucketed join still shuffles"
        plan = physical_plan(j)
        assert "Bucketed: true" in plan, "scan did not use bucket layout"
        plain = orders.join(
            cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
        )
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_salted_join_matches_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    nations = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("o_custkey"), "n_name"
    )
    # force the worst case: every orders row keyed to one hot value
    hot = orders.withColumn("o_custkey", F.lit(7).cast("bigint")).select(
        "o_orderkey", "o_custkey"
    )
    salted = salted_join(hot, nations, "o_custkey")
    plain = hot.join(nations, "o_custkey")
    assert salted.count() == plain.count()
    assert salted.select("o_custkey").distinct().count() == 1
    assert (
        salted.agg(F.sum("o_orderkey")).first()[0]
        == plain.agg(F.sum("o_orderkey")).first()[0]
    )


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """AQE's skew-join handling (enabled in the session factory) actually
    fires: one hot key dominating the build side gets its partition split,
    visible as SortMergeJoin(skew=true) in the final adaptive plan."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = (
            spark.range(200000)
            .select(F.lit(7).cast("long").alias("k"), F.col("id").alias("payload"))
            .unionAll(
                spark.range(1000).select(
                    (F.col("id") % 100).cast("long").alias("k"),
                    F.col("id").alias("payload"),
                )
            )
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), F.concat(F.lit("tag"), F.col("id")).alias("tag")
        )
        j = left.join(right, "k")
        rows = j.collect()
        assert len(rows) == 201000
        plan = physical_plan(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_compaction_reduces_files_preserves_data(spark, sf_dir, tmp_path):
    from end_to_end_data_engineering_and_ml_system_spark.sources.partitioned import (
        compact_partitioned_dataset,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    frag_dir = str(tmp_path / "frag")
    # simulate a streaming sink's fragmentation: many tiny files per partition
    ev.repartition(16).write.partitionBy("day").parquet(frag_dir)

    def parquet_files(d):
        import os

        return [
            os.path.join(r, f)
            for r, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        ]

    n_frag = len(parquet_files(frag_dir))
    compact_dir = str(tmp_path / "compact")
    compact_partitioned_dataset(spark, frag_dir, compact_dir, ["day"])
    n_compact = len(parquet_files(compact_dir))
    # tiny partitions collapse to one file each
    days = ev.select("day").distinct().count()
    assert n_compact == days < n_frag

    before = spark.read.parquet(frag_dir)
    after = spark.read.parquet(compact_dir)
    assert after.count() == before.count()
    assert before.select(*sorted(before.columns)).exceptAll(
        after.select(*sorted(before.columns))
    ).isEmpty()


def test_compaction_refuses_in_place(spark, tmp_path):
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.sources.partitioned import (
        compact_partitioned_dataset,
    )

    d = str(tmp_path / "x")
    with pytest.raises(ValueError, match="in place"):
        compact_partitioned_dataset(spark, d, d, ["day"])


def test_dynamic_partition_overwrite_backfills_only_touched(spark, sf_dir, tmp_path):
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )
    from end_to_end_data_engineering_and_ml_system_spark.sources.partitioned import (
        overwrite_partitions_dynamic,
        write_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    )
    dest = str(tmp_path / "days")
    write_partitioned(ev, dest, ["day"])
    days = sorted(r["day"] for r in ev.select("day").distinct().collect())
    assert len(days) >= 3
    target = days[1]

    # the backfill: rewrite ONE day with corrected values
    fixed = ev.filter(F.col("day") == target).withColumn(
        "value", F.lit(-1.0)
    )
    overwrite_partitions_dynamic(fixed, dest, ["day"])

    back = spark.read.parquet(dest)
    # untouched partitions keep their original rows...
    assert (
        back.filter(F.col("day") != target).count()
        == ev.filter(F.col("day") != target).count()
    )
    assert back.filter((F.col("day") != target) & (F.col("value") == -1.0)).count() == 0
    # ...and the touched one holds exactly the corrected rows
    got = back.filter(F.col("day") == target)
    assert got.count() == fixed.count()
    assert got.filter(F.col("value") != -1.0).count() == 0
    # session conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        == "static"
    )
