"""File source/sink round-trips."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table
from end_to_end_data_engineering_and_ml_system_spark.sources.files import (
    read_csv_permissive,
    write_metadata_sidecar,
    write_single_csv,
)


def test_csv_permissive_and_single_file_sink(spark):
    tmp = tempfile.mkdtemp()
    src = os.path.join(tmp, "in.csv")
    with open(src, "w") as f:
        f.write("id,name,score\n1,a,1.5\n2,b,2.5\nnot,a,valid,row,at all\n3,c,3.5\n")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    # Spark disallows lazy queries touching only the corrupt-record column;
    # materialize once first (documented in read_csv_permissive)
    df = read_csv_permissive(spark, src, schema).cache()
    df.count()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 3
    assert bad.count() == 1

    dest = os.path.join(tmp, "out.csv")
    write_single_csv(good.select("id", "name", "score"), dest)
    back = spark.read.option("header", True).schema(schema).csv(dest)
    assert back.count() == 3

    # sort_cols makes file content deterministic (repartition(1) is a
    # round-robin shuffle, so upstream order alone cannot be relied on)
    d1 = os.path.join(tmp, "sorted1.csv")
    d2 = os.path.join(tmp, "sorted2.csv")
    src_df = good.select("id", "name", "score").repartition(8)
    write_single_csv(src_df, d1, sort_cols=["id"])
    write_single_csv(src_df, d2, sort_cols=["id"])
    with open(d1) as f1, open(d2) as f2:
        b1, b2 = f1.read(), f2.read()
    assert b1 == b2
    ids = [line.split(",")[0] for line in b1.strip().splitlines()[1:]]
    assert ids == sorted(ids, key=int)

    side = write_metadata_sidecar(
        good.agg(F.count("*").alias("n_rows")), os.path.join(tmp, "meta")
    )
    meta = spark.read.json(side)
    assert meta.collect()[0].n_rows == 3


def test_single_csv_sink_refuses_scale(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError):
        write_single_csv(li, "/tmp/never.csv", max_rows=10)


def test_single_csv_sink_empty_input_and_cleanup(spark, tmp_path):
    """A 0-row frame writes no part file (Spark's CSV writer is lazy) — the
    sink must produce a header-only CSV, not IndexError, and must never
    leave its .tmpdir behind."""
    import os

    empty = spark.createDataFrame([], "a long, b string")
    dest = str(tmp_path / "empty.csv")
    assert write_single_csv(empty, dest) == dest
    with open(dest) as f:
        assert f.read() == "a,b\n"
    assert not os.path.exists(dest + ".tmpdir")


def test_single_csv_sink_empty_input_quotes_header(spark, tmp_path):
    """The empty-input header must be quoted in Spark's CSV dialect — a
    raw ','.join of column names containing commas or quotes would produce
    a header inconsistent with the non-empty write path. The fallback
    helper must emit byte-identical output to Spark's own writer, and the
    sink's file must round-trip through Spark's CSV reader."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from end_to_end_data_engineering_and_ml_system_spark.sources.files import (
        _spark_csv_header_line,
    )

    cols = ["a,x", 'b"q', "c\\d", "plain"]
    empty = spark.createDataFrame(
        [], StructType([StructField(c, LongType() if i == 0 else StringType()) for i, c in enumerate(cols)])
    )
    dest = str(tmp_path / "weird.csv")
    write_single_csv(empty, dest)
    with open(dest, newline="") as f:
        written = f.read()
    assert written == _spark_csv_header_line(cols)
    back = spark.read.option("header", True).csv(dest)
    assert back.columns == cols


def test_jsonl_roundtrip_documents(spark, sf_dir, tmp_path):
    """documents -> JSONL -> read back with pinned schema: content-identical
    (JSONL is the training-corpus interchange format; S1/S9 analog)."""
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table
    from end_to_end_data_engineering_and_ml_system_spark.sources.files import read_jsonl, write_jsonl

    docs = load_table(spark, sf_dir, "documents")
    dest = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, dest, partitions=2)
    # cache first: Spark refuses lazy queries touching only the
    # corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    back = read_jsonl(spark, dest, docs.schema).cache()
    assert back.filter("_corrupt_record IS NOT NULL").count() == 0
    back = back.drop("_corrupt_record")
    assert back.count() == docs.count()
    assert dict(back.dtypes) == dict(docs.dtypes)
    assert back.exceptAll(docs).count() == 0 and docs.exceptAll(back).count() == 0


def test_jsonl_malformed_lines_land_in_corrupt_col(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from end_to_end_data_engineering_and_ml_system_spark.sources.files import read_jsonl

    p = tmp_path / "bad.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\nnot json at all\n{"doc_id": 2, "text": "fine"}\n')
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = read_jsonl(spark, str(p), schema).cache()
    assert df.count() == 3
    assert df.filter("_corrupt_record IS NOT NULL").count() == 1
    assert df.filter("doc_id IS NOT NULL").count() == 2


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """A corpus grows a column mid-life: old partitions lack it, new ones
    have it. mergeSchema must union the schemas with NULLs for old rows —
    the scan must not fail or silently drop the new column."""
    old = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(3, "gamma", "en")], ["doc_id", "text", "lang"]
    )
    root = str(tmp_path / "evolving")
    old.write.parquet(root + "/batch=0")
    new.write.parquet(root + "/batch=1")
    merged = spark.read.option("mergeSchema", True).parquet(root)
    assert set(merged.columns) == {"doc_id", "text", "lang", "batch"}
    rows = {r["doc_id"]: r for r in merged.collect()}
    assert rows[1]["lang"] is None and rows[3]["lang"] == "en"
    assert merged.count() == 3


def test_orc_roundtrip_events(spark, sf_dir, tmp_path):
    # ORC is the other columnar format Spark ships natively (no extra
    # package); round-trip must preserve schema and values bit-for-bit
    # including timestamps and nested-ish string payloads
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events").limit(200)
    dest = str(tmp_path / "events_orc")
    ev.write.mode("overwrite").orc(dest)
    back = spark.read.orc(dest)
    assert back.schema == ev.schema
    a = {tuple(r) for r in ev.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b
    # predicate pushdown reaches the ORC scan like it does for parquet
    from tests.planutil import physical_plan

    plan = physical_plan(back.filter(F.col("event_id") == 7))
    assert "PushedFilters" in plan and "event_id" in plan


def test_orc_helper_roundtrip_documents(spark, sf_dir, tmp_path):
    from end_to_end_data_engineering_and_ml_system_spark.sources.files import (
        read_orc,
        write_orc,
    )

    docs = load_table(spark, sf_dir, "documents")
    dest = write_orc(docs, str(tmp_path / "docs_orc"), partitions=2)
    back = read_orc(spark, dest)
    assert back.schema == docs.schema
    assert {tuple(r) for r in back.collect()} == {
        tuple(r) for r in docs.collect()
    }
    # pinning a schema prunes columns at scan time
    two_col = read_orc(
        spark,
        dest,
        StructType(
            [
                StructField("doc_id", LongType(), True),
                StructField("lang", StringType(), True),
            ]
        ),
    )
    assert two_col.columns == ["doc_id", "lang"]
    assert two_col.count() == docs.count()
