"""Invariants for the chunking, duplicate-window and quality-ratio text
operators (their value-level parity is oracle-checked; these pin the
semantic properties)."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.operators.text import (
    chunk_documents,
)
from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table


def test_chunks_cover_text_with_overlap(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_chars=512, overlap=64)
    stats = (
        chunks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.length("chunk_text")).alias("sum_len"),
            F.max(F.length("chunk_text")).alias("max_len"),
        )
        .join(docs.select("doc_id", F.length("text").alias("n")), "doc_id")
    )
    bad = stats.filter(
        (F.col("max_len") > 512)
        # total chunk chars = n + overlap per junction (except truncated tail)
        | (F.col("sum_len") < F.col("n"))
        | (F.col("sum_len") > F.col("n") + (F.col("n_chunks") - 1) * 64)
    )
    assert bad.count() == 0
    # reassembly: stripping the overlap from every non-first chunk
    # reconstructs the document exactly
    w_chunks = chunks.withColumn(
        "piece",
        F.when(F.col("chunk_no") == 0, F.col("chunk_text")).otherwise(
            F.substring("chunk_text", 65, 512)
        ),
    )
    rebuilt = (
        w_chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_no", "piece"))),
                    lambda s: s.getField("piece"),
                ),
            ).alias("rebuilt")
        )
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    assert rebuilt.filter(F.col("rebuilt") != F.col("text")).count() == 0


def test_duplicate_ngram_windows_planted(spark):
    from end_to_end_data_engineering_and_ml_system_spark.operators.text import (
        duplicate_ngram_windows,
    )

    shared = " ".join(f"s{i}" for i in range(8))  # one 8-token window
    docs = spark.createDataFrame(
        [
            (1, shared + " tail1 tail2"),
            (2, "lead1 lead2 " + shared),
            (3, " ".join(f"u{i}" for i in range(12))),  # all-unique doc
            (4, "too short"),  # < 8 tokens: no windows, no output row
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in duplicate_ngram_windows(docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3}
    # doc1: 10 tokens -> 3 windows, exactly the leading one is shared
    assert out[1]["n_windows"] == 3 and out[1]["dup_windows"] == 1
    assert out[2]["n_windows"] == 3 and out[2]["dup_windows"] == 1
    assert out[3]["dup_windows"] == 0
    assert abs(out[1]["dup_window_frac"] - 1 / 3) < 1e-12


def test_duplicate_ngram_windows_self_repeat_not_cross_doc(spark):
    # a window repeated WITHIN one doc is not a cross-document duplicate
    from end_to_end_data_engineering_and_ml_system_spark.operators.text import (
        duplicate_ngram_windows,
    )

    block = " ".join(f"r{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, block + " " + block)], "doc_id int, text string"
    )
    row = duplicate_ngram_windows(docs, "doc_id", "text").first()
    assert row["dup_windows"] == 0


def test_duplicate_ngram_spans_merge_adjacent_windows(spark):
    from end_to_end_data_engineering_and_ml_system_spark.operators.text import (
        duplicate_ngram_spans,
    )

    # 10 shared tokens -> three consecutive duplicated 8-windows in each
    # doc, which must coalesce into ONE span covering the shared run
    shared = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, shared + " t1 t2"),
            (2, "l1 l2 " + shared),
            (3, " ".join(f"u{i}" for i in range(12))),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicate_ngram_spans(docs, "doc_id", "text").collect()
    }
    # doc1: shared run at tokens 1..10 -> windows at pos 1,2,3 -> span 1..10
    assert out[1] == (1, 10, 3)
    # doc2: shared run at tokens 3..12 -> windows at pos 3,4,5 -> span 3..12
    assert out[2] == (3, 12, 3)
    assert 3 not in out  # all-unique doc has no spans


def test_duplicate_ngram_spans_disjoint_runs_stay_separate(spark):
    from end_to_end_data_engineering_and_ml_system_spark.operators.text import (
        duplicate_ngram_spans,
    )

    a = " ".join(f"a{i}" for i in range(8))
    b = " ".join(f"b{i}" for i in range(8))
    gap = " ".join(f"g{i}" for i in range(8))  # unique separator
    docs = spark.createDataFrame(
        [(1, f"{a} {gap} {b}"), (2, a), (3, b)], "doc_id int, text string"
    )
    spans = sorted(
        (r["span_start"], r["span_end"])
        for r in duplicate_ngram_spans(docs, "doc_id", "text").collect()
        if r["doc_id"] == 1
    )
    assert spans == [(1, 8), (17, 24)]


def test_chunk_udtf_matches_builtin_chunker(spark, sf_dir):
    from end_to_end_data_engineering_and_ml_system_spark.operators.text import (
        chunk_documents,
        chunk_documents_udtf,
    )
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    builtin = {
        (r["doc_id"], r["chunk_no"], r["chunk_text"])
        for r in chunk_documents(docs, "doc_id", "text").collect()
    }
    chunk_documents_udtf(spark)
    docs.createOrReplaceTempView("docs_for_udtf")
    via_udtf = {
        tuple(r)
        for r in spark.sql(
            "SELECT c.doc_id, c.chunk_no, c.chunk_text "
            "FROM docs_for_udtf d, "
            "LATERAL chunk_udtf(d.doc_id, d.text) c"
        ).collect()
    }
    assert via_udtf == builtin
    assert builtin, "chunker must produce rows on the fixture corpus"


def test_quality_ratios_null_on_empty_text_ansi_safe(spark):
    """Empty/whitespace-only text must yield NULL ratios (not an ANSI
    DIVIDE_BY_ZERO crash — Spark 4's default mode — and not a legacy
    silent NULL with no contract) and a 0.0 composite quality."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.text import (
        punct_ratio,
        quality_score,
        stopword_ratio,
        uppercase_ratio,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "the cat sat, the cat sat.")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            punct_ratio("text").alias("p"),
            uppercase_ratio("text").alias("u"),
            stopword_ratio("text").alias("s"),
            quality_score("text").alias("q"),
        ).collect()
    }
    assert out[1]["p"] is None and out[1]["u"] is None and out[1]["s"] is None
    assert out[1]["q"] == 0.0
    assert out[2]["s"] is None  # whitespace-only: zero tokens
    assert out[3]["p"] is not None and out[3]["q"] is not None
