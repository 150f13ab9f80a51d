"""Invariant tests for the benchmark-contamination scan
(operators/text.py::contamination_check): n-gram overlap between a corpus
and a broadcast benchmark set."""

from __future__ import annotations


def test_contamination_check_plants(spark):
    """A candidate that copies a benchmark span is flagged with the exact
    overlap fraction; a disjoint candidate never appears."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.text import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    cand = spark.createDataFrame(
        [
            # copies the benchmark verbatim -> contamination 1.0
            (1, "the quick brown fox jumps over the lazy dog"),
            # shares a 4-token span ("quick brown fox jumps" -> 2 of its
            # 6 distinct shingles appear in the benchmark)
            (2, "a very quick brown fox jumps again and again"),
            # disjoint -> absent from the result
            (3, "completely unrelated words with zero common trigrams"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in contamination_check(
            cand, bench, "doc_id", "text", n=3, threshold=0.2
        ).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1]["contamination"] == 1.0
    assert rows[1]["shared_ngrams"] == rows[1]["n_ngrams"]
    assert rows[2]["shared_ngrams"] == 2
    assert rows[2]["n_ngrams"] == 7
    assert abs(rows[2]["contamination"] - 2 / 7) < 1e-12


def test_contamination_benchmark_set_broadcasts(spark, sf_dir):
    """The benchmark shingle set must ride a broadcast exchange — the corpus
    side is the 100 TB side and must not shuffle for the join."""
    from end_to_end_data_engineering_and_ml_system_spark.plans.registry import all_queries

    from tests.planutil import physical_plan

    df = all_queries()["benchmark_contamination"].build(spark, sf_dir)
    assert "BroadcastExchange" in physical_plan(df)
