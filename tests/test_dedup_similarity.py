"""Invariant tests for the non-oracle dedup ops (SimHash, MinHash LSH,
edit distance, contamination checks)."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
    hamming64,
    simhash64,
)
from end_to_end_data_engineering_and_ml_system_spark.plans.registry import all_queries
from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table


def test_simhash_identical_and_near(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " extra"
    far = "completely different words about databases and distributed systems"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], ["id", "text"]
    )
    sigs = {
        r.id: r.sig
        for r in df.select("id", simhash64("text").alias("sig")).collect()
    }
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    ham = df.select(
        hamming64(F.lit(sigs[1]), F.lit(sigs[3])).alias("near"),
        hamming64(F.lit(sigs[1]), F.lit(sigs[4])).alias("far"),
    ).collect()[0]
    assert ham.near < ham.far  # near-dup much closer in Hamming space
    assert ham.near <= 16


def test_lsh_verified_matches_exact_on_candidates(spark, sf_dir):
    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        lsh_verified_near_dups,
    )
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = jaccard_pairs(docs, "doc_id", "text", 3, 0.6)
    cands = lsh_candidate_pairs(docs, "doc_id", "text", 8, 2, 3)
    verified = lsh_verified_near_dups(docs, "doc_id", "text", 8, 2, 3, 0.6)
    expected = exact.join(cands, ["id1", "id2"]).select("id1", "id2", "jaccard")
    assert verified.exceptAll(expected).count() == 0
    assert expected.exceptAll(verified).count() == 0


def test_hot_bucket_cap_bounds_candidates(spark):
    """A planted viral bucket (many identical docs) is dropped by
    max_bucket_size while normal-sized buckets are untouched."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    viral = [(i, "spam spam spam wonderful spam lovely spam baked beans spam")
             for i in range(40)]
    normal = [
        (100, "the quick brown fox jumps over the lazy dog near the river"),
        (101, "the quick brown fox jumps over the lazy dog near the river"),
        (200, "databases shuffle partitions across executors for joins daily"),
    ]
    df = spark.createDataFrame(viral + normal, ["doc_id", "text"])

    uncapped = lsh_candidate_pairs(df, "doc_id", "text", 8, 2, 3)
    capped = lsh_candidate_pairs(df, "doc_id", "text", 8, 2, 3, max_bucket_size=10)

    # uncapped: the 40-replica group alone yields 40*39/2 pairs
    assert uncapped.count() >= 40 * 39 // 2
    # capped: the viral bucket is gone, the small pair survives
    got = {(r.id1, r.id2) for r in capped.collect()}
    assert (100, 101) in got
    assert all(not (a < 40 and b < 40) for a, b in got)


def test_hot_bucket_cap_no_change_on_fixture(spark, sf_dir):
    """On the fixture corpus (no viral buckets at cap=50) capping changes
    nothing — the guard only fires on genuinely hot buckets."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    plain = lsh_candidate_pairs(docs, "doc_id", "text", 8, 2, 3)
    capped = lsh_candidate_pairs(docs, "doc_id", "text", 8, 2, 3, max_bucket_size=50)
    assert plain.exceptAll(capped).count() == 0
    assert capped.exceptAll(plain).count() == 0


def test_incremental_near_dups_cross_side_only(spark):
    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        incremental_near_dups,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, "completely unrelated text about spark physical plans and shuffles"),
            (3, base + " ok"),  # near-dup INSIDE the corpus: must not be reported
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (100, base + " yes"),  # near-dup of corpus docs 1 and 3
            (101, "fresh document with entirely new content and no overlap at all"),
            (102, base + " yes!"),  # near-dup of 100 (same side): must not be reported
        ],
        ["doc_id", "text"],
    )
    got = incremental_near_dups(corpus, new, "doc_id", "text", threshold=0.5)
    pairs = {(r["new_id"], r["corpus_id"]) for r in got.collect()}
    assert (100, 1) in pairs and (100, 3) in pairs
    assert (102, 1) in pairs  # the other new near-dup also matches the corpus
    # no same-side pairs, no fresh-doc pairs
    assert all(n in (100, 102) and c in (1, 3) for n, c in pairs)
    jacs = [r["jaccard"] for r in got.collect()]
    assert all(0.5 <= j <= 1.0 for j in jacs)


def test_contamination_check_plants(spark):
    """A candidate that copies a benchmark span is flagged with the exact
    overlap fraction; a disjoint candidate never appears."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import contamination_check

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


def test_edit_distance_pairs_vs_naive(spark):
    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        edit_distance_pairs,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumped over the lazy dog", "en"),  # 2 edits
        (3, "the quick brown cat naps under the warm sun!", "en"),  # same blk
        (4, "a completely different document altogether here", "en"),
        (5, "the quick brown fox jumps over the lazy dog", "fr"),  # lang block
        (6, "the quick 中文 fox jumps over the lazy dog", "en"),  # non-ASCII stripped
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang"])
    got = {
        (r.doc_a, r.doc_b): r.prefix_edit_distance
        for r in edit_distance_pairs(
            df, "doc_id", "text", prefix_len=64, block_len=8,
            length_band=32, max_dist=8, extra_block_cols=("lang",),
        ).collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    import re

    def norm(s: str) -> str:
        return re.sub(r"[^ -~]", "", s)

    want = {}
    for i, (ida, ta, la) in enumerate(docs):
        for idb, tb, lb in docs[i + 1:]:
            na, nb = norm(ta), norm(tb)
            if la != lb or na[:8] != nb[:8] or abs(len(na) - len(nb)) > 32:
                continue
            d = lev(na[:64], nb[:64])
            if d <= 8:
                want[(min(ida, idb), max(ida, idb))] = d

    assert got == want
    assert (1, 2) in got  # the planted near-dup survives blocking
    assert (1, 5) not in got  # lang block separates identical text


def test_edit_distance_pairs_skips_all_non_ascii_docs(spark):
    """Documents whose text normalizes to '' (all-CJK/Cyrillic) must NOT be
    compared at all: they would otherwise share block '' with distance 0 —
    unrelated docs reported as exact dups and a quadratic empty block."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        edit_distance_pairs,
    )

    docs = [
        (1, "这是一个完全中文的文档", "zh"),
        (2, "另一个完全不同的中文文档内容", "zh"),
        (3, "Это русский документ", "zh"),
        (4, "ascii doc one two three", "zh"),
        (5, "ascii doc one two three!", "zh"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang"])
    got = {
        (r.doc_a, r.doc_b)
        for r in edit_distance_pairs(
            df, "doc_id", "text", extra_block_cols=("lang",)
        ).collect()
    }
    # docs 1-2 normalize to '' and are excluded outright (before the fix
    # they formed block '' at distance 0); doc 3 keeps only its two spaces
    # and matches nobody's block. Only the genuine ascii near-dup remains.
    assert got == {(4, 5)}


def test_cluster_aware_split_never_splits_a_pair(spark, sf_dir):
    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        lsh_verified_near_dups,
    )
    from end_to_end_data_engineering_and_ml_system_spark.operators.graph import (
        dedup_cluster_labels,
    )
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        deterministic_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_verified_near_dups(
        docs, "doc_id", "text", num_hashes=8, rows_per_band=2, n=3, threshold=0.6
    )
    labeled = dedup_cluster_labels(docs, pairs, "doc_id")
    split = deterministic_split(
        labeled, "cluster_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")
    assert pairs.count() > 0  # fixture must actually exercise the property
    straddlers = (
        pairs.join(
            split.select(F.col("doc_id").alias("id1"), F.col("split").alias("s1")),
            "id1",
        )
        .join(
            split.select(F.col("doc_id").alias("id2"), F.col("split").alias("s2")),
            "id2",
        )
        .filter(F.col("s1") != F.col("s2"))
    )
    assert straddlers.count() == 0


def test_simhash_pairs_exact_vs_bruteforce(spark):
    import itertools
    import random

    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    rng = random.Random(11)
    base = rng.getrandbits(60)
    sigs = {0: base}
    # planted neighbors at hamming 1..5 plus random strangers
    for i, k in enumerate([1, 2, 3, 4, 5], start=1):
        s = base
        for b in rng.sample(range(60), k):
            s ^= 1 << b
        sigs[i] = s
    for i in range(6, 16):
        sigs[i] = rng.getrandbits(60)

    df = spark.createDataFrame(list(sigs.items()), "doc_id long, simhash long")
    got = {
        (r.id1, r.id2): r.hamming
        for r in simhash_near_dup_pairs(
            df, "doc_id", bits=60, chunks=4, max_hamming=3
        ).collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        d = bin(sigs[a] ^ sigs[b]).count("1")
        if d <= 3:
            want[(a, b)] = d
    assert got == want  # pigeonhole banding loses nothing within radius 3
    assert (0, 1) in got and (0, 3) in got and (0, 4) not in got


def test_lsh_banding_rejects_non_divisible_params(spark, sf_dir):
    """num_hashes % rows_per_band != 0 silently dropped the trailing hashes
    (lower recall than requested), and rows_per_band > num_hashes produced
    ZERO bands — every doc vanished and the pipeline reported 'no
    near-dups' with no error. Both must raise."""
    import pytest
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        lsh_verified_near_dups,
    )
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    with pytest.raises(ValueError, match="divide num_hashes"):
        lsh_verified_near_dups(docs, "doc_id", "text", 8, 3, 3, 0.6).count()
    with pytest.raises(ValueError, match="divide num_hashes"):
        lsh_verified_near_dups(docs, "doc_id", "text", 8, 16, 3, 0.6).count()


def test_minhash_and_sets_matches_source_operators(spark, sf_dir):
    """The r15 combined per-doc frame (one tokenize+shingle pass feeding
    both LSH banding and exact-Jaccard verification) must be column-exact
    against the two operators it fuses: minhash_wide's signature columns
    and shingle_hash_sets' sorted hash arrays, over the >=1-shingle docs
    both pipelines consume."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        minhash_and_sets,
        minhash_wide,
        shingle_hash_sets,
    )
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    k = 4
    combined = {
        r["doc_id"]: r
        for r in minhash_and_sets(docs, "doc_id", "text", k, 3).collect()
    }
    wide = {r["doc_id"]: r for r in minhash_wide(docs, "doc_id", "text", k, 3).collect()}
    sets_ = {
        r["doc_id"]: r["sh_set"]
        for r in shingle_hash_sets(docs, "doc_id", "text", 3)
        .filter(F.size("sh_set") >= 1)
        .collect()
    }
    assert set(combined) == set(wide) == set(sets_)
    assert combined  # fixture has docs with shingles
    for doc_id, row in combined.items():
        for i in range(k):
            assert row[f"h{i}"] == wide[doc_id][f"h{i}"], (doc_id, i)
        assert list(row["sh_set"]) == list(sets_[doc_id]), doc_id


def test_minhash_token_precondition_matches_shingle_filter(spark):
    """minhash_wide / minhash_and_sets drop zero-shingle docs via the
    pushdown-cheap token-count precondition (size(toks) >= n). Pin the
    exact equivalence with the shingle-array form it replaced
    (size(shingles) >= 1) — a doc has >= 1 n-gram iff it has >= n tokens —
    across the edge shapes: empty text, whitespace-only, n-1 tokens,
    exactly n tokens, repeated-token docs (distinct shingles still
    non-empty), and NULL text (size = -1 either way)."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        minhash_and_sets,
        minhash_wide,
        shingles,
    )
    from end_to_end_data_engineering_and_ml_system_spark.operators.text import (
        tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, "   "),
            (3, "a b"),
            (4, "a b c"),
            (5, None),
            (6, "a a a a"),
            (7, "x y z w v"),
        ],
        "doc_id long, text string",
    )
    n = 3
    # ground truth: docs whose distinct-shingle array is non-empty
    want = {
        r["doc_id"]
        for r in docs.select(
            "doc_id", shingles(tokens("text"), n).alias("sh")
        )
        .filter(F.size("sh") >= 1)
        .collect()
    }
    got_wide = {
        r["doc_id"] for r in minhash_wide(docs, "doc_id", "text", 4, n).collect()
    }
    got_comb = {
        r["doc_id"]
        for r in minhash_and_sets(docs, "doc_id", "text", 4, n).collect()
    }
    assert got_wide == got_comb == want == {4, 6, 7}
    # and no all-NULL signature rows slipped through
    wide = minhash_wide(docs, "doc_id", "text", 4, n)
    assert wide.filter(F.col("h0").isNull()).count() == 0
