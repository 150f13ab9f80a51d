"""Invariant tests for the non-oracle relational ops (sampling/splits) and
unit tests for the cleaning library."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.operators.cleaning import (
    find_column,
    sanitize_columns,
    select_first_occurrence,
)
from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
    capped_sample,
    seeded_split,
)
from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table


def test_seeded_split_partitions_input(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    total = orders.count()
    train, test = seeded_split(orders, [0.8, 0.2], seed=42)
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == total
    # membership is disjoint and reproducible for the same seed+partitioning
    overlap = train.select("o_orderkey").intersect(test.select("o_orderkey")).count()
    assert overlap == 0
    train2, _ = seeded_split(orders, [0.8, 0.2], seed=42)
    assert train2.count() == n_train


def test_capped_sample_near_cap(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    total = li.count()
    cap = total // 3
    n = capped_sample(li, cap=cap, total=total, seed=42).count()
    assert 0.7 * cap <= n <= 1.3 * cap
    # under the cap: passthrough, no sampling
    assert capped_sample(li, cap=total + 1, total=total).count() == total


def test_sanitize_columns(spark):
    df = spark.createDataFrame(
        [(1, 2, 3, 4)], [" Flow Duration", "Flow Bytes/s", "Flow Bytes/s ", "8var"]
    )
    out = sanitize_columns(df)
    assert out.columns == ["Flow_Duration", "Flow_Bytes_s", "Flow_Bytes_s_1", "c_8var"]


def test_find_column_fuzzy(spark):
    df = spark.createDataFrame([(1, 2)], ["Fwd_Header_Length", "Label"])
    assert find_column(df, "fwd header length") == "Fwd_Header_Length"
    assert find_column(df, "LABEL") == "Label"
    assert find_column(df, "missing") is None


def test_select_first_occurrence(spark):
    a = spark.range(3).select(F.col("id"), (F.col("id") * 2).alias("id"))
    out = select_first_occurrence(a)
    assert out.columns == ["id"]
    assert [r.id for r in out.orderBy("id").collect()] == [0, 1, 2]


def test_banded_range_join_matches_naive(spark):
    """Band equi-join + exact filter == the naive range join, including
    window-boundary rows and band-straddling matches."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        banded_range_join,
    )

    left = spark.createDataFrame(
        [(i, f"2024-01-01 00:{m:02d}:00") for i, m in enumerate([0, 5, 17, 42, 59])],
        ["lid", "lts"],
    ).select("lid", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [(j, f"2024-01-01 00:{m:02d}:{s:02d}") for j, (m, s) in enumerate(
            [(0, 0), (2, 30), (4, 59), (5, 1), (16, 59), (17, 0), (40, 0), (58, 30)]
        )],
        ["rid", "rts"],
    ).select("rid", F.col("rts").cast("timestamp").alias("rts"))

    got = banded_range_join(
        left, right, "lts", "rts", lower="3 minutes", upper="1 minute"
    ).select("lid", "rid")
    want = left.join(
        right,
        (F.col("rts") >= F.col("lts") - F.expr("INTERVAL 3 minutes"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 1 minute")),
    ).select("lid", "rid")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert want.count() > 0  # the fixture actually exercises matches


def test_banded_range_join_plans_equi_join(spark, sf_dir):
    """The banding must buy an equi-join plan: no BroadcastNestedLoopJoin
    (what Spark picks for a raw range predicate, O(|L|*|R|) at scale)."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        banded_range_join,
    )
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("o_ts"),
    )
    j = banded_range_join(
        ev, orders, "ts", "o_ts", lower="7 days", upper="0 seconds",
        equi_keys=("user_id",),
    )
    from tests.planutil import physical_plan

    plan = physical_plan(j)
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_stratified_sample_invariants(spark, sf_dir):
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        stratified_sample,
    )
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    fr = {"click": 0.1, "view": 0.3, "purchase": 1.0}
    s = stratified_sample(ev, "event_type", fr, seed=7)
    base = {r["event_type"]: r["n"] for r in
            ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    got = {r["event_type"]: r["n"] for r in
           s.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert set(got) <= set(fr)                     # absent strata dropped
    assert got.get("purchase", 0) == base["purchase"]  # fraction 1.0 keeps all
    for k, f in [("click", 0.1), ("view", 0.3)]:
        assert got.get(k, 0) <= base[k]
        assert abs(got.get(k, 0) / base[k] - f) < 0.1  # ~fraction at 1k rows
    # seeded: same seed+partitioning -> identical membership
    s2 = stratified_sample(ev, "event_type", fr, seed=7)
    assert s.select("event_id").exceptAll(s2.select("event_id")).count() == 0


def test_deterministic_split_leakage_safe(spark, sf_dir):
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        deterministic_split,
    )

    ev = load_table(spark, sf_dir, "events")
    out = deterministic_split(ev, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    # exhaustive: every row labeled, sizes sum to total
    assert out.filter(F.col("split").isNull()).isEmpty()
    assert out.count() == ev.count()
    # leakage-safe: each user lands in exactly one split
    multi = (
        out.groupBy("user_id")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
    )
    assert multi.isEmpty()
    # reproducible: rerun gives identical membership
    out2 = deterministic_split(ev, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert (
        out.select("event_id", "split")
        .exceptAll(out2.select("event_id", "split"))
        .isEmpty()
    )


def test_weighted_corpus_mix_weights(spark, sf_dir):
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        weighted_corpus_mix,
    )

    docs = load_table(spark, sf_dir, "documents")
    mixed = weighted_corpus_mix(
        docs, "source", "doc_id", {"src0": 1.0, "src1": 0.0}, default_weight=0.5
    )
    per = {r["source"]: r["n"] for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n0 = docs.filter(F.col("source") == "src0").count()
    assert per["src0"] == n0  # weight 1.0 keeps the source whole
    assert "src1" not in per  # weight 0.0 drops it entirely
    # default-weight sources are subsampled, not dropped
    others = [v for k, v in per.items() if k not in ("src0", "src1")]
    assert others and all(v > 0 for v in others)


def test_hash_uniform_range_and_determinism(spark):
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        hash_uniform,
    )

    df = spark.range(1000).select(hash_uniform("id").alias("u"))
    row = df.agg(
        F.min("u").alias("lo"), F.max("u").alias("hi"), F.avg("u").alias("m")
    ).first()
    assert 0.0 <= row["lo"] and row["hi"] < 1.0
    assert 0.4 < row["m"] < 0.6  # roughly uniform


def test_deterministic_split_single_label_and_validation(spark, sf_dir):
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        deterministic_split,
    )

    ev = load_table(spark, sf_dir, "events").limit(50)
    out = deterministic_split(ev, "user_id", {"all": 1.0})
    assert out.filter(F.col("split") != "all").isEmpty()
    with pytest.raises(ValueError, match="sum to 1.0"):
        deterministic_split(ev, "user_id", {"a": 0.5, "b": 0.2})


def test_merge_upsert_branch_semantics(spark):
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")], "k int, v double, tag string"
    )
    source = spark.createDataFrame(
        [(2, 99.0, "b2"), (4, 40.0, "d")], "k int, v double, tag string"
    )
    out = {r["k"]: r for r in merge_upsert(target, source, ["k"]).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["action"] == "carryover" and out[1]["v"] == 10.0
    assert out[2]["action"] == "update" and out[2]["v"] == 99.0 and out[2]["tag"] == "b2"
    assert out[3]["action"] == "carryover"
    assert out[4]["action"] == "insert" and out[4]["v"] == 40.0


def test_merge_upsert_source_nulls_fall_back_to_target(spark):
    # coalesce semantics: a NULL in a matched source cell keeps the target
    # value (column-level patch, the common CDC-partial-update shape)
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        merge_upsert,
    )

    target = spark.createDataFrame([(1, 10.0)], "k int, v double")
    source = spark.createDataFrame([(1, None)], "k int, v double")
    row = merge_upsert(target, source, ["k"]).first()
    assert row["action"] == "update" and row["v"] == 10.0


def test_global_row_number_matches_window(spark):
    # the distributed rank (range-repartition + local rank + broadcast
    # prefix offsets) must be row_number-identical under any partitioning
    from pyspark.sql import Window

    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        global_row_number,
    )

    df = spark.range(997).select(
        (F.col("id") % 89).alias("v"), F.col("id").alias("k")
    )
    exp = sorted(
        df.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("v"), "k")).cast("long")
        ).collect()
    )
    got = sorted(
        global_row_number(df, [("v", "desc"), ("k", "asc")])
        .select("v", "k", "rn")
        .collect()
    )
    assert got == exp


def test_global_ntile_matches_window(spark):
    from pyspark.sql import Window

    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        global_ntile,
    )

    for n_rows, n_buckets in [(1003, 10), (7, 10), (1003, 3)]:
        df = spark.range(n_rows).select(
            (F.col("id") % 97).alias("v"), F.col("id").alias("k")
        )
        exp = sorted(
            df.withColumn(
                "bucket", F.ntile(n_buckets).over(Window.orderBy("v", "k"))
            ).collect()
        )
        got = sorted(
            global_ntile(df, n_buckets, [("v", "asc"), ("k", "asc")])
            .select("v", "k", F.col("bucket"))
            .collect()
        )
        assert got == exp, (n_rows, n_buckets)


def test_bounded_ranked_topk_matches_window(spark):
    from pyspark.sql import Window

    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        bounded_ranked_topk,
    )

    df = spark.range(500).select(
        (F.col("id") % 41).alias("v"), F.col("id").alias("k")
    )
    exp = sorted(
        df.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("v"), "k")).cast("long")
        )
        .filter(F.col("rn") <= 25)
        .collect()
    )
    got = sorted(
        bounded_ranked_topk(df, [("v", "desc"), ("k", "asc")], 25)
        .select("v", "k", "rn")
        .collect()
    )
    assert got == exp


def test_global_running_sum_matches_window(spark):
    from pyspark.sql import Window

    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        global_running_sum,
    )

    df = spark.range(731).select(
        (F.col("id") % 53).alias("v"), F.col("id").alias("k"),
        ((F.col("id") % 7) - 3).alias("d"),
    )
    w = Window.orderBy("v", "k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    exp = sorted(
        df.withColumn("rs", F.sum("d").over(w).cast("long")).collect()
    )
    got = sorted(
        global_running_sum(df, [("v", "asc"), ("k", "asc")], "d", out="rs")
        .select("v", "k", "d", "rs")
        .collect()
    )
    assert got == exp


def test_global_running_sum_null_semantics_match_window(spark):
    # NULL values are skipped; rows before any non-NULL value get NULL —
    # exactly SUM() OVER (ORDER BY ...), even when a range partition
    # holds only NULLs or a prefix sums to zero
    from pyspark.sql import Window

    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        global_running_sum,
    )

    rows = [(0, None), (1, None), (2, 5), (3, -5), (4, None), (5, 7)]
    df = spark.createDataFrame(rows, "k long, d long").repartition(4)
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    exp = sorted(df.withColumn("rs", F.sum("d").over(w)).collect())
    got = sorted(
        global_running_sum(df, [("k", "asc")], "d", out="rs")
        .select("k", "d", "rs")
        .collect()
    )
    assert got == exp


def test_bounded_ranked_topk_excludes_null_keys(spark):
    # NULL order keys would satisfy no strictly-before comparison and
    # silently take rank 1 — the operator excludes them instead (documented
    # precondition; matches row_number over the NULL-free survivors)
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        bounded_ranked_topk,
    )

    rows = [(1, 0.9), (2, None), (3, 0.7), (4, None), (5, 0.8)]
    df = spark.createDataFrame(rows, "id long, score double").repartition(3)
    got = sorted(
        bounded_ranked_topk(
            df, [("score", "desc"), ("id", "asc")], 10, out="rn"
        )
        .select("id", "rn")
        .collect()
    )
    assert got == [(1, 1), (3, 3), (5, 2)]


def test_bounded_ranked_topk_k_ceiling(spark):
    import pytest as _pytest

    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        BOUNDED_TOPK_MAX_K,
        bounded_ranked_topk,
    )

    df = spark.range(5).withColumn("v", F.col("id"))
    with _pytest.raises(ValueError, match="BOUNDED_TOPK_MAX_K"):
        bounded_ranked_topk(df, [("v", "asc")], BOUNDED_TOPK_MAX_K + 1)


def test_release_rank_caches_frees_tracked_persists(spark):
    import threading

    from end_to_end_data_engineering_and_ml_system_spark.operators import (
        relational as R,
    )

    R.release_rank_caches()  # start clean
    df = spark.range(100).withColumn("v", F.col("id") % 7)
    out = R.global_row_number(df, [("v", "asc"), ("id", "asc")])
    out.count()  # materialize while the range cache is live
    me = threading.current_thread()
    handles = [h for t, h in R._PERSISTED_HANDLES if t is me]
    assert len(handles) >= 1
    assert all(h.storageLevel.useMemory or h.storageLevel.useDisk for h in handles)
    freed = R.release_rank_caches()
    assert freed == len(handles)
    assert not any(t is me for t, _ in R._PERSISTED_HANDLES)
    assert all(
        not (h.storageLevel.useMemory or h.storageLevel.useDisk)
        for h in handles
    )


def test_release_rank_caches_is_thread_scoped(spark):
    """A release on one thread must not flush another thread's live
    range-shuffle cache (early unpersist recomputes the range shuffle
    with re-sampled boundaries → silently wrong ranks). all_threads=True
    remains the teardown sweep."""
    import threading

    from end_to_end_data_engineering_and_ml_system_spark.operators import (
        relational as R,
    )

    R.release_rank_caches(all_threads=True)  # start clean
    df = spark.range(50).withColumn("v", F.col("id") % 5)
    other_handles = []

    def build_on_other_thread():
        out = R.global_row_number(df, [("v", "asc"), ("id", "asc")])
        out.count()
        me = threading.current_thread()
        other_handles.extend(
            h for t, h in R._PERSISTED_HANDLES if t is me
        )

    t = threading.Thread(target=build_on_other_thread)
    t.start()
    t.join()
    assert other_handles, "other thread tracked at least one handle"
    # main thread's release must NOT touch the other thread's handles
    assert R.release_rank_caches() == 0
    # ident-recycling guard: a FRESH thread (which may be handed the dead
    # thread's recycled ident) must not drain the dead thread's entries —
    # tracking keys on the Thread object, not get_ident()
    freed_on_new_thread = []
    t2 = threading.Thread(
        target=lambda: freed_on_new_thread.append(R.release_rank_caches())
    )
    t2.start()
    t2.join()
    assert freed_on_new_thread == [0]
    assert all(
        h.storageLevel.useMemory or h.storageLevel.useDisk
        for h in other_handles
    )
    # the teardown sweep frees them
    assert R.release_rank_caches(all_threads=True) == len(other_handles)
    assert all(
        not (h.storageLevel.useMemory or h.storageLevel.useDisk)
        for h in other_handles
    )


def test_release_rank_caches_drain_dead_opt_in(spark):
    """drain_dead=True bounds the leak from workers that exit without
    releasing (a long-lived multi-threaded consumer with no teardown
    sweep) — but it is opt-in: the default release must NOT touch a dead
    thread's entries, because its un-collected output may have been
    handed to another live thread (unpersisting then re-samples the range
    boundaries → silently wrong ranks)."""
    import threading

    from end_to_end_data_engineering_and_ml_system_spark.operators import (
        relational as R,
    )

    R.release_rank_caches(all_threads=True)  # start clean
    df = spark.range(50).withColumn("v", F.col("id") % 5)
    dead_handles = []

    def abandon_without_release():
        out = R.global_row_number(df, [("v", "asc"), ("id", "asc")])
        out.count()
        me = threading.current_thread()
        dead_handles.extend(h for t, h in R._PERSISTED_HANDLES if t is me)

    t = threading.Thread(target=abandon_without_release)
    t.start()
    t.join()
    assert dead_handles and not t.is_alive()
    # default: the dead thread's entries are untouched
    assert R.release_rank_caches() == 0
    assert all(
        h.storageLevel.useMemory or h.storageLevel.useDisk
        for h in dead_handles
    )
    # opt-in: drained (plus nothing from the live main thread — it holds
    # no handles here)
    assert R.release_rank_caches(drain_dead=True) == len(dead_handles)
    assert all(
        not (h.storageLevel.useMemory or h.storageLevel.useDisk)
        for h in dead_handles
    )
    assert R.release_rank_caches(all_threads=True) == 0


def test_dead_thread_rank_handles_counts_forgotten_releases(spark):
    """The conftest leak detector's primitive: dead_thread_rank_handles()
    counts exactly the handles whose owner thread exited without
    releasing, never the live current thread's, and drains nothing."""
    import threading

    from end_to_end_data_engineering_and_ml_system_spark.operators import (
        relational as R,
    )

    R.release_rank_caches(all_threads=True)  # start clean
    assert R.dead_thread_rank_handles() == 0
    df = spark.range(40).withColumn("v", F.col("id") % 4)

    # the current thread's own (normal, releasable) handle never counts
    R.global_row_number(df, [("v", "asc"), ("id", "asc")]).count()
    assert R.dead_thread_rank_handles() == 0

    def abandon_without_release():
        R.global_row_number(df, [("id", "desc")]).count()

    t = threading.Thread(target=abandon_without_release)
    t.start()
    t.join()
    before = R.dead_thread_rank_handles()
    assert before >= 1
    # read-only: counting twice changes nothing
    assert R.dead_thread_rank_handles() == before
    R.release_rank_caches(all_threads=True)
    assert R.dead_thread_rank_handles() == 0


def test_ranked_topk_strict_null_policy(spark):
    """on_null='strict' raises (with the dropped-row count) instead of
    silently shrinking the result set; the NULL-free case is unaffected;
    both dispatch paths enforce it."""
    import pytest as _pytest

    from end_to_end_data_engineering_and_ml_system_spark.operators import (
        relational as R,
    )

    rows = [(1, 0.9), (2, None), (3, 0.7), (4, None), (5, 0.8)]
    df = spark.createDataFrame(rows, "id long, score double")
    spec = [("score", "desc"), ("id", "asc")]
    with _pytest.raises(ValueError, match="2 rows hold NULL"):
        R.bounded_ranked_topk(df, spec, 10, on_null="strict")
    with _pytest.raises(ValueError, match="rows hold NULL"):
        R.ranked_topk(df, spec, R.BOUNDED_TOPK_MAX_K + 5, on_null="strict")
    with _pytest.raises(ValueError, match="on_null"):
        R.bounded_ranked_topk(df, spec, 10, on_null="typo")
    clean = df.filter(F.col("score").isNotNull())
    got = sorted(
        R.bounded_ranked_topk(clean, spec, 10, on_null="strict")
        .select("id", "rn")
        .collect()
    )
    assert got == [(1, 1), (3, 3), (5, 2)]


def test_ranked_topk_paths_agree(spark, monkeypatch):
    # the large-k path (global_row_number + filter) must produce the same
    # (row, rank) set as the bounded O(k^2) path — forced by shrinking the
    # ceiling so k=20 dispatches to the global-rank branch
    from end_to_end_data_engineering_and_ml_system_spark.operators import (
        relational as R,
    )

    df = (
        spark.range(500)
        .withColumn("v", (F.col("id") * 2654435761) % 997)
        .repartition(5)
    )
    spec = [("v", "asc"), ("id", "asc")]
    small = sorted(
        R.ranked_topk(df, spec, 20, out="rn").select("id", "v", "rn").collect()
    )
    monkeypatch.setattr(R, "BOUNDED_TOPK_MAX_K", 10)
    large = sorted(
        R.ranked_topk(df, spec, 20, out="rn").select("id", "v", "rn").collect()
    )
    assert small == large and len(small) == 20


def test_concurrent_rank_builds_are_isolated(spark):
    """The advisor's actual hazard scenario, live: two threads building
    and releasing distributed-rank queries SIMULTANEOUSLY. Each thread's
    release must only ever free its own caches; every iteration's ranks
    must be exactly the sequential answer (an early cross-thread
    unpersist would recompute the range shuffle with re-sampled
    boundaries and corrupt ranks)."""
    import threading

    from end_to_end_data_engineering_and_ml_system_spark.operators import (
        relational as R,
    )

    R.release_rank_caches(all_threads=True)  # start clean
    df = (
        spark.range(400)
        .withColumn("v", (F.col("id") * 2654435761) % 613)
    )
    spec = [("v", "asc"), ("id", "asc")]
    expected = {
        (r["id"], r["rn"])
        for r in R.global_row_number(df, spec).select("id", "rn").collect()
    }
    R.release_rank_caches()
    errors: list[str] = []
    barrier = threading.Barrier(2)

    def worker(tag: str):
        try:
            for i in range(3):
                # generous timeout: the first iteration pays JIT/codegen for
                # BOTH threads' plans and ambient load can stack on it (a
                # 120s barrier was observed to trip exactly once that way)
                barrier.wait(timeout=600)  # maximize interleaving
                got = {
                    (r["id"], r["rn"])
                    for r in R.global_row_number(df, spec)
                    .select("id", "rn")
                    .collect()
                }
                if got != expected:
                    errors.append(f"{tag} iter {i}: wrong ranks")
                freed = R.release_rank_caches(blocking=True)
                if freed < 1:
                    errors.append(f"{tag} iter {i}: freed nothing")
        except Exception as e:  # noqa: BLE001
            errors.append(f"{tag}: {e!r}")

    threads = [
        threading.Thread(target=worker, args=(t,)) for t in ("a", "b")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=900)
    assert not errors, errors
    assert not R._PERSISTED_HANDLES, "all handles released by their owners"


def test_internal_column_collisions_raise(spark):
    """withColumn silently REPLACES an existing column — a caller whose
    frame already carries a working-column or output name would silently
    lose data. Every such site must raise instead."""
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.operators import (
        relational as R,
    )

    df = spark.range(10).select(
        F.col("id"), F.lit(1).alias("__pid"), F.lit(2).alias("rn")
    )
    with pytest.raises(ValueError, match="__pid"):
        R.global_row_number(df.drop("rn"), [("id", "asc")])
    with pytest.raises(ValueError, match="rn"):
        R.bounded_ranked_topk(df.drop("__pid"), [("id", "asc")], 3)
    with pytest.raises(ValueError, match="rn"):
        R.global_row_number(df.drop("__pid"), [("id", "asc")], out="rn")
    tsdf = spark.range(5).select(
        F.col("id"),
        F.current_timestamp().alias("ts"),
        F.lit(0).alias("__band"),
    )
    with pytest.raises(ValueError, match="__band"):
        R.banded_range_join(tsdf, tsdf.drop("__band"), "ts", "ts", "0 seconds", "1 hours")
    sdf = spark.range(5).select(F.col("id"), F.lit(0).alias("__salt"))
    with pytest.raises(ValueError, match="__salt"):
        R.salted_join(sdf, sdf.drop("__salt"), "id")


def test_global_running_sum_rejects_float_values(spark):
    """int(float_sum) in the offsets collect would TRUNCATE — silently
    wrong running sums, not merely nondeterministic ones."""
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        global_running_sum,
    )

    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 1.5).alias("v")
    )
    with pytest.raises(ValueError, match="integer value column"):
        global_running_sum(df, [("id", "asc")], "v")


def test_merge_upsert_null_keys_carry_over_not_insert(spark):
    """A target row whose merge key is NULL never matches (NULL <> NULL)
    but IS present — the action must be 'carryover', not 'insert' (the
    old key-nullability check mislabeled it); a NULL-key source row is a
    genuine insert."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, "t1"), (None, "t-null")], "k int, v string"
    )
    source = spark.createDataFrame(
        [(1, "s1"), (None, "s-null")], "k int, v string"
    )
    out = merge_upsert(target, source, ["k"]).collect()
    actions = sorted((r["v"], r["action"]) for r in out)
    assert actions == [
        ("s-null", "insert"),     # NULL-key source row: genuine insert
        ("s1", "update"),         # matched on k=1, source wins
        ("t-null", "carryover"),  # NULL-key target row: present, no match
    ]


def test_asof_join_null_time_refs_and_collisions(spark):
    """A reference row with NULL time must never be carried as 'the most
    recent match' (unfiltered it sorts FIRST under asc and matched every
    earlier probe of its key); value_cols colliding with left columns
    must raise instead of emitting duplicate output names."""
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.operators.asof import (
        asof_join,
    )

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "k long, t string"
    ).select("k", F.col("t").cast("timestamp").alias("t"))
    right = spark.createDataFrame(
        [(1, None, "phantom"), (1, "2024-01-01 09:00:00", "real")],
        "k long, rt string, v string",
    ).select("k", F.col("rt").cast("timestamp").alias("rt"), "v")
    out = asof_join(left, right, "k", "t", "rt", ["v"]).collect()
    assert len(out) == 1 and out[0]["v"] == "real"
    # only the NULL-time ref exists -> no match, not a phantom one
    out2 = asof_join(
        left, right.filter(F.col("v") == "phantom"), "k", "t", "rt", ["v"]
    ).collect()
    assert len(out2) == 1 and out2[0]["v"] is None
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right.withColumnRenamed("v", "t"), "k", "t", "rt", ["t"])
