"""Scale-linearity probe: run selected operators on a 1x and an Nx
replicated corpus and print wall times — evidence that the distributed
shapes scale linearly rather than quadratically.

Replication shifts ids so replicas are distinct documents/vectors (the
pathological case for dedup operators: every shingle's doc-frequency
multiplies by N).

Usage: python tools/scale_probe.py [N] [sf_dir]
       python tools/scale_probe.py --pathological [N] [sf_dir]

``--pathological`` replicates every document N times with IDENTICAL text
(N-replica groups — the banding worst case: every bucket holding a doc holds
its whole replica group, so candidate pairs grow as N² per group, and the
true near-dup pair set itself is N² — no algorithm emits it in sub-quadratic
output). It measures three strategies and the bucket-cap hit rate:

1. raw LSH-verify (quadratic by construction — the thing NOT to run),
2. bucket-capped LSH (linear wall, but the cap drops exactly the buckets
   holding the true dups — bounded cost bought with recall loss),
3. exact-dedup-first → LSH on canonical survivors (the production shape:
   replica floods are exact dups, hash-groupBy collapses them linearly,
   banding then sees a replica-free corpus).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def replicate(df, id_col: str, n: int, stride: int = 10_000_000):
    out = None
    for i in range(n):
        part = df.withColumn(id_col, F.col(id_col) + F.lit(i * stride))
        out = part if out is None else out.unionByName(part)
    return out


def pathological(n: int, sf_dir: str) -> None:
    from end_to_end_data_engineering_and_ml_system_spark.operators.cleaning import (
        exact_dedup,
    )
    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        lsh_buckets_wide,
        lsh_verified_near_dups,
        minhash_wide,
    )
    from end_to_end_data_engineering_and_ml_system_spark.session import get_spark
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    cap = 50
    spark = get_spark(app_name="scale-probe-pathological", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    big = replicate(docs, "doc_id", n).persist()
    n_docs = big.count()
    print(f"pathological corpus: {n_docs} docs in {n}-replica groups")

    # bucket-size distribution + cap hit rate (membership rows in buckets
    # over the cap are what the guard drops)
    wide = minhash_wide(big, "doc_id", "text", 8, 3)
    buckets = lsh_buckets_wide(wide, "doc_id", 8, 2)
    stats = (
        buckets.groupBy("band", "bucket")
        .count()
        .agg(
            F.max("count").alias("largest"),
            F.sum("count").alias("rows"),
            F.sum(F.when(F.col("count") > cap, F.col("count"))).alias("dropped"),
            F.sum(F.when(F.col("count") > cap, F.lit(1)).otherwise(F.lit(0))).alias(
                "hot"
            ),
            F.count("*").alias("buckets"),
        )
        .first()
    )
    print(
        f"buckets: {stats['buckets']} total, {stats['hot']} over cap={cap}, "
        f"largest={stats['largest']}, cap hit rate="
        f"{(stats['dropped'] or 0) / stats['rows']:.1%} of membership rows"
    )

    def timed(name, fn):
        t0 = time.perf_counter()
        c = fn().count()
        t = time.perf_counter() - t0
        print(f"{name}: {t:.2f}s ({c} rows)")
        return t

    timed(
        f"2. capped LSH-verify (cap={cap})",
        lambda: lsh_verified_near_dups(
            big, "doc_id", "text", 8, 2, 3, 0.6, max_bucket_size=cap
        ),
    )
    timed(
        "3. exact-dedup-first -> LSH on canonical survivors",
        lambda: lsh_verified_near_dups(
            exact_dedup(big, ["text"]), "doc_id", "text", 8, 2, 3, 0.6
        ),
    )
    if n <= 20 or n_docs <= 10_000:
        timed("1. raw LSH-verify (quadratic true-pair set)",
              lambda: lsh_verified_near_dups(big, "doc_id", "text", 8, 2, 3, 0.6))
    else:
        print(
            "1. raw LSH-verify: skipped at this size — the true pair set is "
            f"~{n_docs // n} groups x {n}^2/2 pairs; run with a smaller corpus "
            "to measure the blowup directly"
        )
    big.unpersist()


def trainers(n: int, sf_dir: str) -> None:
    """GBDT + k-means scale probe: per-round/iteration wall at 1x and Nx
    data, plus driver-side resident memory growth for GBDT."""
    import resource

    from end_to_end_data_engineering_and_ml_system_spark.ml.training import (
        fit_kmeans_lloyd,
    )
    from end_to_end_data_engineering_and_ml_system_spark.session import get_spark
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    spark = get_spark(app_name="scale-probe-trainers", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")

    def rss_mb() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    # gbdt: per-round wall bound by the histogram aggregation (linear in
    # rows); driver state O(rounds) stumps regardless of data size
    from end_to_end_data_engineering_and_ml_system_spark.ml.boosting import (
        fit_gbdt_stumps,
    )

    li2 = load_table(spark, sf_dir, "lineitem")
    orders2 = load_table(spark, sf_dir, "orders")
    gb_base = (
        li2.groupBy(F.col("l_orderkey").alias("okey"))
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
            F.countDistinct("l_partkey").cast("long").alias("n_parts"),
        )
        .join(
            orders2.select(
                F.col("o_orderkey").alias("okey"),
                F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
            ),
            "okey",
        )
    )
    for mult in (1, n):
        d = gb_base if mult == 1 else replicate(gb_base, "okey", mult)
        d = d.persist()
        rows = d.count()
        before = rss_mb()
        t0 = time.perf_counter()
        fit = fit_gbdt_stumps(
            d, ["n_items", "sum_qty", "n_parts"], "y", rounds=3
        )
        wall = time.perf_counter() - t0
        mono = all(
            b <= a + 1e-6 for a, b in zip(fit.sses, fit.sses[1:])
        )
        print(
            f"gbdt {mult}x: rows={rows} wall={wall:.2f}s "
            f"per_round={wall / 3:.2f}s monotone={mono} "
            f"driver_maxrss_delta={rss_mb() - before:.0f}MB"
        )
        d.unpersist()

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias(
            "features"
        ),
    )
    for mult in (1, n):
        d = emb if mult == 1 else replicate(emb, "vec_id", mult)
        d = d.persist()
        rows = d.count()
        t0 = time.perf_counter()
        fit = fit_kmeans_lloyd(d, "vec_id", k=8, iters=3)
        wall = time.perf_counter() - t0
        mono = all(
            b <= a + 1e-6 for a, b in zip(fit.inertias, fit.inertias[1:])
        )
        print(
            f"kmeans {mult}x: rows={rows} wall={wall:.2f}s "
            f"per_iter={wall / 3:.2f}s monotone={mono}"
        )
        d.unpersist()


def graph_rank(n: int, sf_dir: str) -> None:
    """PageRank scale probe: per-iteration wall at 1x and Nx edge lists.

    Replication shifts BOTH endpoints by a stride, so the Nx graph is n
    disjoint copies — nodes, edges, and rank-table size all grow n-fold
    while structure (degree distribution, diameter) is preserved. The
    probe checks the scale contract of operators/graph.py:pagerank: wall
    per iteration bound by the edge⋈rank join (≈linear in edges), driver
    resident memory flat (the only driver scalar is N; rank state never
    leaves the executors)."""
    import resource

    from end_to_end_data_engineering_and_ml_system_spark.operators.graph import (
        pagerank,
    )
    from end_to_end_data_engineering_and_ml_system_spark.session import get_spark
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    spark = get_spark(app_name="scale-probe-graph", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")

    from end_to_end_data_engineering_and_ml_system_spark.plans.queries_graph_retrieval import (  # noqa: E501
        copurchase_edges_from_baskets,
    )

    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_partkey").cast("long").alias("part"),
    ).distinct()
    base = copurchase_edges_from_baskets(po, keep_weight=False)

    def rss_mb() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    for mult in (1, n):
        e = base
        if mult != 1:
            stride = 10_000_000
            parts = [
                base.select(
                    (F.col("src") + F.lit(i * stride)).alias("src"),
                    (F.col("dst") + F.lit(i * stride)).alias("dst"),
                )
                for i in range(mult)
            ]
            e = parts[0]
            for pdf in parts[1:]:
                e = e.unionByName(pdf)
        e = e.persist()
        n_edges = e.count()
        before = rss_mb()
        t0 = time.perf_counter()
        r = pagerank(e, iters=3, assume_distinct=True)
        total = r.agg(F.sum("rank")).first()[0]
        wall = time.perf_counter() - t0
        n_nodes = r.count()
        print(
            f"pagerank {mult}x: edges={n_edges} nodes={n_nodes} "
            f"wall={wall:.2f}s per_iter={wall / 3:.2f}s "
            f"mass={total:.6f} (expect 1.0; N spans all copies) "
            f"driver_maxrss_delta={rss_mb() - before:.0f}MB"
        )

        from end_to_end_data_engineering_and_ml_system_spark.operators.graph import (
            bfs_levels,
            label_propagation,
        )

        t0 = time.perf_counter()
        n_comm = (
            label_propagation(e, iters=2, assume_distinct=True)
            .select("lbl")
            .distinct()
            .count()
        )
        t_lpa = time.perf_counter() - t0
        seed = e.groupBy("src").count().orderBy(
            F.col("count").desc(), "src"
        ).first()["src"]
        t0 = time.perf_counter()
        n_reached = bfs_levels(
            e, [int(seed)], max_hops=3, assume_distinct=True
        ).count()
        t_bfs = time.perf_counter() - t0
        print(
            f"lpa {mult}x: communities={n_comm} wall={t_lpa:.2f}s | "
            f"bfs {mult}x: reached_3hops={n_reached} wall={t_bfs:.2f}s"
        )
        e.unpersist()


def baskets(n: int, sf_dir: str) -> None:
    """Basket-cap probe: edge-build wall under a skewed basket flood.

    The co-purchase self-join emits k(k-1) pairs per k-part basket — a
    handful of viral baskets (carts scraped by a bot, a catalog-wide test
    order) would dominate the whole job. This probe plants ``n`` synthetic
    baskets of 100x the fixture's max size on top of the real (okey, part)
    table and measures the edge build with and without the max-basket
    guard (copurchase_edges_from_baskets). Expected: capped wall stays at
    the clean-table level (the guard drops the floods before the join);
    uncapped wall and output blow up quadratically with basket size."""
    from end_to_end_data_engineering_and_ml_system_spark.plans.queries_graph_retrieval import (  # noqa: E501
        copurchase_edges_from_baskets,
    )
    from end_to_end_data_engineering_and_ml_system_spark.session import get_spark
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    spark = get_spark(app_name="scale-probe-baskets", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")

    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_partkey").cast("long").alias("part"),
    ).distinct()
    max_clean = (
        po.groupBy("okey").count().agg(F.max("count")).first()[0]
    )
    flood_size = int(max_clean) * 100  # the skewed 100x-basket fixture
    # each flood basket gets its own part range so the pair sets don't
    # collapse in the aggregate — the honest worst case: uncapped output
    # grows as n * flood_size^2
    flood = (
        spark.range(n)
        .select(F.col("id").alias("b"))
        .crossJoin(spark.range(flood_size).select(F.col("id").alias("p")))
        .select(
            (F.col("b") + 900_000_000).alias("okey"),
            (
                F.col("b") * (flood_size * 2) + F.col("p") + 800_000_000
            ).alias("part"),
        )
    )
    dirty = po.unionByName(flood).persist()
    dirty.count()
    print(
        f"clean max basket = {max_clean}; planted {n} baskets of "
        f"{flood_size} parts"
    )

    def timed(name, df):
        t0 = time.perf_counter()
        cnt = df.count()
        print(f"{name}: {time.perf_counter() - t0:.2f}s, {cnt} edges")

    timed("edge build, clean table, capped", copurchase_edges_from_baskets(po, False))
    timed("edge build, flooded, capped", copurchase_edges_from_baskets(dirty, False))
    timed(
        "edge build, flooded, UNCAPPED",
        copurchase_edges_from_baskets(dirty, False, max_basket=1 << 62),
    )
    dirty.unpersist()


def top5(n: int, sf_dir: str) -> None:
    """100x probe of the five most expensive bench plans (VERDICT r13
    item 3): pagerank, doc_dedup_clusters, cluster_aware_split_counts,
    anomaly_score_routing, doc_lsh_verified_near_dups.

    The iterative two (pagerank, connected components) are where a 100x
    blowup would hide — lineage-cut growth, state accumulation — so this
    ASSERTS, not eyeballs: wall ratio bounded by ~1.5x linear, and the
    PYTHON driver's resident-set delta flat (< 500 MB) across the Nx run
    (the driver holds only scalars and per-round counters; rank/label
    state never leaves the executors)."""
    import resource

    from end_to_end_data_engineering_and_ml_system_spark.ml.pipeline import (
        fit_standardizer,
        score_and_route_literal,
    )
    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        lsh_verified_near_dups,
    )
    from end_to_end_data_engineering_and_ml_system_spark.operators.graph import (
        dedup_cluster_labels,
        pagerank,
    )
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        deterministic_split,
    )
    from end_to_end_data_engineering_and_ml_system_spark.plans.queries import (
        _FEATURES,
    )
    from end_to_end_data_engineering_and_ml_system_spark.plans.queries_graph_retrieval import (  # noqa: E501
        copurchase_edges_from_baskets,
    )
    from end_to_end_data_engineering_and_ml_system_spark.session import get_spark
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    spark = get_spark(app_name="scale-probe-top5", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")
    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_partkey").cast("long").alias("part"),
    ).distinct()

    def rss_mb() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def lsh_pairs(d):
        return lsh_verified_near_dups(
            d, "doc_id", "text", num_hashes=8, rows_per_band=2, n=3,
            threshold=0.6,
        )

    def dedup_clusters(d):
        return dedup_cluster_labels(d, lsh_pairs(d), "doc_id").groupBy(
            "cluster_id"
        ).agg(F.count("*").alias("n_docs"))

    def cluster_split(d):
        labeled = dedup_cluster_labels(d, lsh_pairs(d), "doc_id")
        split = deterministic_split(
            labeled, "cluster_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        )
        return split.groupBy("split").agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )

    def score_routing(d):
        stats_row = fit_standardizer(d, _FEATURES).first()
        return score_and_route_literal(
            d, stats_row, _FEATURES, threshold=2.0
        ).groupBy("prediction").count()

    def pr_topk(edges):
        return pagerank(edges, iters=3, assume_distinct=True).orderBy(
            F.col("rank").desc(), "id"
        ).limit(20)

    def probe(name, base, fn, id_col):
        fn(base).count()  # warm: plan compile, page cache, codegen
        t0 = time.perf_counter()
        fn(base).count()
        t1 = time.perf_counter() - t0
        big = replicate(base, id_col, n).persist()
        rows = big.count()
        before = rss_mb()
        t0 = time.perf_counter()
        fn(big).count()
        tn = time.perf_counter() - t0
        drss = rss_mb() - before
        big.unpersist()
        ratio = tn / t1
        print(
            f"{name}: 1x={t1:.2f}s {n}x={tn:.2f}s ratio={ratio:.1f} "
            f"(linear ~{n}) rows_{n}x={rows} driver_rss_delta={drss:.0f}MB"
        )
        assert ratio < n * 1.5, f"{name} super-linear at {n}x: {ratio:.1f}"
        assert drss < 500, f"{name} driver RSS grew {drss:.0f}MB at {n}x"

    # pagerank replicates EDGES (both endpoints shifted -> n disjoint
    # copies, structure preserved), the rest replicate their input table
    def pr_replicated(e):
        return pr_topk(e)

    base_edges = copurchase_edges_from_baskets(po, keep_weight=False)

    def edge_replicate(e, mult):
        stride = 10_000_000
        parts = [
            e.select(
                (F.col("src") + F.lit(i * stride)).alias("src"),
                (F.col("dst") + F.lit(i * stride)).alias("dst"),
            )
            for i in range(mult)
        ]
        out = parts[0]
        for pdf in parts[1:]:
            out = out.unionByName(pdf)
        return out

    pr_topk(base_edges).count()  # warm
    t0 = time.perf_counter()
    pr_topk(base_edges).count()
    t1 = time.perf_counter() - t0
    big_e = edge_replicate(base_edges, n).persist()
    n_edges = big_e.count()
    before = rss_mb()
    t0 = time.perf_counter()
    pr_topk(big_e).count()
    tn = time.perf_counter() - t0
    drss = rss_mb() - before
    big_e.unpersist()
    ratio = tn / t1
    print(
        f"pagerank_topk: 1x={t1:.2f}s {n}x={tn:.2f}s ratio={ratio:.1f} "
        f"(linear ~{n}) edges_{n}x={n_edges} driver_rss_delta={drss:.0f}MB"
    )
    assert ratio < n * 1.5, f"pagerank super-linear at {n}x: {ratio:.1f}"
    assert drss < 500, f"pagerank driver RSS grew {drss:.0f}MB at {n}x"

    probe("doc_lsh_verified_near_dups", docs, lsh_pairs, "doc_id")
    probe("doc_dedup_clusters", docs, dedup_clusters, "doc_id")
    probe("cluster_aware_split_counts", docs, cluster_split, "doc_id")
    probe("anomaly_score_routing", li, score_routing, "l_orderkey")
    print("top5 probe: all ratios sub-1.5x-linear, driver RSS flat")


def skew(sf_dir: str, hot_share: float = 0.5, salt_buckets: int = 16) -> None:
    """Pathological-key probe (VERDICT r13 item 4): one key owning
    ``hot_share`` of the fact table — the 100 TB reality the reference's
    CICIDS BENIGN label embodies (~80% of the dataset on one label).

    Measures, with AQE OFF so shuffle placement is deterministic:
      plain join   — the hot key hashes to ONE task (partition-max ~= hot
                     rows, the straggler that serializes the stage);
      salted_join  — the hot key spreads over ``salt_buckets`` tasks.
    ASSERTS the salted partition-max is at least 4x smaller, then records
    the AQE-ON plain join for comparison (AQE's skew split handles this
    for sort-merge joins at the partition level; salting is the insurance
    for the shapes it can't re-plan).

    Second half: LSH banding on a corpus where ``hot_share`` of docs share
    IDENTICAL text — every band maps the flood to one bucket. ASSERTS the
    ``max_bucket_size`` cap actually fires (hot buckets detected, flood
    membership rows dropped) and that the capped verify pipeline's wall
    stays near the clean corpus's instead of going quadratic."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        lsh_buckets_wide,
        lsh_verified_near_dups,
        minhash_wide,
    )
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        salted_join,
    )
    from end_to_end_data_engineering_and_ml_system_spark.session import get_spark
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    spark = get_spark(app_name="scale-probe-skew", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    hot_key = orders.select(F.min("o_orderkey")).first()[0]
    # hot_share of fact rows re-keyed onto ONE order key
    fact = li.select(
        F.when(
            F.pmod(F.col("l_linenumber") + F.col("l_orderkey"), F.lit(100))
            < int(hot_share * 100),
            F.lit(hot_key),
        )
        .otherwise(F.col("l_orderkey"))
        .alias("okey"),
        "l_quantity",
    ).persist()
    n_fact = fact.count()
    n_hot = fact.filter(F.col("okey") == hot_key).count()
    dim = orders.select(
        F.col("o_orderkey").alias("okey"), "o_custkey", "o_orderdate"
    )
    print(
        f"skew fixture: {n_fact} fact rows, hot key owns {n_hot} "
        f"({n_hot / n_fact:.0%})"
    )

    def part_max(df) -> int:
        return (
            df.withColumn("__pid", F.spark_partition_id())
            .groupBy("__pid")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    def timed_join(name, fn):
        t0 = time.perf_counter()
        out = fn()
        cnt = out.count()
        wall = time.perf_counter() - t0
        pm = part_max(fn())
        print(f"{name}: wall={wall:.2f}s rows={cnt} partition_max={pm}")
        return wall, pm, cnt

    # force the shuffle join both times (the dim is small enough to
    # broadcast at test SF — at 100 TB it is not, which is the case under
    # probe) and freeze AQE so placement is deterministic
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        w_p, pm_p, n_p = timed_join(
            "plain join, AQE off", lambda: fact.join(dim, "okey")
        )
        w_s, pm_s, n_s = timed_join(
            f"salted_join({salt_buckets}), AQE off",
            lambda: salted_join(fact, dim, "okey", salt_buckets=salt_buckets),
        )
        assert n_p == n_s, (n_p, n_s)
        assert pm_s * 4 <= pm_p, (
            f"salting must spread the hot key: plain partition_max={pm_p}, "
            f"salted={pm_s}"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    timed_join("plain join, AQE on (skew split)", lambda: fact.join(dim, "okey"))
    fact.unpersist()

    # ---- LSH hot-bucket cap under a 50%-identical-text flood ----
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    flooded = docs.select(
        "doc_id",
        F.when(
            F.pmod("doc_id", F.lit(100)) < int(hot_share * 100),
            F.lit("flood flood flood the same document text every time"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).persist()
    n_docs = flooded.count()
    cap = 50
    wide = minhash_wide(flooded, "doc_id", "text", 8, 3)
    buckets = lsh_buckets_wide(wide, "doc_id", 8, 2)
    stats = (
        buckets.groupBy("band", "bucket")
        .count()
        .agg(
            F.max("count").alias("largest"),
            F.sum("count").alias("rows"),
            F.sum(F.when(F.col("count") > cap, F.col("count"))).alias(
                "dropped"
            ),
            F.sum(
                F.when(F.col("count") > cap, F.lit(1)).otherwise(F.lit(0))
            ).alias("hot"),
        )
        .first()
    )
    hit_rate = (stats["dropped"] or 0) / stats["rows"]
    print(
        f"lsh flood ({n_docs} docs, {hot_share:.0%} identical): "
        f"largest_bucket={stats['largest']} hot_buckets={stats['hot']} "
        f"cap={cap} hit_rate={hit_rate:.1%} of membership rows"
    )
    assert stats["hot"] >= 1, "flood must create at least one hot bucket"
    assert hit_rate >= 0.3, f"cap must drop the flood rows: {hit_rate:.1%}"
    t0 = time.perf_counter()
    n_pairs = lsh_verified_near_dups(
        flooded, "doc_id", "text", 8, 2, 3, 0.6, max_bucket_size=cap
    ).count()
    w_capped = time.perf_counter() - t0
    clean = docs.persist()
    clean.count()
    t0 = time.perf_counter()
    lsh_verified_near_dups(clean, "doc_id", "text", 8, 2, 3, 0.6).count()
    w_clean = time.perf_counter() - t0
    print(
        f"capped verify on flood: {w_capped:.2f}s ({n_pairs} pairs) vs "
        f"clean corpus {w_clean:.2f}s"
    )
    assert w_capped < w_clean * 5 + 5, (
        f"capped flood verify should stay near clean wall: "
        f"{w_capped:.2f}s vs {w_clean:.2f}s"
    )
    flooded.unpersist()
    clean.unpersist()
    print("skew probe: salted join spreads the hot key; bucket cap fires")


def streaming(n: int, sf_dir: str) -> None:
    """Streaming-throughput scale probe — the last operator family without
    Nx wall/state evidence. Replays the events fixture through the two
    representative stateful pipelines at 1x and Nx along the two axes a
    100 TB stream actually grows on:

    - DENSITY (same 5s windows and watermark span, Nx events per
      micro-batch — traffic growth on a fixed topology): windowed_counts
      wall must stay sub-linear, per-window counts must be EXACTLY Nx the
      1x counts (replicas carry identical timestamps), and the aggregation
      state rows must be IDENTICAL at 1x and Nx — streaming agg state is
      O(open windows x classes), never O(rows). A state-rows blowup here
      is the classic unbounded-state bug this probe exists to catch.
    - KEYS (replica-shifted user_id, Nx distinct users — cardinality
      growth): running_user_totals (applyInPandasWithState) final counts
      must map replica-for-replica onto the 1x totals, state rows must
      grow exactly Nx (state is O(keys)), wall sub-linear.

    Driver RSS delta must stay flat across the whole probe: the sinks the
    probe reads back are bounded (O(windows), O(keys) — at fixture scale),
    and nothing O(input rows) ever reaches the driver."""
    import resource

    from end_to_end_data_engineering_and_ml_system_spark.scratch import (
        scratch_unique,
    )
    from end_to_end_data_engineering_and_ml_system_spark.session import get_spark
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )
    from end_to_end_data_engineering_and_ml_system_spark.streaming.pipeline import (
        EVENTS_SCHEMA,
        _await_bounded,
        _pin_mtimes,
        running_user_totals,
        windowed_counts,
    )

    spark = get_spark(app_name="scale-probe-streaming", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")

    def rss_mb() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    events = load_table(spark, sf_dir, "events")
    cols = events.columns
    stride = 10_000_000
    n_files = 8
    # precondition for the replica arithmetic below (event_id/user_id +
    # i*stride, base_id = id % stride): every fixture id must fit under the
    # stride, or replicas collide and the kn == n*k1 assertions fail with
    # misleading messages (ADVICE r14) — fail loudly up front instead
    mx = events.agg(
        F.max("event_id").alias("me"), F.max("user_id").alias("mu")
    ).first()
    assert mx["me"] < stride and mx["mu"] < stride, (
        f"fixture ids exceed the replica stride {stride} "
        f"(max event_id={mx['me']}, max user_id={mx['mu']}): raise `stride` "
        "before trusting any replica-count assertion in this probe"
    )

    def stage(mult: int, shift_users: bool) -> str:
        df = events
        if mult != 1:
            parts = []
            for i in range(mult):
                p = events.withColumn(
                    "event_id", F.col("event_id") + F.lit(i * stride)
                )
                if shift_users:
                    p = p.withColumn(
                        "user_id", F.col("user_id") + F.lit(i * stride)
                    )
                parts.append(p.select(*cols))
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        out = scratch_unique(spark, "probe_stream_stage")
        # same file count at every mult: micro-batch COUNT is fixed, each
        # batch carries mult-x the rows — the density axis, isolated from
        # trigger cadence
        df.repartitionByRange(n_files, "ts").write.mode("overwrite").parquet(out)
        _pin_mtimes(out)
        return out

    def run(agg, mode: str):
        name = "probe_sink_" + uuid_hex()
        ck = scratch_unique(spark, "probe_stream_ck")
        t0 = time.perf_counter()
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        _await_bounded(q, 900)
        wall = time.perf_counter() - t0
        prog = q.recentProgress
        rows_in = sum(p["numInputRows"] for p in prog)
        state_rows = max(
            (
                op["numRowsTotal"]
                for p in prog
                for op in (p.get("stateOperators") or [])
            ),
            default=0,
        )
        return spark.table(name), wall, rows_in, state_rows, len(prog)

    def uuid_hex() -> str:
        import uuid

        return uuid.uuid4().hex[:12]

    def stream_of(path: str):
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(path)
        )

    before_all = rss_mb()

    # ---- density axis: windowed counts, complete mode (final values per
    # window; the state-rows invariant is mode-independent: one store row
    # per open (window, class) group either way) ----
    dens = {}
    for mult in (1, n):
        path = stage(mult, shift_users=False)
        sink, wall, rows_in, state_rows, batches = run(
            windowed_counts(stream_of(path)), "complete"
        )
        counts = sink.select("bucket_start", "event_type", "n_events").persist()
        n_groups = counts.count()
        dens[mult] = (wall, rows_in, state_rows, counts, n_groups)
        print(
            f"windowed_counts {mult}x density: rows_in={rows_in} "
            f"batches={batches} wall={wall:.2f}s state_rows={state_rows} "
            f"window_groups={n_groups} "
            f"throughput={rows_in / wall:.0f} rows/s"
        )
    w1, r1, s1, c1, g1 = dens[1]
    wn, rn, sn, cn, gn = dens[n]
    assert rn == n * r1, f"input rows must be exactly {n}x: {rn} vs {r1}"
    assert sn == s1, (
        f"agg state must be O(windows), identical at {n}x density: "
        f"{sn} vs {s1}"
    )
    assert gn == g1, f"window-group count must not change: {gn} vs {g1}"
    mismatched = (
        cn.alias("n")
        .join(c1.alias("b"), ["bucket_start", "event_type"], "full")
        .where(
            F.coalesce(F.col("n.n_events"), F.lit(-1))
            != F.lit(n) * F.coalesce(F.col("b.n_events"), F.lit(-1))
        )
        .count()
    )
    assert mismatched == 0, f"{mismatched} window groups not exactly {n}x"
    assert wn < 1.5 * n * w1 + 5, f"density wall super-linear: {wn:.2f}s"
    print(
        f"density contract holds: counts exactly {n}x on {g1} groups, "
        f"state flat ({s1} rows), wall ratio {wn / w1:.1f}x at {n}x rows"
    )
    c1.unpersist()
    cn.unpersist()

    # ---- key axis: stateful per-user totals, update mode; n_events is
    # monotone per key so max() over the update stream is the final value
    keys = {}
    for mult in (1, n):
        path = stage(mult, shift_users=True)
        sink, wall, rows_in, state_rows, batches = run(
            running_user_totals(stream_of(path)), "update"
        )
        finals = (
            sink.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"))
            .persist()
        )
        n_keys = finals.count()
        keys[mult] = (wall, state_rows, finals, n_keys)
        print(
            f"running_user_totals {mult}x keys: rows_in={rows_in} "
            f"wall={wall:.2f}s state_rows={state_rows} keys={n_keys} "
            f"throughput={rows_in / wall:.0f} rows/s"
        )
    w1, s1, f1, k1 = keys[1]
    wn, sn, fn, kn = keys[n]
    assert kn == n * k1, f"distinct keys must be exactly {n}x: {kn} vs {k1}"
    assert sn == n * s1, f"keyed state must be O(keys): {sn} vs {n}*{s1}"
    bad = (
        fn.withColumn("base_id", F.col("user_id") % stride)
        .alias("n")
        .join(f1.alias("b"), F.col("base_id") == F.col("b.user_id"), "full")
        .where(
            F.coalesce(F.col("n.n_events"), F.lit(-1))
            != F.coalesce(F.col("b.n_events"), F.lit(-2))
        )
        .count()
    )
    assert bad == 0, f"{bad} replica keys disagree with base totals"
    assert wn < 1.5 * n * w1 + 5, f"key wall super-linear: {wn:.2f}s"
    print(
        f"key contract holds: every replica key matches its base total, "
        f"state exactly {n}x ({sn} rows), wall ratio {wn / w1:.1f}x at "
        f"{n}x keys"
    )
    f1.unpersist()
    fn.unpersist()
    print(f"driver_maxrss_delta={rss_mb() - before_all:.0f}MB (expect flat)")


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--skew":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
        skew(sf_dir)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--top5":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 100
        sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
        top5(n, sf_dir)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--baskets":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
        sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
        baskets(n, sf_dir)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--pathological":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 100
        sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
        pathological(n, sf_dir)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--graph":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
        sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
        graph_rank(n, sf_dir)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--streaming":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
        sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
        streaming(n, sf_dir)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--trainers":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
        sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
        trainers(n, sf_dir)
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from end_to_end_data_engineering_and_ml_system_spark.operators.dedup import (
        edit_distance_pairs,
        lsh_verified_near_dups,
    )
    from end_to_end_data_engineering_and_ml_system_spark.operators.graph import (
        dedup_cluster_labels,
    )
    from end_to_end_data_engineering_and_ml_system_spark.session import get_spark
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    spark = get_spark(app_name="scale-probe", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")

    def probe(name, fn):
        fn(docs).count()  # warm 1x
        t0 = time.perf_counter()
        fn(docs).count()
        t1 = time.perf_counter() - t0
        big = replicate(docs, "doc_id", n)
        t0 = time.perf_counter()
        fn(big).count()
        tn = time.perf_counter() - t0
        print(
            f"{name}: 1x={t1:.2f}s {n}x={tn:.2f}s ratio={tn / t1:.1f} "
            f"(linear would be ~{n})"
        )

    from end_to_end_data_engineering_and_ml_system_spark.operators.text import (
        duplicate_ngram_spans,
        duplicate_ngram_windows,
    )

    probe(
        "duplicate_ngram_windows",
        lambda d: duplicate_ngram_windows(d, "doc_id", "text", n=8),
    )
    probe(
        "duplicate_ngram_spans",
        lambda d: duplicate_ngram_spans(d, "doc_id", "text", n=8),
    )
    probe(
        "edit_distance_pairs",
        lambda d: edit_distance_pairs(
            d, "doc_id", "text", extra_block_cols=("lang",)
        ),
    )
    probe(
        "lsh_verified_near_dups",
        lambda d: lsh_verified_near_dups(
            d, "doc_id", "text", num_hashes=8, rows_per_band=2, n=3, threshold=0.6
        ),
    )

    probe(
        "cluster_labels",
        lambda d: dedup_cluster_labels(
            d,
            lsh_verified_near_dups(
                d, "doc_id", "text", num_hashes=8, rows_per_band=2,
                n=3, threshold=0.6,
            ),
            "doc_id",
        ),
    )


if __name__ == "__main__":
    main()
