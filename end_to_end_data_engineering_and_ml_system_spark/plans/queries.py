"""Registered queries — the engine's declared, oracle-checked surface.

Each query cites the reference operator(s) it re-expresses (SURVEY.md §2 ids,
file:line into /root/reference). Column aliases match the oracle SQL exactly:
the driver sorts columns by name before hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dec_avg, dec_sum, sql_dec_avg, sql_dec_sum
from ..functions.scalars import canonical_label
from ..operators.cleaning import conditional_counts, replace_values_with_null
from ..sources.catalog import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Flagship: the dashboard's core query (A8 + A11 + T1/T2)
# reference: scripts/streamlit_dashboard.py:150-153 (5s tumbling buckets),
# :132-133 (mean confidence), re-expressed as a native event-time window agg
# instead of a driver-side pandas groupby over a ring buffer.
# ---------------------------------------------------------------------------


@register(
    "events_window_counts",
    oracle="""
        SELECT
            -- CAST to naive TIMESTAMP: DuckDB to_timestamp yields TIMESTAMPTZ,
            -- Spark window().start is tz-naive -> driver schema mismatch (r1)
            CAST(to_timestamp(floor(epoch(ts) / 5) * 5) AS TIMESTAMP)
                AS bucket_start,
            event_type,
            COUNT(*) AS n_events,
            {avg_value}
        FROM events
        GROUP BY 1, 2
    """.format(avg_value=sql_dec_avg("value", "avg_value")),
    bench=True,
    description="5s tumbling-window counts + mean value per event_type (A8/A11)",
    tags=("window-agg", "streaming-analog"),
)
def events_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 seconds").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dec_avg("value", "avg_value"))
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


# ---------------------------------------------------------------------------
# Pricing summary — grouped multi-aggregate (A1/A2/A4/A5 analog on lineitem).
# reference: preprocess_cicids2017.py:89-95 (grouped counts), :279-280
# (mean/std fit) — here as one distributed single-pass agg, not N jobs.
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
        SELECT
            l_returnflag,
            l_linestatus,
            {sum_qty},
            {sum_base_price},
            {avg_qty},
            {avg_price},
            {avg_disc},
            COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """.format(
        sum_qty=sql_dec_sum("l_quantity", "sum_qty"),
        sum_base_price=sql_dec_sum("l_extendedprice", "sum_base_price"),
        avg_qty=sql_dec_avg("l_quantity", "avg_qty"),
        avg_price=sql_dec_avg("l_extendedprice", "avg_price"),
        avg_disc=sql_dec_avg("l_discount", "avg_disc"),
    ),
    bench=True,
    description="TPC-H Q1-style grouped multi-aggregate (A1/A2/A4/A5)",
    tags=("aggregation",),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            dec_avg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Top-k latest events (T1/T2): sort descending by time, head k.
# reference: streamlit_dashboard.py:93-101, 217-231.
# ---------------------------------------------------------------------------


@register(
    "latest_events_topk",
    oracle="""
        SELECT event_id, ts, user_id, event_type, value
        FROM events
        ORDER BY ts DESC, event_id DESC
        LIMIT 20
    """,
    description="top-k latest events by timestamp (T1/T2)",
    tags=("sort", "limit"),
)
def latest_events_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Cleaning layer (§2.2). The fixtures are clean, so each query first
# synthesizes the reference's dirty-input conditions deterministically
# in-query (masked nulls standing in for CICIDS "Infinity" strings), then
# runs the real cleaning operators — the semantics are exercised and
# oracle-checked even though the base table has no nulls.
# ---------------------------------------------------------------------------


@register(
    "events_clean_pipeline",
    oracle="""
        WITH dirty AS (
            SELECT
                event_id,
                CASE WHEN event_type = 'error' THEN NULL ELSE event_type END
                    AS event_type_masked,
                CASE WHEN value BETWEEN 100 AND 110 THEN NULL ELSE value END
                    AS value_masked
            FROM events
        ), cleaned AS (
            SELECT
                COALESCE(event_type_masked, 'unknown') AS event_type_clean,
                COALESCE(value_masked, 0.0) AS value_filled
            FROM dirty
        )
        SELECT
            event_type_clean,
            COUNT(*) AS n_events,
            {sum_value}
        FROM cleaned
        GROUP BY event_type_clean
    """.format(sum_value=sql_dec_sum("value_filled", "sum_value")),
    description="dirty-value→null rewrite + na.fill + grouped agg (P7/P8/A1)",
    tags=("cleaning",),
)
def events_clean_pipeline(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("event_type").alias("event_type_masked"),
        F.when(F.col("value").between(100, 110), F.lit(None))
        .otherwise(F.col("value"))
        .alias("value_masked"),
    )
    # the reference's Infinity→null rewrite, here masking the sentinel class
    dirty = replace_values_with_null(ev, ["event_type_masked"], ["error"])
    cleaned = dirty.na.fill({"event_type_masked": "unknown", "value_masked": 0.0})
    return (
        cleaned.groupBy(F.col("event_type_masked").alias("event_type_clean"))
        .agg(F.count("*").alias("n_events"), dec_sum("value_masked", "sum_value"))
    )


@register(
    "events_props_extract",
    oracle="""
        SELECT
            CAST(props->>'k' AS BIGINT) AS k_value,
            COUNT(*) AS n_events
        FROM events
        GROUP BY 1
    """,
    description="JSON decode with schema + flatten + grouped count (F1/P4)",
    tags=("json", "cleaning"),
)
def events_props_extract(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.from_json("props", "k BIGINT").getField("k").alias("k_value")
        )
        .groupBy("k_value")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "events_json_roundtrip",
    oracle="""
        SELECT
            event_id,
            to_json(struct_pack(event_id := event_id,
                                event_type := event_type)) AS payload
        FROM events
        WHERE event_id < 100
    """,
    description="JSON encode of a row struct, the Kafka-sink payload (F2/S7)",
    tags=("json",),
)
def events_json_roundtrip(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    return ev.select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type")).alias("payload"),
    )


@register(
    "event_type_label_map",
    oracle="""
        SELECT
            CASE
                WHEN lower(trim(event_type)) LIKE '%purchase%'
                  OR lower(trim(event_type)) LIKE '%signup%' THEN 'conversion'
                WHEN lower(trim(event_type)) LIKE '%click%'
                  OR lower(trim(event_type)) LIKE '%view%' THEN 'engagement'
                WHEN lower(trim(event_type)) LIKE '%error%' THEN 'incident'
                ELSE 'other'
            END AS label,
            COUNT(*) AS n_events
        FROM events
        GROUP BY 1
    """,
    description="canonical label mapping as native when/contains chain, no UDF (F5/F6/A1)",
    tags=("cleaning", "labels"),
)
def event_type_label_map(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    label = canonical_label(
        "event_type",
        {
            "conversion": ["purchase", "signup"],
            "engagement": ["click", "view"],
            "incident": ["error"],
        },
    )
    return (
        ev.select(label.alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "clean_null_counts",
    oracle="""
        -- CAST AS BIGINT: DuckDB SUM(int) is HUGEINT -> float64 in pandas,
        -- which the driver hashes differently from Spark's bigint (r1 fail)
        SELECT
            CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS null_value,
            CAST(SUM(CASE WHEN value > 400 THEN 1 ELSE 0 END) AS BIGINT)
                AS big_value,
            CAST(SUM(CASE WHEN props->>'k' IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS null_k,
            CAST(SUM(CASE WHEN event_type IN ('error') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_error
        FROM events
    """,
    description="single-pass conditional counts — one job, not N filter+count jobs (A3)",
    tags=("cleaning", "aggregation"),
)
def clean_null_counts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return conditional_counts(
        ev,
        {
            "null_value": F.col("value").isNull(),
            "big_value": F.col("value") > 400,
            # get_json_object mirrors DuckDB ->> (null only when the key is
            # absent, not when the value fails a typed parse like from_json)
            "null_k": F.get_json_object("props", "$.k").isNull(),
            "n_error": F.col("event_type").isin("error"),
        },
    )


@register(
    "documents_dedup_exact",
    oracle="""
        SELECT
            md5(text) AS text_md5,
            MIN(doc_id) AS keep_doc_id,
            COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    bench=True,
    description="exact dedup by content hash, keep-first (P10; LLM-data exact dedup)",
    tags=("dedup",),
)
def documents_dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("text_md5"), "doc_id")
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Relational completeness (§2.3/§2.5/§2.7): joins, window functions, set ops.
# The reference has no joins (denormalized flows); the engine declares and
# tests the full join surface because enrichment at 100 TB requires it.
# ---------------------------------------------------------------------------


@register(
    "revenue_by_nation",
    oracle="""
        SELECT
            n.n_name AS nation,
            r.r_name AS region,
            COUNT(*) AS n_lineitems,
            CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(28,10))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    """,
    bench=True,
    description="multi-way join: fact->dims with broadcast hints (TPC-H Q5 shape)",
    tags=("join",),
)
def revenue_by_nation(spark, sf_dir):
    from ..operators.relational import broadcast_enrich

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # orders/customer join sort-merge on the big side; nation/region broadcast
    enriched = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    enriched = broadcast_enrich(
        enriched, nation, enriched.c_nationkey == nation.n_nationkey
    )
    enriched = broadcast_enrich(
        enriched, region, nation.n_regionkey == region.r_regionkey
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    return (
        enriched.groupBy(
            F.col("n_name").alias("nation"), F.col("r_name").alias("region")
        )
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@register(
    "events_enriched_by_customer",
    oracle="""
        SELECT
            c.c_mktsegment AS mktsegment,
            COUNT(*) AS n_events,
            {sum_value}
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """.format(sum_value=sql_dec_sum("e.value", "sum_value")),
    description="stream-static enrichment analog: events joined to a dim (AQE-sized)",
    tags=("join", "streaming-analog"),
)
def events_enriched_by_customer(spark, sf_dir):
    """Customer scales with SF (15B rows at 100 TB): no forced broadcast
    hint — AQE broadcasts while the dim fits the threshold and degrades to
    a shuffle join past it, instead of an 8 GB hard failure."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("n_events"), dec_sum("value", "sum_value"))
    )


@register(
    "customers_with_orders_semi",
    oracle="""
        SELECT c.c_mktsegment AS mktsegment, COUNT(*) AS n_customers
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY 1
    """,
    description="left-semi join (EXISTS)",
    tags=("join",),
)
def customers_with_orders_semi(spark, sf_dir):
    from ..operators.relational import semi_join

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        semi_join(cust, orders, "c_custkey")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "customers_without_orders_anti",
    oracle="""
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate < TIMESTAMP '1996-01-01')
    """,
    description="left-anti join (NOT EXISTS): customers with no pre-1996 order",
    tags=("join",),
)
def customers_without_orders_anti(spark, sf_dir):
    # The fixture generator gives essentially every customer at least one
    # order, so an unrestricted anti join returns ~0 rows at every SF and
    # its oracle match proves nothing (0 == 0). Restricting the orders side
    # to the first fixture year keeps the anti-join semantics under test
    # while leaving a few hundred surviving customers at sf0.01.
    from ..operators.relational import anti_join

    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti_join(cust, orders, "c_custkey").select("c_custkey", "c_name")


@register(
    "top_orders_per_customer",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """,
    bench=True,
    description="top-N per key via row_number window (§2.5; replaces driver-side sort+head)",
    tags=("window-function",),
)
def top_orders_per_customer(spark, sf_dir):
    from ..operators.relational import top_n_per_key

    orders = load_table(spark, sf_dir, "orders")
    return top_n_per_key(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        partition_by=["o_custkey"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        n=3,
    )


@register(
    "top_spend_days_with_ties",
    oracle="""
        -- RANK-based top-k: every day tied at the boundary value survives
        -- (row_number would arbitrarily cut ties; dense_rank would let one
        -- heavy day swallow the whole budget). The semantics a revenue
        -- leaderboard actually wants.
        SELECT user_id, day, day_value, rnk
        FROM (
            SELECT user_id, day, day_value,
                   RANK() OVER (PARTITION BY user_id
                                ORDER BY day_value DESC) AS rnk
            FROM (
                SELECT user_id, date_trunc('day', ts) AS day,
                       CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                           AS day_value
                FROM events
                GROUP BY 1, 2
            )
        )
        WHERE rnk <= 3
    """,
    description=(
        "tie-preserving top-3 spend days per user (RANK, not row_number — "
        "boundary ties all survive)"
    ),
    tags=("window", "topk"),
)
def top_spend_days_with_ties(spark, sf_dir):
    """T1-T3's tie-aware sibling: `top_orders_per_customer` uses
    row_number (exactly k rows, deterministic tie-break), this uses RANK so
    equal boundary values all survive — the semantics an alerting or
    leaderboard consumer usually wants, and a different window function
    exercised against the oracle. Decimal-exact day sums make tie groups
    identical across engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(28,10)"))
        .cast("double")
        .alias("day_value")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("day_value").desc())
    return (
        daily.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "day", "day_value", "rnk")
    )


@register(
    "part_supplier_diversity",
    oracle="""
        -- Supply-chain concentration risk: how many distinct suppliers
        -- ship each part, summarized as a distribution. Two grouped
        -- passes, the second over the part-grain table.
        WITH ps AS (
            SELECT l_partkey,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
            FROM lineitem GROUP BY 1
        )
        SELECT n_suppliers,
               CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM ps
        GROUP BY 1
    """,
    description=(
        "supplier-diversity distribution per part (single-source-risk "
        "histogram; distinct-count then re-group)"
    ),
    tags=("aggregation", "olap", "distinct"),
)
def part_supplier_diversity(spark, sf_dir):
    """Single-source risk in one picture: parts served by exactly one
    supplier are the fragile tail. First pass reduces the facts to part
    grain (count distinct suppliers — one Expand + shuffle), second pass
    histograms that dimension-sized table."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers")
    )
    return ps.groupBy("n_suppliers").agg(F.count("*").alias("n_parts"))


@register(
    "customer_order_gaps",
    oracle="""
        SELECT
            o_custkey,
            o_orderkey,
            o_orderdate,
            LAG(o_orderdate) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ) AS prev_orderdate,
            CAST(date_diff('day',
                LAG(o_orderdate) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ),
                o_orderdate) AS BIGINT) AS days_since_prev
        FROM orders
    """,
    description="lag/lead analytic window: per-customer inter-order gaps (§2.5)",
    tags=("window-function",),
)
def customer_order_gaps(spark, sf_dir):
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        prev.alias("prev_orderdate"),
        F.datediff(F.col("o_orderdate"), prev).cast("bigint").alias("days_since_prev"),
    )


@register(
    "user_set_ops",
    oracle="""
        SELECT 'both' AS op, COUNT(*) AS n FROM (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            INTERSECT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        )
        UNION ALL
        SELECT 'purchase_only' AS op, COUNT(*) AS n FROM (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            EXCEPT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        )
        UNION ALL
        SELECT 'union_distinct' AS op, COUNT(*) AS n FROM (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            UNION
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        )
    """,
    description="intersect / except / union-distinct (U1/U2 + declared set ops)",
    tags=("set-op",),
)
def user_set_ops(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    err = ev.filter(F.col("event_type") == "error").select("user_id").distinct()

    def one(op: str, df):
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        one("both", purch.intersect(err))
        .unionByName(one("purchase_only", purch.exceptAll(err)))
        .unionByName(one("union_distinct", purch.union(err).distinct()))
    )


# ---------------------------------------------------------------------------
# Sampling / splits (§2.8). Seeded but RNG-specific, so no DuckDB oracle —
# registered rows-only; the partition-property invariants (sizes sum to
# total, disjoint membership) are asserted in tests/test_relational.py.
# ---------------------------------------------------------------------------


@register(
    "seeded_split_counts",
    oracle=None,
    description="randomSplit(0.8/0.2, seed=42) partition sizes (R1)",
    tags=("sampling",),
)
def seeded_split_counts(spark, sf_dir):
    from ..operators.relational import seeded_split

    orders = load_table(spark, sf_dir, "orders")
    train, test = seeded_split(orders, [0.8, 0.2], seed=42)
    return (
        train.agg(F.count("*").alias("n")).select(F.lit("train").alias("part"), "n")
        .unionByName(
            test.agg(F.count("*").alias("n")).select(F.lit("test").alias("part"), "n")
        )
    )


@register(
    "capped_sample_count",
    oracle=None,
    description="Bernoulli sample with row cap (R2: sample above 500k-row analog)",
    tags=("sampling",),
)
def capped_sample_count(spark, sf_dir):
    from ..operators.relational import capped_sample

    li = load_table(spark, sf_dir, "lineitem")
    total = li.count()
    cap = max(1000, total // 2)
    sampled = capped_sample(li, cap=cap, total=total, seed=42)
    return sampled.agg(
        F.count("*").alias("n_sampled"),
        F.lit(total).alias("n_total"),
        F.lit(cap).alias("cap"),
    )


# ---------------------------------------------------------------------------
# Aggregation completeness (§2.4): histogram, percentiles, ratio, cube /
# rollup, distinct counts, row-wise array MSE (A6) — all distributed, one
# pass each.
# ---------------------------------------------------------------------------


@register(
    "value_histogram",
    oracle="""
        SELECT
            CAST(floor(value / 25.0) AS BIGINT) AS bucket,
            event_type,
            COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    """,
    description="fixed-width histogram via floor-bucket groupBy (A9)",
    tags=("aggregation",),
)
def value_histogram(spark, sf_dir):
    from ..operators.aggregations import histogram

    ev = load_table(spark, sf_dir, "events")
    return histogram(ev, "value", 25.0, by=("event_type",))


@register(
    "value_percentiles_by_type",
    oracle="""
        SELECT
            event_type,
            quantile_cont(value, 0.25) AS p25,
            quantile_cont(value, 0.5) AS p50,
            quantile_cont(value, 0.75) AS p75
        FROM events
        GROUP BY 1
    """,
    description="per-class exact interpolated percentiles (A10 box-plot stats)",
    tags=("aggregation",),
)
def value_percentiles_by_type(spark, sf_dir):
    from ..operators.aggregations import percentiles_by_group

    ev = load_table(spark, sf_dir, "events")
    return percentiles_by_group(ev, "value", by=("event_type",))


@register(
    "anomaly_rate",
    oracle="""
        -- BIGINT casts + a DOUBLE numerator: DuckDB otherwise computes the
        -- ratio in DECIMAL (different rounding than Spark's double) and the
        -- HUGEINT count lands as float64 in pandas (r1 hash fail)
        SELECT
            100.0 * CAST(SUM(CASE WHEN value > 400 THEN 1 ELSE 0 END)
                         AS DOUBLE) / COUNT(*) AS rate_pct,
            CAST(SUM(CASE WHEN value > 400 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_matching,
            COUNT(*) AS n_total
        FROM events
    """,
    description="ratio metric: anomaly rate as derived agg expression (A12/F12)",
    tags=("aggregation",),
)
def anomaly_rate(spark, sf_dir):
    from ..operators.aggregations import ratio_metric

    ev = load_table(spark, sf_dir, "events")
    return ratio_metric(ev, F.col("value") > 400)


@register(
    "lineitem_cube",
    oracle="""
        SELECT
            l_returnflag,
            l_linestatus,
            COUNT(*) AS n,
            {sum_qty}
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """.format(sum_qty=sql_dec_sum("l_quantity", "sum_qty")),
    description="cube (grouping sets) over two dims — declared §2.4 parity",
    tags=("aggregation", "cube"),
)
def lineitem_cube(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dec_sum("l_quantity", "sum_qty")
    )


@register(
    "orders_rollup_by_year",
    oracle="""
        SELECT
            CAST(year(o_orderdate) AS INT) AS order_year,
            o_orderstatus,
            COUNT(*) AS n_orders,
            {sum_price}
        FROM orders
        GROUP BY ROLLUP (CAST(year(o_orderdate) AS INT), o_orderstatus)
    """.format(sum_price=sql_dec_sum("o_totalprice", "sum_price")),
    description="rollup by (year, status) with subtotal rows",
    tags=("aggregation", "rollup"),
)
def orders_rollup_by_year(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate").cast("int"))
        .rollup("order_year", "o_orderstatus")
        .agg(F.count("*").alias("n_orders"), dec_sum("o_totalprice", "sum_price"))
    )


@register(
    "distinct_user_stats",
    oracle="""
        SELECT
            event_type,
            COUNT(DISTINCT user_id) AS n_users,
            COUNT(*) AS n_events
        FROM events
        GROUP BY 1
    """,
    description="exact distinct aggregation per group",
    tags=("aggregation",),
)
def distinct_user_stats(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@register(
    "approx_distinct_users",
    oracle=None,
    description="approx_count_distinct (HLL) — engine-specific sketch, invariant-tested vs exact",
    tags=("aggregation", "approx"),
)
def approx_distinct_users(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


@register(
    "approx_distinct_users_portable",
    oracle="""
        SELECT
            event_type,
            CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
            TRUE AS hll_within_bound
        FROM events
        GROUP BY 1
    """,
    description=(
        "per-type exact distinct users plus an HLL-vs-exact error-bound "
        "check — the oracle-checked sibling of approx_distinct_users (the "
        "sketch value itself is engine-specific; its CONTRACT — within "
        "3*rsd of exact — is not, and the oracle pins it as a literal)"
    ),
    tags=("aggregation", "approx", "deterministic"),
)
def approx_distinct_users_portable(spark, sf_dir):
    """The sketch's raw estimate can't hash-match across engines, but its
    accuracy contract can be checked AS A VALUE: the boolean
    |approx - exact| <= 3*rsd*exact is deterministic for a fixed dataset
    (Spark's HLL++ is seedless) and the oracle asserts it TRUE per group.
    A broken sketch implementation hash-mismatches here instead of hiding
    behind a rows-only check. Both aggregates run in the same single
    groupBy pass — no extra shuffle over the exact-only form."""
    rsd = 0.02
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=rsd).alias("__approx"),
    )
    return g.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("__approx") - F.col("exact_users"))
            <= 3 * rsd * F.col("exact_users")
        ).alias("hll_within_bound"),
    )


@register(
    "score_stats",
    oracle="""
        SELECT
            MIN(value) AS score_min,
            MAX(value) AS score_max,
            {avg},
            COUNT(*) AS n
        FROM events
    """.format(avg=sql_dec_avg("value", "score_mean")),
    description="global min/max/mean threshold-calibration stats (A7/M8)",
    tags=("aggregation", "ml"),
)
def score_stats(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.min("value").alias("score_min"),
        F.max("value").alias("score_max"),
        dec_avg("value", "score_mean"),
        F.count("*").alias("n"),
    )


@register(
    "embedding_norms",
    oracle="""
        SELECT
            e.vec_id,
            CAST(SUM(CAST(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)
                          AS DECIMAL(28,10))) AS DOUBLE) AS sq_norm,
            CAST(SUM(CAST(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)
                          AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS mse_vs_zero
        FROM embeddings e, UNNEST(e.embedding) AS u(x)
        GROUP BY e.vec_id
    """,
    bench=True,
    description="row-wise squared-norm / MSE reduction over array column (A6), order-independent",
    tags=("aggregation", "array", "ml"),
)
def embedding_norms(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.explode("embedding").alias("x")
    sq = (F.col("x").cast("double") * F.col("x").cast("double")).cast(
        "decimal(28,10)"
    )
    return (
        emb.select("vec_id", x)
        .groupBy("vec_id")
        .agg(
            F.sum(sq).cast("double").alias("sq_norm"),
            (F.sum(sq).cast("double") / F.count("*")).alias("mse_vs_zero"),
        )
    )


@register(
    "event_type_pivot",
    oracle="""
        SELECT
            user_id,
            CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click,
            CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase,
            CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup,
            CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_error
        FROM events
        GROUP BY user_id
    """,
    description="pivot event_type to columns (wide counts per user)",
    tags=("aggregation", "pivot"),
)
def event_type_pivot(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    renamed = out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )
    return renamed


# ---------------------------------------------------------------------------
# Text analysis (LLM-data pipeline surface): tokenization, quality scoring,
# language ID, fingerprinting, corpus token frequency. All JVM-side column
# expressions — no Python in the hot path.
# ---------------------------------------------------------------------------

_SQL_TOKENS = (
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')"
)


@register(
    "doc_token_stats",
    oracle=f"""
        SELECT
            doc_id,
            length(text) AS n_chars_actual,
            len({_SQL_TOKENS}) AS n_tokens,
            CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                / len({_SQL_TOKENS}) AS avg_token_len
        FROM documents
    """,
    bench=True,
    description="token counting + per-doc token stats (whitespace tokenizer)",
    tags=("text",),
)
def doc_token_stats(spark, sf_dir):
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    non_space = F.length(F.regexp_replace("text", r"\s+", ""))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        token_count("text").alias("n_tokens"),
        (non_space.cast("double") / token_count("text")).alias("avg_token_len"),
    )


@register(
    "doc_quality_scores",
    oracle=f"""
        WITH t AS (
            SELECT
                doc_id,
                text,
                {_SQL_TOKENS} AS toks,
                length(text) AS n
            FROM documents
        )
        SELECT
            doc_id,
            CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                / n AS punct_ratio,
            CAST(len(list_filter(toks, tk -> list_contains(
                ['the','a','an','and','or','of','to','in','is','it'], tk)))
                AS DOUBLE) / len(toks) AS stopword_ratio,
            (
              (CASE WHEN n BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN CAST(len(list_filter(toks, tk -> list_contains(
                   ['the','a','an','and','or','of','to','in','is','it'], tk)))
                   AS DOUBLE) / len(toks) BETWEEN 0.05 AND 0.6
               THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                   AS DOUBLE) / n <= 0.3 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                   AS DOUBLE) / n <= 0.1 THEN 1.0 ELSE 0.0 END)
            ) / 4.0 AS quality
        FROM t
    """,
    description="document quality heuristics: punct/stopword/case ratios, composite score",
    tags=("text",),
)
def doc_quality_scores(spark, sf_dir):
    from ..operators.text import punct_ratio, quality_score, stopword_ratio

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        punct_ratio("text").alias("punct_ratio"),
        stopword_ratio("text").alias("stopword_ratio"),
        quality_score("text").alias("quality"),
    )


@register(
    "doc_fingerprints",
    oracle="""
        SELECT
            md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                AS fp,
            COUNT(*) AS n_copies,
            MIN(doc_id) AS keep_doc_id
        FROM documents
        GROUP BY 1
    """,
    description="normalized content fingerprint (md5) — exact-dedup key at corpus scale",
    tags=("text", "dedup"),
)
def doc_fingerprints(spark, sf_dir):
    from ..operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
    )


@register(
    "token_frequency_topk",
    oracle=f"""
        SELECT u.tk AS token, COUNT(*) AS n
        FROM documents d, UNNEST({_SQL_TOKENS}) AS u(tk)
        GROUP BY 1
        ORDER BY n DESC, token
        LIMIT 50
    """,
    bench=True,
    description="corpus word count: explode tokens -> group -> top-k (map-side combine)",
    tags=("text", "aggregation"),
)
def token_frequency_topk(spark, sf_dir):
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        # explode_outer + isNotNull: see operators/text.py (explode guard)
        docs.select(F.explode_outer(tokens("text")).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# ML pipeline (§2.11): distributed scaler fit and a deterministic
# random-projection reconstruction scorer. The fit's math mirrors the oracle
# formula literally, so results are bit-identical.
# ---------------------------------------------------------------------------

_FEATURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_SQL_STATS = """
    SELECT
        {cols}
    FROM lineitem
""".format(
    cols=",\n        ".join(
        f"CAST(SUM(CAST(CAST({c} AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)"
        f" / COUNT({c}) AS mean_{c},\n        "
        f"CASE WHEN CAST(SUM(CAST(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)"
        f" AS DECIMAL(28,10))) AS DOUBLE) / COUNT({c})"
        f" - (CAST(SUM(CAST(CAST({c} AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)"
        f" / COUNT({c})) * (CAST(SUM(CAST(CAST({c} AS DOUBLE) AS DECIMAL(28,10)))"
        f" AS DOUBLE) / COUNT({c})) <= 0.0 THEN 1.0"
        f" ELSE sqrt(CAST(SUM(CAST(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)"
        f" AS DECIMAL(28,10))) AS DOUBLE) / COUNT({c})"
        f" - (CAST(SUM(CAST(CAST({c} AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)"
        f" / COUNT({c})) * (CAST(SUM(CAST(CAST({c} AS DOUBLE) AS DECIMAL(28,10)))"
        f" AS DOUBLE) / COUNT({c}))) END AS std_{c}"
        for c in _FEATURES
    )
)


@register(
    "scaler_fit_stats",
    oracle=_SQL_STATS,
    description="distributed scaler fit: mean + zero-guarded population std per feature (M9)",
    tags=("ml", "scaler"),
)
def scaler_fit_stats(spark, sf_dir):
    from ..ml.pipeline import fit_standardizer

    li = load_table(spark, sf_dir, "lineitem")
    return fit_standardizer(li, _FEATURES)


@register(
    "embedding_random_projection_mse",
    oracle="""
        -- Johnson-Lindenstrauss reconstruction scorer: project
        -- 64-dim embeddings through a DETERMINISTIC +-1 matrix (md5 parity)
        -- to 16 dims, reconstruct via the transpose (R^T R ~ k*I for
        -- Rademacher matrices), report per-vector reconstruction MSE stats.
        -- Decimal-exact sums at every contraction so any engine derives
        -- identical numbers, so the project->reconstruct->score mechanism
        -- is oracle-checked.
        WITH ex AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) - 1 AS j
            FROM embeddings
        ),
        r AS (
            SELECT i.i, j.j,
                   CASE WHEN CAST(concat('0x', substr(md5(
                            CAST(i.i AS VARCHAR) || ',' ||
                            CAST(j.j AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                        THEN 1.0 ELSE -1.0 END AS rij
            FROM (SELECT unnest(range(16)) AS i) i,
                 (SELECT unnest(range(64)) AS j) j
        ),
        y AS (
            SELECT ex.vec_id, r.i,
                   CAST(SUM(CAST(r.rij * ex.x AS DECIMAL(28,10))) AS DOUBLE)
                       AS yi
            FROM ex JOIN r ON r.j = ex.j
            GROUP BY 1, 2
        ),
        xhat AS (
            SELECT y.vec_id, r.j,
                   CAST(SUM(CAST(r.rij * y.yi AS DECIMAL(28,10))) AS DOUBLE)
                       / 16.0 AS xh
            FROM y JOIN r ON r.i = y.i
            GROUP BY 1, 2
        ),
        mse AS (
            SELECT ex.vec_id,
                   CAST(SUM(CAST((ex.x - xhat.xh) * (ex.x - xhat.xh)
                        AS DECIMAL(28,10))) AS DOUBLE) / 64.0 AS m
            FROM ex JOIN xhat ON xhat.vec_id = ex.vec_id AND xhat.j = ex.j
            GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               -- floor(x*1e10 + 0.5) integer quantization, not a decimal
               -- cast: engines disagree on decimal tie rounding
               CAST(SUM(CAST(floor(m * 10000000000.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 10000000000.0 / COUNT(*) AS mean_mse,
               MAX(m) AS max_mse
        FROM mse
    """,
    description=(
        "deterministic random-projection reconstruction error "
        "(oracle-checked)"
    ),
    tags=("ml", "projection", "deterministic"),
)
def embedding_random_projection_mse(spark, sf_dir):
    """The M7 autoencoder-analog surface with hash-level cross-engine
    evidence: a Rademacher random projection is a deterministic +-1
    matrix (an SVD is engine-specific) — built
    here from md5 parity, broadcast (16x64 rows), applied and inverted as
    two long-format contractions with decimal-exact sums. Same
    project -> reconstruct -> per-row-MSE mechanism, bit-identical on any
    engine. Scale shape: the projection matrix is constant-size however
    large the corpus; both contractions are groupBy sums over the exploded
    (vec, dim) rows with map-side combine."""
    ex = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("j", "xf"))
        .select("vec_id", "j", F.col("xf").cast("double").alias("x"))
    )
    spark_r = (
        ex.sparkSession.range(16)
        .select(F.col("id").alias("i"))
        .crossJoin(ex.sparkSession.range(64).select(F.col("id").alias("j")))
        .select(
            "i",
            "j",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("i").cast("string"),
                                F.lit(","),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
                == 0,
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
            .alias("rij"),
        )
    )
    y = (
        ex.join(F.broadcast(spark_r), "j")
        .groupBy("vec_id", "i")
        .agg(
            F.sum((F.col("rij") * F.col("x")).cast("decimal(28,10)"))
            .cast("double")
            .alias("yi")
        )
    )
    xhat = (
        y.join(F.broadcast(spark_r), "i")
        .groupBy("vec_id", "j")
        .agg(
            (
                F.sum((F.col("rij") * F.col("yi")).cast("decimal(28,10)")).cast(
                    "double"
                )
                / F.lit(16.0)
            ).alias("xh")
        )
    )
    mse = (
        ex.join(xhat, ["vec_id", "j"])
        .groupBy("vec_id")
        .agg(
            (
                F.sum(
                    ((F.col("x") - F.col("xh")) * (F.col("x") - F.col("xh"))).cast(
                        "decimal(28,10)"
                    )
                ).cast("double")
                / F.lit(64.0)
            ).alias("m")
        )
    )
    # floor-quantized integer sum for the mean: a decimal cast here would
    # hit engine-specific tie rounding in the 10th decimal (see
    # centroids_long) — measured as a last-digit oracle mismatch
    return mse.agg(
        F.count("*").alias("n_vectors"),
        (
            F.sum(F.floor(F.col("m") * F.lit(1e10) + F.lit(0.5)).cast("bigint"))
            .cast("double")
            / F.lit(1e10)
            / F.count("*")
        ).alias("mean_mse"),
        F.max("m").alias("max_mse"),
    )


# ---------------------------------------------------------------------------
# Streaming (§2.10): genuine Structured Streaming executions (availableNow
# over a staged multi-file source, memory sink) whose final results are
# batch-equivalent — so the windowed-count stream is checked against the
# SAME oracle as the batch query. Stateful dedup is rows-only.
# ---------------------------------------------------------------------------


@register(
    "stream_window_counts",
    oracle="""
        SELECT
            CAST(to_timestamp(floor(epoch(ts) / 5) * 5) AS TIMESTAMP)
                AS bucket_start,
            event_type,
            COUNT(*) AS n_events,
            {avg_value}
        FROM events
        GROUP BY 1, 2
    """.format(avg_value=sql_dec_avg("value", "avg_value")),
    description="watermarked 5s window agg executed as a real stream (ST4/ST5), batch-equivalent",
    tags=("streaming",),
)
def stream_window_counts(spark, sf_dir):
    from ..streaming.pipeline import events_stream, run_to_memory_sink, windowed_counts

    return run_to_memory_sink(windowed_counts(events_stream(spark, sf_dir)))


@register(
    "stream_json_decode_counts",
    oracle="""
        SELECT event_type, COUNT(*) AS n_events
        FROM events
        GROUP BY 1
    """,
    description="streaming JSON envelope encode->decode->flatten->agg (S5/F1/F2/P4)",
    tags=("streaming", "json"),
)
def stream_json_decode_counts(spark, sf_dir):
    from ..streaming.pipeline import (
        events_stream,
        json_envelope_decode,
        run_to_memory_sink,
    )

    decoded = json_envelope_decode(events_stream(spark, sf_dir))
    agg = decoded.groupBy("event_type").agg(F.count("*").alias("n_events"))
    return run_to_memory_sink(agg)


@register(
    "stream_dedup_within_watermark",
    # event_id is unique in the fixtures, so watermarked dropDuplicates must
    # pass every row through exactly once, values intact — a real equality
    # check on the stateful path (dup-dropping itself is covered by
    # tests/test_streaming.py with planted duplicates)
    oracle="""
        SELECT event_id, event_type, value
        FROM events
    """,
    description="keyed streaming dedup with watermark-bounded state (P10 on streams)",
    tags=("streaming", "dedup"),
)
def stream_dedup_within_watermark(spark, sf_dir):
    from ..streaming.pipeline import (
        dedup_within_watermark,
        events_stream,
        run_to_memory_sink,
    )

    dedup = dedup_within_watermark(events_stream(spark, sf_dir))
    return run_to_memory_sink(
        dedup.select("event_id", "event_type", "value"), output_mode="append"
    )


# ---------------------------------------------------------------------------
# Composed ETL.
# ---------------------------------------------------------------------------


@register(
    "etl_end_to_end",
    oracle="""
        WITH masked AS (
            SELECT
                event_id, user_id, ts,
                CASE WHEN event_type = 'error' THEN NULL ELSE event_type END
                    AS event_type,
                CASE WHEN value BETWEEN 100 AND 110 THEN NULL ELSE value END
                    AS value
            FROM events
        ),
        cleaned AS (
            SELECT * FROM masked
            WHERE event_type IS NOT NULL AND value IS NOT NULL
        ),
        labeled AS (
            SELECT *,
                CASE
                    WHEN lower(trim(event_type)) LIKE '%purchase%'
                      OR lower(trim(event_type)) LIKE '%signup%' THEN 'conversion'
                    WHEN lower(trim(event_type)) LIKE '%click%'
                      OR lower(trim(event_type)) LIKE '%view%' THEN 'engagement'
                    ELSE 'other'
                END AS label
            FROM cleaned
        ),
        stats AS (
            SELECT
                CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                    / COUNT(value) AS mean_v,
                CASE WHEN CAST(SUM(CAST(value * value AS DECIMAL(28,10)))
                          AS DOUBLE) / COUNT(value)
                        - (CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                           / COUNT(value))
                        * (CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                           / COUNT(value)) <= 0.0
                     THEN 1.0
                     ELSE sqrt(CAST(SUM(CAST(value * value AS DECIMAL(28,10)))
                               AS DOUBLE) / COUNT(value)
                             - (CAST(SUM(CAST(value AS DECIMAL(28,10)))
                                AS DOUBLE) / COUNT(value))
                             * (CAST(SUM(CAST(value AS DECIMAL(28,10)))
                                AS DOUBLE) / COUNT(value)))
                END AS std_v
            FROM labeled
        )
        SELECT
            l.label,
            COUNT(*) AS n_rows,
            CAST(SUM(CAST((l.value - s.mean_v) / s.std_v AS DECIMAL(28,10)))
                 AS DOUBLE) / COUNT(*) AS avg_z
        FROM labeled l CROSS JOIN stats s
        GROUP BY l.label
    """,
    bench=True,
    description="composed batch ETL: mask->clean->label->standardize->agg (reference §3.2 end-to-end)",
    tags=("etl", "pipeline"),
)
def etl_end_to_end(spark, sf_dir):
    """The reference's full preprocess flow (preprocess_cicids2017.py:98-342)
    as one lazy composed plan: dirty-value masking (P7) -> null drop (P9) ->
    canonical label mapping (F5, when/contains) -> distributed scaler fit,
    its one stats row applied as literals (M9) -> grouped summary (A1). No
    data-path driver collects, no redundant count jobs."""
    df, _obs = _etl_end_to_end_plan(spark, sf_dir, instrument=False)
    return df


def etl_end_to_end_observed(spark, sf_dir):
    """The same ETL plan with per-stage row counts riding ``observe()`` —
    the reference's ``safe_count`` parity (preprocess_cicids2017.py logs a
    count() per stage, re-scanning the data each time; here the input and
    post-clean counts fill during the standardizer fit, the first action
    over the cleaned rows, with no count job of their own).
    Returns ``(summary_df, observations)`` where observations maps stage
    name -> pyspark Observation; read ``obs.get`` after an action."""
    return _etl_end_to_end_plan(spark, sf_dir, instrument=True)


def _etl_end_to_end_plan(spark, sf_dir, instrument: bool):
    from ..ml.pipeline import apply_standardizer_literal, fit_standardizer
    from ..operators.aggregations import with_stage_observation

    observations = {}
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.when(F.col("value").between(100, 110), F.lit(None))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    if instrument:
        ev, observations["masked"] = with_stage_observation(
            ev,
            "masked",
            F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0)).alias(
                "n_masked_type"
            ),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias(
                "n_masked_value"
            ),
        )
    cleaned = ev.na.drop(subset=["event_type", "value"])
    if instrument:
        cleaned, observations["cleaned"] = with_stage_observation(
            cleaned, "cleaned"
        )
    labeled = cleaned.withColumn(
        "label",
        canonical_label(
            "event_type",
            {
                "conversion": ["purchase", "signup"],
                "engagement": ["click", "view"],
            },
        ),
    )
    # spread=False: the fit is ONE light column (a double cast+add per row)
    # — the spread exchange costs more than the single-task aggregate it
    # parallelizes (r16 same-JVM A/B: −16% with it off; the 4-col lineitem
    # fits keep the spread, where it measures 2.7× the other way)
    stats_row = fit_standardizer(labeled, ["value"], spread=False).first()
    z = apply_standardizer_literal(labeled, stats_row, ["value"])
    summary = z.groupBy("label").agg(
        F.count("*").alias("n_rows"),
        (
            F.sum(F.col("z_value").cast("decimal(28,10)")).cast("double")
            / F.count("*")
        ).alias("avg_z"),
    )
    return summary, observations


# ---------------------------------------------------------------------------
# Temporal completeness: sliding windows, session windows (gaps-and-islands
# oracle), as-of join (DuckDB native ASOF JOIN as the oracle).
# ---------------------------------------------------------------------------


@register(
    "events_sliding_window",
    oracle="""
        WITH b AS (
            SELECT
                unnest([to_timestamp(floor(epoch(ts) / 5) * 5),
                        to_timestamp(floor(epoch(ts) / 5) * 5 - 5)])
                    AS bucket_start,
                event_type
            FROM events
        )
        SELECT CAST(bucket_start AS TIMESTAMP) AS bucket_start,
               event_type, COUNT(*) AS n_events
        FROM b
        GROUP BY 1, 2
    """,
    description="10s window sliding every 5s (each event in 2 buckets) — ST5 sliding variant",
    tags=("window-agg", "streaming-analog"),
)
def events_sliding_window(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 seconds", "5 seconds").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("bucket_start"), "event_type", "n_events"
        )
    )


@register(
    "user_session_windows",
    oracle="""
        WITH o AS (
            SELECT user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_ts
            FROM events
        ),
        marked AS (
            SELECT user_id, ts,
                   CASE WHEN prev_ts IS NULL
                             OR epoch(ts) - epoch(prev_ts) >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM o
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_no
            FROM marked
        )
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM sess
        GROUP BY user_id, session_no
    """,
    description="session windows (30min gap) — native session_window vs gaps-and-islands oracle",
    tags=("window-agg", "session"),
)
def user_session_windows(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
        .select("user_id", "session_start", "n_events")
    )


@register(
    "events_asof_latest_order",
    oracle="""
        WITH ro AS (
            SELECT o_custkey, o_orderdate,
                   MAX(o_orderkey) AS o_orderkey
            FROM orders
            GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey AS last_orderkey
        FROM events e
        ASOF LEFT JOIN ro o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    bench=True,
    description="as-of join: latest order at-or-before each event (union-sort trick vs native ASOF)",
    tags=("join", "asof"),
)
def events_asof_latest_order(spark, sf_dir):
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # uniquify reference rows per (key, time): max orderkey per day
    ro = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ots"),
            "last_orderkey",
        )
    )
    return asof_join(
        ev, ro, key="user_id", left_time="ts", right_time="ots",
        value_cols=["last_orderkey"],
    )


@register(
    "purchase_attribution_last_touch",
    oracle="""
        -- Last-touch attribution: each purchase credits the latest click by
        -- the same user within a 1-day lookback (NULL when none) — the
        -- as-of-with-tolerance shape (pandas merge_asof tolerance=...).
        WITH p AS (
            SELECT user_id, ts AS pts, event_id AS pid FROM events
            WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT user_id, ts AS cts, event_id AS cid FROM events
            WHERE event_type = 'click'
        ),
        j AS (
            SELECT p.pid, p.user_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.pid
                       ORDER BY c.cts DESC, c.cid DESC) AS rn
            FROM p LEFT JOIN c
              ON c.user_id = p.user_id
             AND c.cts <= p.pts
             AND c.cts >= p.pts - INTERVAL 1 DAY
        )
        SELECT pid, user_id, cid AS attributed_cid
        FROM j WHERE rn = 1
    """,
    description=(
        "last-touch attribution via as-of join with a tolerance window "
        "(~1/3 of purchases attributed on the fixtures, rest NULL)"
    ),
    tags=("join", "asof", "attribution"),
)
def purchase_attribution_last_touch(spark, sf_dir):
    """Attribution is the as-of join plus a max-age bound: the oracle's
    LEFT range join explodes at scale, while the union-sort carry stays one
    shuffle + one window, and the tolerance check rides the carried struct
    (operators/asof.py::asof_join(tolerance=...)). The 1-day window is
    chosen against the fixtures' per-user event density so both attributed
    and unattributed purchases exist at every SF.

    The click side is pre-aggregated to one row per (user_id, cts) keeping
    the max cid: asof_join's last() carry is partition-order-dependent when
    two clicks share a timestamp, while the oracle breaks that tie with
    ORDER BY cts DESC, cid DESC — the pre-agg makes Spark match the
    oracle's tie rule by construction instead of by fixture luck."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
        )
        .groupBy("user_id", "cts")
        .agg(F.max("cid").alias("cid"))
    )
    res = asof_join(
        p,
        c,
        key="user_id",
        left_time="pts",
        right_time="cts",
        value_cols=["cid"],
        tolerance="1 day",
    )
    return res.select("pid", "user_id", F.col("cid").alias("attributed_cid"))


# ---------------------------------------------------------------------------
# Reference-shaped flows ETL (§3.2 end to end): dirty headers -> sanitize ->
# dedup -> Infinity-null -> label-map -> drop -> seeded split -> union ->
# z-score. Rows-only: randomSplit's seeded partitioning is Spark-specific,
# so the oracle can't reproduce it; the invariants (z-mean~0, z-std~1,
# split arithmetic, canonical labels) are asserted in tests/test_flows_etl.py.
# ---------------------------------------------------------------------------


def _flows_raw(li):
    """The flow-shaped raw projection of lineitem with the reference's
    raw-CSV pathologies (dirty headers, string numerics, Infinity
    sentinels, raw label spellings; preprocess_cicids2017.py:98-342).
    ONE definition shared by flows_preprocess_summary and its portable
    sibling so the two can never drift."""
    return li.select(
        F.col("l_orderkey").cast("string").alias(" Flow Duration"),
        F.col("l_partkey").cast("string").alias("Total Fwd Packets"),
        F.when(F.col("l_suppkey") % 7 == 0, F.lit("Infinity"))
        .otherwise(F.col("l_extendedprice").cast("string"))
        .alias("Flow Bytes/s"),
        F.col("l_discount").cast("string").alias("Down/Up Ratio"),
        F.when(F.col("l_quantity") < 25, F.lit("BENIGN"))
        .when(F.col("l_quantity") < 35, F.lit("DoS Hulk"))
        .when(F.col("l_quantity") < 45, F.lit("Web Attack XSS"))
        .otherwise(F.lit("DDoS"))
        .alias(" Label"),
    )


def _flows_summarize(res):
    train_summary = res.train.agg(F.count("*").alias("n")).select(
        F.lit("train").alias("part"), F.lit("BENIGN").alias("Label"), "n"
    )
    eval_summary = res.stream_eval.groupBy("Label").agg(
        F.count("*").alias("n")
    ).select(F.lit("stream_eval").alias("part"), "Label", "n")
    return train_summary.unionByName(eval_summary)


@register(
    "flows_preprocess_summary",
    oracle=None,
    description="full flows ETL (sanitize/dedup/inf-null/label/split/z-score) summary counts (§3.2)",
    tags=("etl", "pipeline", "flows"),
)
def flows_preprocess_summary(spark, sf_dir):
    """Runs preprocess_flows (operators/flows_etl.py) over the shared raw
    projection and summarizes both output splits. Rows-only: randomSplit
    membership is engine-specific; flows_preprocess_portable_summary is the
    hash-split oracle-checked sibling (every other stage identical)."""
    from ..operators.flows_etl import preprocess_flows

    li = load_table(spark, sf_dir, "lineitem")
    res = preprocess_flows(_flows_raw(li), seed=42)
    return _flows_summarize(res)


@register(
    "flows_preprocess_portable_summary",
    oracle="""
        -- The reference's WHOLE preprocessing pipeline (sanitize -> exact
        -- dedup -> Infinity->NULL drop -> label canonicalization -> benign
        -- train/test split) with the one engine-specific stage (seeded
        -- randomSplit) swapped for the md5 hash-uniform split — every
        -- count below is reproduced bit-for-bit by any engine.
        WITH raw AS (
            SELECT DISTINCT
                l_orderkey AS fd,
                l_partkey AS tfp,
                CASE WHEN l_suppkey % 7 = 0 THEN NULL
                     ELSE l_extendedprice END AS fbs,
                (l_suppkey % 7 = 0) AS is_inf,
                l_discount AS dur,
                CASE WHEN l_quantity < 25 THEN 'BENIGN'
                     WHEN l_quantity < 35 THEN 'DoS'
                     WHEN l_quantity < 45 THEN 'WebAttack'
                     ELSE 'DDoS' END AS label
            FROM lineitem
        ),
        hu AS (
            SELECT label,
                   CAST(concat('0x', substr(md5('flowsplit' ||
                        CAST(CAST(fd AS BIGINT) AS VARCHAR) || '_' ||
                        CAST(CAST(tfp AS BIGINT) AS VARCHAR)), 1, 8))
                        AS BIGINT) / 4294967296.0 AS u
            FROM raw WHERE NOT is_inf
        )
        SELECT 'train' AS part, 'BENIGN' AS Label,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM hu WHERE label = 'BENIGN' AND u < 0.8
        UNION ALL
        SELECT 'stream_eval' AS part, label AS Label,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM hu WHERE label <> 'BENIGN' OR u >= 0.8
        GROUP BY label
    """,
    description=(
        "flows ETL with hash-uniform (md5) benign split — the oracle-"
        "checked sibling of flows_preprocess_summary (R1 made portable)"
    ),
    tags=("etl", "pipeline", "flows"),
)
def flows_preprocess_portable_summary(spark, sf_dir):
    """Same stages, same shared raw projection, same summarize step as
    flows_preprocess_summary — only the benign split swaps randomSplit for
    relational.hash_uniform on the (Flow_Duration, Total_Fwd_Packets)
    integer key, which any engine reproduces. The full reference pipeline
    therefore carries hash-level cross-engine evidence end-to-end."""
    from ..operators.flows_etl import preprocess_flows
    from ..operators.relational import hash_uniform

    li = load_table(spark, sf_dir, "lineitem")

    def hash_split(benign):
        key = F.concat(
            F.col("Flow_Duration").cast("bigint").cast("string"),
            F.lit("_"),
            F.col("Total_Fwd_Packets").cast("bigint").cast("string"),
        )
        u = hash_uniform(key, salt="flowsplit")
        return benign.filter(u < 0.8), benign.filter(u >= 0.8)

    res = preprocess_flows(_flows_raw(li), split_fn=hash_split)
    return _flows_summarize(res)


@register(
    "stream_stateful_user_counts",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events
        FROM events
        GROUP BY 1
    """,
    description="applyInPandasWithState running per-key counts (ST6), final state batch-equivalent",
    tags=("streaming", "stateful"),
)
def stream_stateful_user_counts(spark, sf_dir):
    """Custom stateful operator executed as a real stream: per-user running
    counts via applyInPandasWithState (streaming/pipeline.py). The final
    update per key must equal the batch groupBy — exact-integer oracle; the
    float running totals are tolerance-checked in tests/test_streaming.py."""
    from ..streaming.pipeline import (
        events_stream,
        run_to_memory_sink,
        running_user_totals,
    )

    out = run_to_memory_sink(
        running_user_totals(events_stream(spark, sf_dir)), output_mode="update"
    )
    return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@register(
    "contrastive_negatives",
    oracle="""
        -- Deterministic negative sampling for contrastive training: each
        -- anchor (vec_id < 8) draws 4 negatives from ONE hash bucket of
        -- the corpus (16 buckets), ranked by a pair hash, different-label
        -- only. Bucket probing keeps the work anchor-count x bucket-size,
        -- never anchors x corpus.
        WITH b AS (
            SELECT vec_id, label,
                   CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 16 AS bucket
            FROM embeddings
        ),
        anchors AS (
            SELECT vec_id AS anchor_id, label AS anchor_label,
                   CAST(concat('0x',
                        substr(md5(CAST(vec_id + 7919 AS VARCHAR)), 1, 8))
                        AS BIGINT) % 16 AS probe_bucket
            FROM embeddings WHERE vec_id < 8
        ),
        ranked AS (
            SELECT a.anchor_id, c.vec_id AS negative_id, c.label AS neg_label,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.anchor_id
                       ORDER BY md5(CAST(a.anchor_id AS VARCHAR) || ':'
                                    || CAST(c.vec_id AS VARCHAR)),
                                c.vec_id) AS rn
            FROM anchors a
            JOIN b c ON c.bucket = a.probe_bucket
                     AND c.label <> a.anchor_label
                     AND c.vec_id <> a.anchor_id
        )
        SELECT anchor_id, negative_id, neg_label, rn
        FROM ranked WHERE rn <= 4
    """,
    description=(
        "deterministic bucket-probed negative sampling (contrastive "
        "training pairs without an anchors x corpus join)"
    ),
    tags=("sampling", "ml", "deterministic"),
)
def contrastive_negatives(spark, sf_dir):
    """Negative sampling the way a 100 TB pipeline must do it: candidates
    are pre-bucketed by a key hash (a one-projection pass), each anchor
    probes exactly one bucket (equi-join on the bucket id — broadcastable
    anchor side), and the per-anchor draw is a pair-hash ranking, so the
    sample is reproducible across runs, partitionings, and engines. The
    naive formulation — rank random() over anchors x corpus — is a
    cross join that dies at scale and is unreproducible everywhere."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")

    def hash_mod(col, offset, mod):
        h = F.md5((F.col(col) + F.lit(offset)).cast("string")) if offset else F.md5(
            F.col(col).cast("string")
        )
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % mod

    cand = emb.select(
        F.col("vec_id"),
        F.col("label"),
        hash_mod("vec_id", 0, 16).alias("bucket"),
    )
    anchors = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        hash_mod("vec_id", 7919, 16).alias("probe_bucket"),
    )
    joined = (
        F.broadcast(anchors)
        .join(cand, cand.bucket == anchors.probe_bucket)
        .filter(
            (F.col("label") != F.col("anchor_label"))
            & (F.col("vec_id") != F.col("anchor_id"))
        )
    )
    pair_hash = F.md5(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit(":"),
            F.col("vec_id").cast("string"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(pair_hash, F.col("vec_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("neg_label"),
            "rn",
        )
    )


@register(
    "partition_pruned_counts",
    oracle="""
        SELECT event_type, COUNT(*) AS n_events
        FROM events
        WHERE date_trunc('day', ts) = '2024-01-05'
        GROUP BY 1
    """,
    description="per-type counts for one day off a date-partitioned layout (pruned scan)",
    tags=("storage", "partitioning"),
)
def partition_pruned_counts(spark, sf_dir):
    """Writes events Hive-partitioned by event_date (idempotent per sf_dir),
    then answers a one-day query off the pruned layout: the scan's
    PartitionFilters carries the predicate, so 29 of 30 day-directories are
    never opened (sources/partitioned.py; asserted in
    tests/test_partitioned.py)."""
    import os

    from ..scratch import scratch_root
    from ..sources.partitioned import read_pruned, write_partitioned

    key = sf_dir.strip("/").replace("/", "_")
    dest = os.path.join(
        scratch_root(spark, "part"), f"{key}_events_by_date"
    )
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        write_partitioned(ev, dest, ["event_date"])
    pruned = read_pruned(spark, dest, "event_date = '2024-01-05'")
    return pruned.groupBy("event_type").agg(F.count("*").alias("n_events"))


@register(
    "stream_dead_letter_counts",
    oracle="""
        SELECT 'good' AS side, COUNT(*) AS n FROM events WHERE event_id % 5 <> 0
        UNION ALL
        SELECT 'dead' AS side, COUNT(*) AS n FROM events WHERE event_id % 5 = 0
    """,
    description="dead-letter routing (ST8): undecodable payloads split to a DLQ, good rows flow on",
    tags=("streaming", "error-handling"),
)
def stream_dead_letter_counts(spark, sf_dir):
    """Every 5th payload is corrupted, the stream decodes with a declared
    _corrupt_record column, and the foreachBatch router sends each side to
    its sink (streaming/pipeline.py::decode_or_dead_letter)."""
    from ..streaming.pipeline import events_stream, run_dead_letter_foreach_batch

    stream_vals = events_stream(spark, sf_dir).select(
        F.when(F.col("event_id") % 5 == 0, F.lit("{not json"))
        .otherwise(F.to_json(F.struct("event_id", "value")))
        .alias("value")
    )
    g, d = run_dead_letter_foreach_batch(
        stream_vals, "event_id bigint, value double"
    )
    return spark.createDataFrame([("good", g), ("dead", d)], "side string, n bigint")


@register(
    "stream_flow_scoring",
    oracle="""
        WITH stats AS (
            SELECT
                CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                    / COUNT(value) AS mean_v,
                CASE WHEN CAST(SUM(CAST(value * value AS DECIMAL(28,10)))
                          AS DOUBLE) / COUNT(value)
                        - (CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                           / COUNT(value))
                        * (CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                           / COUNT(value)) <= 0.0
                     THEN 1.0
                     ELSE sqrt(CAST(SUM(CAST(value * value AS DECIMAL(28,10)))
                               AS DOUBLE) / COUNT(value)
                             - (CAST(SUM(CAST(value AS DECIMAL(28,10)))
                                AS DOUBLE) / COUNT(value))
                             * (CAST(SUM(CAST(value AS DECIMAL(28,10)))
                                AS DOUBLE) / COUNT(value)))
                END AS std_v
            FROM events
        )
        SELECT
            CASE WHEN ((e.value - s.mean_v) / s.std_v)
                     * ((e.value - s.mean_v) / s.std_v) > 2.0
                 THEN 'anomaly' ELSE 'normal' END AS prediction,
            COUNT(*) AS n
        FROM events e CROSS JOIN stats s
        GROUP BY 1
    """,
    bench=True,
    description="flagship detect path as a real stream: decode -> standardize -> threshold -> route (SURVEY §3.1)",
    tags=("streaming", "ml", "scoring"),
)
def stream_flow_scoring(spark, sf_dir):
    """The reference's flagship micro-batch scoring loop (§3.1 steps 4-7),
    Spark-first: scaler stats fit once on the batch table (M9), broadcast
    into every micro-batch; each batch standardizes, thresholds (M5/F12) and
    routes to the two sinks through one cached pass (P12/S8 — the reference
    recomputes each batch 4-6×). Counts routed per side must equal the
    batch-computed oracle exactly (decimal-exact stats)."""
    from ..ml.pipeline import fit_standardizer
    from ..streaming.pipeline import events_stream, run_routed_foreach_batch

    ev = load_table(spark, sf_dir, "events")
    # 1-row collect to literals: the broadcast-crossJoin variant embeds the
    # stats PLAN into every micro-batch, re-running the fit aggregate per
    # batch; literals fit once (the justified scalar fetch —
    # ml/pipeline.py::apply_standardizer_literal)
    stats_row = fit_standardizer(ev, ["value"]).first()

    def score(batch_df):
        from ..ml.pipeline import apply_standardizer_literal

        z = apply_standardizer_literal(batch_df, stats_row, ["value"])
        return z.withColumn(
            "prediction",
            F.when(F.col("z_value") * F.col("z_value") > 2.0, "anomaly").otherwise(
                "normal"
            ),
        )

    # 4 files/trigger -> 2 micro-batches: still exercises cross-batch
    # streaming, halves the per-batch persist/sink overhead in the bench
    # (routed counts are batch-boundary-invariant)
    normal, anomaly = run_routed_foreach_batch(
        events_stream(spark, sf_dir, max_files_per_trigger=4), score
    )
    return spark.createDataFrame(
        [("normal", sum(normal)), ("anomaly", sum(anomaly))],
        "prediction string, n bigint",
    )


@register(
    "stream_stream_join_counts",
    oracle="""
        WITH p AS (
            SELECT user_id, ts AS pts, event_id AS pid FROM events
            WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT user_id, ts AS cts, event_id AS cid FROM events
            WHERE event_type = 'click'
        )
        SELECT COUNT(*) AS n_pairs,
               COUNT(DISTINCT pid) AS n_purchases_matched
        FROM p JOIN c ON p.user_id = c.user_id
                      AND c.cts >= p.pts
                      AND c.cts <= p.pts + INTERVAL 60 SECOND
    """,
    description="watermarked stream-stream interval join (purchase->click within 60s), batch-equivalent",
    tags=("streaming", "join"),
)
def stream_stream_join_counts(spark, sf_dir):
    """Both sides are real streams; the time-range predicate bounds join
    state so the watermark can expire it (streaming/pipeline.py::
    stream_stream_join)."""
    from ..streaming.pipeline import (
        events_stream,
        run_to_memory_sink,
        stream_stream_join,
    )

    ev = events_stream(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    c = events_stream(spark, sf_dir).filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    joined = stream_stream_join(
        p, c, key="user_id", left_ts="pts", right_ts="cts", within="60 seconds"
    ).select("pid", "cid")
    out = run_to_memory_sink(joined, output_mode="append")
    return out.agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct("pid").alias("n_purchases_matched"),
    )


@register(
    "stream_stream_left_outer_counts",
    oracle="""
        WITH p AS (
            SELECT user_id, ts AS pts, event_id AS pid FROM events
            WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT user_id, ts AS cts, event_id AS cid FROM events
            WHERE event_type = 'click'
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(cid) AS BIGINT) AS n_matched_pairs,
               CAST(SUM(CASE WHEN cid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unmatched_purchases
        FROM p LEFT JOIN c ON p.user_id = c.user_id
                           AND c.cts >= p.pts
                           AND c.cts <= p.pts + INTERVAL 60 SECOND
    """,
    description="left-outer stream-stream join, tail state flushed by watermark-closing sentinels",
    tags=("streaming", "join"),
)
def stream_stream_left_outer_counts(spark, sf_dir):
    """The left-outer variant round 2 documented as a limitation: unmatched
    left rows only emit when the watermark passes them, and a bounded
    replay's watermark stalls at the last real event. The staged source now
    appends two far-future sentinel files (streaming/pipeline.py::
    _write_sentinel_files): the first advances the max seen event time, the
    second runs a batch under that raised watermark, so every unmatched
    purchase is null-extended and emitted before the replay stops — making
    the complete left-join result deterministic and oracle-checkable.
    Sentinel rows (user_id = -1) are filtered from the sink output."""
    from ..streaming.pipeline import (
        events_stream,
        run_to_memory_sink,
        stream_stream_join,
    )

    p = (
        events_stream(spark, sf_dir, max_files_per_trigger=1, sentinels=True)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid"))
    )
    c = (
        events_stream(spark, sf_dir, max_files_per_trigger=1, sentinels=True)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid"))
    )
    joined = stream_stream_join(
        p,
        c,
        key="user_id",
        left_ts="pts",
        right_ts="cts",
        within="60 seconds",
        how="leftOuter",
    ).select(F.col("l.user_id").alias("uid"), "pid", "cid")
    out = run_to_memory_sink(joined, output_mode="append")
    return out.filter(F.col("uid") >= 0).agg(
        F.count("*").alias("n_rows"),
        F.count("cid").alias("n_matched_pairs"),
        F.sum(F.when(F.col("cid").isNull(), 1).otherwise(0)).alias(
            "n_unmatched_purchases"
        ),
    )


@register(
    "stream_session_windows",
    oracle="""
        WITH o AS (
            SELECT user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_ts
            FROM events
        ),
        marked AS (
            SELECT user_id, ts,
                   CASE WHEN prev_ts IS NULL
                             OR epoch(ts) - epoch(prev_ts) >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM o
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_no
            FROM marked
        )
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM sess
        GROUP BY user_id, session_no
    """,
    description="session windows computed IN the stream (ST5): watermarked session_window agg, batch-equivalent",
    tags=("streaming", "session"),
)
def stream_session_windows(spark, sf_dir):
    """Same gaps-and-islands oracle as the batch query, but the
    session_window aggregation runs inside a real stream with a watermark —
    merging sessions across micro-batches is exactly the stateful behavior
    the batch query can't demonstrate."""
    from ..streaming.pipeline import events_stream, run_to_memory_sink

    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
        .select("user_id", "session_start", "n_events")
    )
    return run_to_memory_sink(agg, output_mode="complete")


@register(
    "lineitem_grouping_sets",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               GROUPING(l_returnflag) AS g_flag,
               GROUPING(l_linestatus) AS g_status
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    description="explicit GROUPING SETS with grouping() disambiguation (general form of cube/rollup)",
    tags=("aggregation", "grouping-sets"),
)
def lineitem_grouping_sets(spark, sf_dir):
    """The general grouping form (cube/rollup are specializations —
    lineitem_cube / orders_rollup_by_year). grouping() distinguishes
    'aggregated over' from a genuine NULL group value."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


@register(
    "documents_dedup_keep_best",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, lang, length(text) AS text_len,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(lower(trim(text)))
                       ORDER BY length(text) DESC, doc_id
                   ) AS rn
            FROM documents
        )
        SELECT doc_id, lang, text_len FROM ranked WHERE rn = 1
    """,
    description="keyed dedup keeping the canonical row per content fingerprint (longest text, tie by id)",
    tags=("dedup", "cleaning"),
)
def documents_dedup_keep_best(spark, sf_dir):
    """Keep-best dedup (operators/cleaning.py::dedup_keep_best): groups by
    normalized-content fingerprint, keeps the longest text (doc_id ties) —
    the canonical-representative pattern every near-dedup pipeline ends
    with."""
    from ..operators.cleaning import dedup_keep_best

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "fp", F.md5(F.lower(F.trim("text")))
    )
    best = dedup_keep_best(
        docs,
        ["fp"],
        [F.length("text").desc(), F.col("doc_id")],
    )
    return best.select("doc_id", "lang", F.length("text").alias("text_len"))


# ---------------------------------------------------------------------------
# Round-2 additions: banded range join, composed corpus quality filter,
# stratified sampling, per-class embedding centroids. The scale shapes:
# range join as an equi-join on time bands; centroids in long format.
# ---------------------------------------------------------------------------


@register(
    "events_orders_range_join",
    oracle="""
        SELECT e.event_id,
               COUNT(*) AS n_orders,
               MAX(o.o_orderkey) AS max_orderkey
        FROM events e
        JOIN orders o
          ON e.user_id = o.o_custkey
         AND o.o_orderdate >= e.ts - INTERVAL 26 YEAR - INTERVAL 7 DAY
         AND o.o_orderdate <= e.ts - INTERVAL 26 YEAR
        GROUP BY 1
    """,
    bench=True,
    description="range join (orders within 7 days before each event) via time-band equi-join",
    tags=("join", "range"),
)
def events_orders_range_join(spark, sf_dir):
    """Banded range join (operators/relational.py::banded_range_join): the
    range predicate becomes part of the shuffle key via coarse time bands,
    so Spark plans a sort-merge equi-join instead of the
    broadcast-nested-loop it picks for raw range predicates.

    The fixture events all fall in Jan-2024 while orders span 1995-2001, so
    the raw 7-day-lookback join is empty at every SF (a vacuous oracle
    match). Shifting the event probe back 26 years lands it in Jan-1998 —
    mid-domain — so the driver row exercises real matches (~235 groups at
    sf0.01). Calendar-year arithmetic on a January timestamp is identical
    in Spark and DuckDB (no leap-day edge)."""
    from ..operators.relational import banded_range_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 26 YEARS")).alias("ts"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("o_ts"),
    )
    j = banded_range_join(
        ev,
        orders,
        left_ts="ts",
        right_ts="o_ts",
        lower="7 days",
        upper="0 seconds",
        equi_keys=("user_id",),
    )
    return j.groupBy("event_id").agg(
        F.count("*").alias("n_orders"),
        F.max("o_orderkey").alias("max_orderkey"),
    )


_SQL_STOPFILTER = (
    "len(list_filter(toks, tk -> list_contains("
    "['the','a','an','and','or','of','to','in','is','it'], tk)))"
)

# --- corpus quality gate: ONE definition shared by corpus_quality_filter,
# corpus_pipeline_summary, and corpus_yield_by_source, on BOTH the Spark
# and the oracle side. The same pipeline stage re-typed per query is how
# stage definitions silently diverge (the BM25-predicate class, r12).
_QUALITY_MIN = 0.75
_GATE_TOKENS_MIN = 5
_GATE_TOKENS_MAX = 5000

_SQL_QUALITY_EXPR = f"""(
                  (CASE WHEN n BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END)
                + (CASE WHEN CAST({_SQL_STOPFILTER} AS DOUBLE) / len(toks)
                       BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.0 END)
                + (CASE WHEN CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                       AS DOUBLE) / n <= 0.3 THEN 1.0 ELSE 0.0 END)
                + (CASE WHEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                       AS DOUBLE) / n <= 0.1 THEN 1.0 ELSE 0.0 END)
                ) / 4.0"""


def _sql_quality_gate(tokens_expr: str = "n_tokens") -> str:
    return (
        f"quality >= {_QUALITY_MIN} AND {tokens_expr} "
        f"BETWEEN {_GATE_TOKENS_MIN} AND {_GATE_TOKENS_MAX}"
    )


def _quality_gate():
    return (F.col("quality") >= _QUALITY_MIN) & F.col("n_tokens").between(
        _GATE_TOKENS_MIN, _GATE_TOKENS_MAX
    )



@register(
    "corpus_quality_filter",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, text, {_SQL_TOKENS} AS toks, length(text) AS n
            FROM documents
        ), scored AS (
            SELECT
                doc_id, lang, toks,
                {_SQL_QUALITY_EXPR} AS quality
            FROM t
        )
        SELECT doc_id, lang, quality, len(toks) AS n_tokens
        FROM scored
        WHERE {_sql_quality_gate("len(toks)")}
    """,
    description="composed C4-style corpus filter: quality + token-count gates in one scan",
    tags=("text", "cleaning"),
)
def corpus_quality_filter(spark, sf_dir):
    """The composed pre-training corpus filter (quality score and token
    count gates in a single projection + filter — one scan, fully
    pushed-down)."""
    from ..operators.text import quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens").cast("bigint"),
    )
    return scored.filter(_quality_gate())


@register(
    "stratified_sample_counts",
    oracle=None,
    description="per-class Bernoulli downsampling (sampleBy) — seeded, engine-specific membership (rows-only)",
    tags=("sampling",),
)
def stratified_sample_counts(spark, sf_dir):
    """Class rebalancing: downsample the dominant event types, keep the
    rare ones whole; output per-stratum surviving counts."""
    from ..operators.relational import stratified_sample

    ev = load_table(spark, sf_dir, "events")
    sampled = stratified_sample(
        ev,
        "event_type",
        {"click": 0.1, "view": 0.25, "purchase": 1.0, "signup": 1.0, "error": 1.0},
    )
    return sampled.groupBy("event_type").agg(F.count("*").alias("n_sampled"))


@register(
    "doc_pii_redaction",
    oracle=r"""
        WITH synth AS (
            -- plant deterministic PII so the redaction patterns are
            -- genuinely exercised (the fixture corpus is clean prose)
            SELECT doc_id,
                   text || ' contact user' || doc_id ||
                   '@example.com or https://site.example/d/' || doc_id ||
                   ' ref 900' || doc_id || '1234567' AS text
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   AS n_email,
               len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_url,
               len(regexp_extract_all(text, '[0-9]{7,}')) AS n_number,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                   'https?://[^\s]+', '<URL>', 'g'),
                   '[0-9]{7,}', '<NUM>', 'g')) AS redacted_md5
        FROM synth
    """,
    description="PII redaction pass (emails/URLs/long digit runs -> typed tokens) with audit counts",
    tags=("text", "cleaning"),
)
def doc_pii_redaction(spark, sf_dir):
    """Redaction (operators/text.py::redact_pii) over the corpus with
    planted deterministic PII; output = per-type hit counts + md5 of the
    redacted text (compact, hashable proof the masking is identical)."""
    from ..operators.text import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or https://site.example/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" ref 900"), F.col("doc_id").cast("string"), F.lit("1234567"),
        ).alias("text"),
    )
    counts = pii_counts("text")
    return docs.select(
        "doc_id",
        counts["email"].cast("bigint").alias("n_email"),
        counts["url"].cast("bigint").alias("n_url"),
        counts["number"].cast("bigint").alias("n_number"),
        F.md5(redact_pii("text")).alias("redacted_md5"),
    )


@register(
    "customers_orders_full_outer",
    oracle="""
        SELECT
            CASE WHEN c.c_custkey IS NULL THEN 'order_only'
                 WHEN o.o_custkey IS NULL THEN 'customer_only'
                 ELSE 'matched' END AS side,
            COUNT(*) AS n
        FROM customer c
        FULL OUTER JOIN (
            SELECT o_custkey, COUNT(*) AS n_orders
            FROM orders GROUP BY 1
        ) o ON c.c_custkey = o.o_custkey
        GROUP BY 1
    """,
    description="full-outer join with match-status classification (declared 2.3 parity)",
    tags=("join",),
)
def customers_orders_full_outer(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    j = cust.join(per_cust, cust["c_custkey"] == per_cust["o_custkey"], "full_outer")
    side = (
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("matched")
    )
    return j.groupBy(side.alias("side")).agg(F.count("*").alias("n"))


@register(
    "doc_chunking",
    oracle="""
        WITH f AS (
            SELECT doc_id, text,
                   greatest(CAST(ceil((length(text) - 64) / 448.0) AS BIGINT),
                            1) AS n_chunks
            FROM documents
        ), x AS (
            SELECT doc_id, text,
                   unnest(range(0, n_chunks)) AS chunk_no
            FROM f
        )
        SELECT doc_id,
               CAST(chunk_no AS BIGINT) AS chunk_no,
               substr(text, CAST(chunk_no * 448 + 1 AS INT), 512) AS chunk_text
        FROM x
    """,
    description="fixed-size overlapping document chunking (512 chars, 64 overlap) — context-window prep",
    tags=("text", "chunking"),
)
def doc_chunking(spark, sf_dir):
    from ..operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_chars=512, overlap=64)


# ---------------------------------------------------------------------------
# Changelog semantics (CDC analogs on the events table): latest-state
# compaction (SCD1 upsert view) and validity intervals (SCD2). One shuffle
# by key each — the same cost envelope as the groupBy it replaces, so the
# plan scales like any keyed aggregation.
# ---------------------------------------------------------------------------


@register(
    "user_latest_state",
    oracle="""
        SELECT user_id,
               event_id AS last_event_id,
               ts AS last_ts,
               event_type AS last_event_type,
               value AS last_value
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    description=(
        "changelog compaction: latest event per user (SCD1 upsert view; "
        "ties broken by event_id)"
    ),
    tags=("cdc", "window"),
)
def user_latest_state(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "user_state_intervals",
    oracle="""
        SELECT user_id, event_id, event_type,
               ts AS valid_from,
               LEAD(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS valid_to
        FROM events
        WHERE user_id < 50
    """,
    description=(
        "SCD2 intervals from a changelog: each event valid from its ts "
        "until the user's next event (NULL = current)"
    ),
    tags=("cdc", "window"),
)
def user_state_intervals(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


@register(
    "customer_spend_quartiles",
    oracle="""
        WITH spend AS (
            SELECT c.c_custkey, c.c_mktsegment,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,10)))
                        AS DOUBLE) AS total_spend
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
        )
        SELECT c_custkey, c_mktsegment, total_spend,
               CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume
        FROM spend
        WINDOW w AS (
            PARTITION BY c_mktsegment ORDER BY total_spend, c_custkey
        )
    """,
    description=(
        "rank-family windows (ntile/percent_rank/cume_dist) over per-segment "
        "customer spend; total order incl. key so ntile is deterministic"
    ),
    tags=("window", "ranking"),
)
def customer_spend_quartiles(spark, sf_dir):
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(dec_sum("o_totalprice", "total_spend"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("total_spend", "c_custkey")
    return spend.select(
        "c_custkey",
        "c_mktsegment",
        "total_spend",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Deterministic keyed sampling (LLM-data surface): engine-portable md5-hash
# membership, so mixtures and splits reproduce bit-identically across runs,
# partitionings, and engines — unlike seeded randomSplit/sample (R1/R2),
# which are registered rows-only. Keying the split on user_id is the
# leakage-safe form: every row of a user lands in the same split.
# ---------------------------------------------------------------------------

_SQL_HASH_U = (
    "CAST(concat('0x', substr(md5(CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT)"
    " / 4294967296.0"
)


@register(
    "deterministic_split_counts",
    oracle=f"""
        WITH s AS (
            SELECT user_id,
                   CASE WHEN u < 0.8 THEN 'train'
                        WHEN u < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT user_id, {_SQL_HASH_U.format(key="user_id")} AS u
                  FROM events)
        )
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM s
        GROUP BY 1
    """,
    description=(
        "leakage-safe train/val/test split keyed on user_id "
        "(cumulative hash ranges; membership engine-portable, unlike R1's "
        "randomSplit)"
    ),
    tags=("sampling", "split", "deterministic"),
)
def deterministic_split_counts(spark, sf_dir):
    from ..operators.relational import deterministic_split

    ev = load_table(spark, sf_dir, "events")
    split = deterministic_split(
        ev, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split.groupBy("split").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "stratified_sample_counts_portable",
    oracle=f"""
        WITH u AS (
            SELECT event_type, {_SQL_HASH_U.format(key="event_id")} AS u
            FROM events
        )
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sampled
        FROM u
        WHERE u < CASE event_type
            WHEN 'click' THEN 0.1
            WHEN 'view' THEN 0.25
            ELSE 1.0 END
        GROUP BY 1
    """,
    description=(
        "per-class downsampling with engine-portable md5-keyed membership — "
        "the oracle-checked sibling of stratified_sample_counts (R2's "
        "sampleBy is seeded but engine-specific, so that one is rows-only)"
    ),
    tags=("sampling", "deterministic"),
)
def stratified_sample_counts_portable(spark, sf_dir):
    """Same class-rebalancing shape as ``stratified_sample_counts`` (click
    0.1, view 0.25, rare classes whole) but membership is decided by
    ``hash_uniform(event_id)`` per stratum, so any engine reproduces the
    exact surviving set. One projection+filter, no shuffle before the
    count aggregate — identical scale profile to ``sampleBy``."""
    from ..operators.relational import weighted_corpus_mix

    ev = load_table(spark, sf_dir, "events")
    sampled = weighted_corpus_mix(
        ev,
        "event_type",
        "event_id",
        {"click": 0.1, "view": 0.25},
        default_weight=1.0,
    )
    return sampled.groupBy("event_type").agg(F.count("*").alias("n_sampled"))


_SQL_LINEITEM_KEY = (
    "concat(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR))"
)


@register(
    "capped_sample_portable",
    oracle=f"""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_sampled,
               {sql_dec_sum("l_quantity", "sum_qty")}
        FROM lineitem
        WHERE {_SQL_HASH_U.format(key=_SQL_LINEITEM_KEY)} < 0.5
        GROUP BY 1
    """,
    description=(
        "row-cap Bernoulli sample at rate cap/total with engine-portable "
        "md5-keyed membership — the oracle-checked sibling of "
        "capped_sample_count (R2's .sample is seeded but engine-specific)"
    ),
    tags=("sampling", "deterministic"),
)
def capped_sample_portable(spark, sf_dir):
    """R2's cap-to-~half shape (preprocess reference caps at 500k rows on a
    ~1M-row class) with reproducible membership: a row survives iff
    ``hash_uniform(l_orderkey || '-' || l_linenumber) < 0.5``. The key is
    the table's composite primary key, so membership is stable across
    partitionings, re-runs, and engines; the per-flag decimal quantity sum
    makes the value hash sensitive to the exact surviving set, not just
    its size."""
    from ..operators.relational import deterministic_sample
    from ..functions.numeric import dec_sum

    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws("-", "l_orderkey", "l_linenumber")
    sampled = li.withColumn("__k", key)
    sampled = deterministic_sample(sampled, "__k", 0.5)
    return sampled.groupBy("l_returnflag").agg(
        F.count("*").alias("n_sampled"),
        dec_sum("l_quantity", "sum_qty"),
    )


# ---------------------------------------------------------------------------
# Behavioral analytics (engine surface beyond the reference's dashboard):
# first-touch funnel and weekly retention cohorts. Both are one shuffle on
# user_id + a small aggregate — the canonical scale shape for per-entity
# analytics over an event log (no window over the full table, no collect).
# Week indexes are computed with date arithmetic only (no tz-dependent
# unix_timestamp), so they are engine- and session-timezone-portable.
# ---------------------------------------------------------------------------


@register(
    "event_funnel_counts",
    oracle="""
        WITH s AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS t_purchase
            FROM events
            GROUP BY 1
        )
        SELECT
            CAST(COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS BIGINT)
                AS n_view,
            CAST(COUNT(CASE WHEN t_click > t_view THEN 1 END) AS BIGINT)
                AS n_view_click,
            CAST(COUNT(CASE WHEN t_click > t_view AND t_purchase > t_click
                       THEN 1 END) AS BIGINT) AS n_view_click_purchase
        FROM s
    """,
    description=(
        "first-touch funnel: users whose first view precedes first click "
        "precedes first purchase (single-pass conditional MINs per user)"
    ),
    tags=("analytics", "funnel"),
)
def event_funnel_counts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    stage2 = F.col("t_click") > F.col("t_view")
    stage3 = stage2 & (F.col("t_purchase") > F.col("t_click"))
    return s.agg(
        F.count(F.when(F.col("t_view").isNotNull(), True)).alias("n_view"),
        F.count(F.when(stage2, True)).alias("n_view_click"),
        F.count(F.when(stage3, True)).alias("n_view_click_purchase"),
    )


@register(
    "user_retention_cohorts",
    oracle="""
        WITH f AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
            FROM events
            GROUP BY 1
        ),
        a AS (
            SELECT e.user_id,
                   CAST(floor(date_diff('day', DATE '2024-01-01', f.first_day)
                              / 7.0) AS BIGINT) AS cohort_week,
                   CAST(floor(date_diff('day', f.first_day, CAST(e.ts AS DATE))
                              / 7.0) AS BIGINT) AS week_offset
            FROM events e JOIN f ON e.user_id = f.user_id
        )
        SELECT cohort_week, week_offset,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM a
        GROUP BY 1, 2
    """,
    description=(
        "weekly retention cohorts: users grouped by first-seen week x "
        "weeks-since-first-seen activity (date arithmetic only, tz-free)"
    ),
    tags=("analytics", "retention"),
)
def user_retention_cohorts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    first = ev.groupBy("user_id").agg(F.min("d").alias("first_day"))
    a = ev.join(first, "user_id").select(
        "user_id",
        F.floor(
            F.datediff("first_day", F.lit("2024-01-01").cast("date")) / 7.0
        ).alias("cohort_week"),
        F.floor(F.datediff("d", "first_day") / 7.0).alias("week_offset"),
    )
    return a.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )


@register(
    "event_time_disorder_stats",
    oracle="""
        -- How out-of-order is the stream, per user lane? The statistic that
        -- sizes a watermark delay: an event is disordered if an earlier
        -- ARRIVAL in the same lane carries a later event time; max_lag_s is
        -- the worst inversion in seconds. The fixtures carry no arrival
        -- column (event_id is time-sorted, which would make the metric
        -- vacuously zero), so arrival is simulated with a deterministic
        -- md5-keyed jitter of up to 1 day — same planted-input pattern as
        -- doc_pii_redaction.
        WITH j AS (
            SELECT user_id, ts, event_id,
                   floor(epoch(ts)) +
                   CAST(concat('0x',
                        substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 86401 AS arrival_s
            FROM events
        ),
        w AS (
            SELECT ts,
                   MAX(ts) OVER (PARTITION BY user_id
                                 ORDER BY arrival_s, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prior_max
            FROM j
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN ts < prior_max THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_out_of_order,
               CAST(SUM(CASE WHEN ts < prior_max THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS disorder_frac,
               CAST(MAX(CASE WHEN ts < prior_max
                             THEN CAST(floor(epoch(prior_max)) AS BIGINT)
                                  - CAST(floor(epoch(ts)) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS max_lag_s
        FROM w
    """,
    description=(
        "event-time disorder profile (out-of-order fraction + worst lag "
        "under a deterministic simulated arrival order) — the measurement "
        "behind a watermark-delay choice"
    ),
    tags=("streaming", "quality", "window"),
)
def event_time_disorder_stats(spark, sf_dir):
    """ST4's missing half: picking a watermark delay needs the arrival-vs-
    event-time disorder measured, not guessed. The fixture's ingestion
    order is time-sorted (zero disorder — a vacuous metric), so arrival is
    simulated as event time plus a deterministic md5-keyed jitter of up to
    one day. One running-max window per user lane plus a global 1-row
    aggregate — no shuffle beyond the window's own. Ordering keys and lags
    use truncated epoch seconds with event_id tie-breaks: shift-invariant,
    so session-tz epoch offsets cancel between engines (fixtures span
    Jan-2024 only — no DST transition inside the window)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    jitter = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 86401
    )
    j = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.unix_timestamp("ts") + jitter).alias("arrival_s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = j.select("ts", F.max("ts").over(w).alias("prior_max"))
    late = F.when(F.col("ts") < F.col("prior_max"), 1).otherwise(0)
    lag = F.when(
        F.col("ts") < F.col("prior_max"),
        F.unix_timestamp("prior_max") - F.unix_timestamp("ts"),
    ).otherwise(0)
    return marked.agg(
        F.count("*").alias("n_events"),
        F.sum(late).alias("n_out_of_order"),
        (F.sum(late).cast("double") / F.count("*")).alias("disorder_frac"),
        F.max(lag).cast("bigint").alias("max_lag_s"),
    )


@register(
    "balanced_class_sample",
    oracle="""
        -- Exact-k balanced subsample: 20 vectors per label, membership
        -- decided by md5 rank so the sample is identical on any engine,
        -- any partitioning, any run.
        SELECT label, vec_id, rn
        FROM (
            SELECT label, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY label
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM embeddings
        )
        WHERE rn <= 20
    """,
    description=(
        "deterministic exact-k per-class subsample (balanced training set "
        "without a global sort or RNG)"
    ),
    tags=("sampling", "ml", "deterministic"),
)
def balanced_class_sample(spark, sf_dir):
    """Class-balanced subsampling — the fraction-based stratified sample
    (R2) can't promise exact counts per class; ranking an md5 hash inside
    each label partition can, and stays reproducible across engines. One
    window per class partition; no RNG, no global sort, no driver trip."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        emb.select("label", "vec_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
    )


@register(
    "returnflag_target_encoding",
    oracle="""
        -- Smoothed target (mean) encoding: per-category mean of the target
        -- shrunk toward the global mean by m pseudo-observations
        -- (enc = (sum + m * global_mean) / (n + m)), decimal-exact sums so
        -- every engine derives the identical encoding table.
        WITH g AS (
            SELECT CAST(SUM(CAST(l_discount AS DECIMAL(28,10))) AS DOUBLE)
                       / COUNT(*) AS gmean
            FROM lineitem
        ),
        per_cat AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(l_discount AS DECIMAL(28,10))) AS DOUBLE)
                       AS s
            FROM lineitem
            GROUP BY 1
        )
        SELECT l_returnflag, n,
               (s + 10.0 * g.gmean) / (n + 10.0) AS encoded
        FROM per_cat, g
    """,
    description=(
        "smoothed target encoding (per-category shrunk mean; the "
        "feature-engineering join table, decimal-exact)"
    ),
    tags=("ml", "feature", "aggregation"),
)
def returnflag_target_encoding(spark, sf_dir):
    """Target encoding the distributed way: one grouped aggregate for the
    category stats, a 1-row global mean broadcast as a cross join (never
    collected), and the shrunk mean computed as a projection. The output
    IS the encoding table a feature pipeline broadcast-joins back onto the
    fact rows — at 100 TB the categories stay tiny even when the facts
    don't."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.agg(
        (
            F.sum(F.col("l_discount").cast("decimal(28,10)")).cast("double")
            / F.count("*")
        ).alias("gmean")
    )
    per_cat = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_discount").cast("decimal(28,10)")).cast("double").alias("s"),
    )
    return per_cat.join(F.broadcast(g)).select(
        "l_returnflag",
        "n",
        ((F.col("s") + F.lit(10.0) * F.col("gmean")) / (F.col("n") + F.lit(10.0))).alias(
            "encoded"
        ),
    )


@register(
    "events_table_fingerprint",
    oracle="""
        -- Order-independent table checksum: per-row md5 over a canonical
        -- rendering, first 8 hex chars as a 32-bit int, decimal-summed.
        -- Two snapshots (on any engine, any row order) match iff the sums
        -- and counts match — the cheap cross-cluster audit primitive.
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(
                   CAST(concat('0x', substr(md5(
                       CAST(event_id AS VARCHAR) || '|' ||
                       CAST(user_id AS VARCHAR) || '|' ||
                       COALESCE(event_type, '') || '|' ||
                       strftime(ts, '%Y-%m-%d %H:%M:%S')
                   ), 1, 8)) AS BIGINT)
               AS DECIMAL(28,0))) % 2305843009213693951 AS BIGINT)
                   AS fingerprint
        FROM events
    """,
    description=(
        "order-independent table fingerprint (summed row hashes) — "
        "snapshot-equality audits across runs, engines, clusters"
    ),
    tags=("quality", "audit", "deterministic"),
)
def events_table_fingerprint(spark, sf_dir):
    """Did two pipelines produce the same table? Comparing 100 TB row-by-row
    needs a shuffle-heavy join; comparing (count, sum of row hashes) needs
    one scan and transfers 2 values. Addition is commutative, so the
    fingerprint is independent of row order and partitioning; md5 over a
    canonical '|'-joined rendering makes it engine-portable, and the
    decimal sum cannot overflow before ~10^19 rows. The timestamp is
    rendered as its naive wall-clock string (second precision) — unlike
    epoch arithmetic this never touches a session timezone, so any engine
    reading the same ntz values produces the same bytes. ``F.concat``
    (NULL-propagating, like SQL ``||``), not ``concat_ws`` (which silently
    DROPS null fields and would hash a different rendering than the
    oracle's)."""
    ev = load_table(spark, sf_dir, "events")
    canonical = F.concat(
        F.col("event_id").cast("string"),
        F.lit("|"),
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.coalesce(F.col("event_type"), F.lit("")),
        F.lit("|"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
    )
    row_hash = F.conv(F.substring(F.md5(canonical), 1, 8), 16, 10).cast(
        "decimal(28,0)"
    )
    # decimal sum internally (exact past bigint range), folded to a bigint
    # residue mod 2^61-1 on output: engines hand DataFrame consumers huge
    # decimals inconsistently (DuckDB->pandas goes through float64), and a
    # fixed-width fingerprint compares exactly everywhere
    fp = (F.sum(row_hash) % F.lit(2305843009213693951)).cast("bigint")
    return ev.agg(
        F.count("*").alias("n_rows"),
        fp.alias("fingerprint"),
    )


@register(
    "user_rfm_features",
    oracle="""
        -- Recency / frequency / monetary — the behavioral feature triple:
        -- one grouped pass + a broadcast 1-row corpus max for recency.
        WITH g AS (SELECT MAX(ts) AS mx FROM events)
        SELECT user_id,
               CAST(floor(epoch(g.mx)) AS BIGINT)
                   - CAST(floor(epoch(MAX(ts))) AS BIGINT) AS recency_s,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS monetary
        FROM events, g
        GROUP BY user_id, g.mx
    """,
    description=(
        "per-user RFM feature vector (recency vs corpus max, event count, "
        "decimal-exact value sum)"
    ),
    tags=("ml", "feature", "aggregation"),
)
def user_rfm_features(spark, sf_dir):
    """The churn-model feature builder: one shuffle on user_id for all
    three statistics, recency against a broadcast 1-row corpus max (never
    collected). Recency is a DIFFERENCE of epoch seconds, so session-tz
    offsets cancel between engines."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("mx"))
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("user_mx"),
        F.count("*").alias("frequency"),
        F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("monetary"),
    )
    return per_user.join(F.broadcast(g)).select(
        "user_id",
        (F.unix_timestamp("mx") - F.unix_timestamp("user_mx")).alias("recency_s"),
        "frequency",
        "monetary",
    )


@register(
    "join_key_skew_profile",
    oracle="""
        -- The decide-whether-to-salt diagnostic: per-key cardinality
        -- distribution of a join key. One grouped count, then 1-row stats
        -- over the (small) per-key table: max/median key share, exact
        -- interpolated p50/p99 of key counts.
        WITH per_key AS (
            SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM orders GROUP BY 1
        ),
        q AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(cnt) AS BIGINT) AS n_rows,
                   CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
                   quantile_cont(cnt, 0.5) AS p50,
                   quantile_cont(cnt, 0.99) AS p99
            FROM per_key
        )
        SELECT n_keys, n_rows, max_key_rows,
               CAST(max_key_rows AS DOUBLE) / n_rows AS top_key_share,
               p50 AS p50_key_rows, p99 AS p99_key_rows,
               p99 / p50 AS skew_ratio
        FROM q
    """,
    description=(
        "join-key skew diagnostic (per-key count distribution, top-key "
        "share, p99/p50 ratio) — the salting decision input"
    ),
    tags=("join", "skew", "quality"),
)
def join_key_skew_profile(spark, sf_dir):
    """Salting (relational.py::salted_join) costs a key-space blowup, so it
    should be a measured decision: this profile is one grouped count over
    the fact table plus a 1-row reduction over the per-key table. Exact
    interpolated quantiles via percentile() match DuckDB's quantile_cont
    definition (both linear interpolation)."""
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    q = per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_key_rows"),
        F.expr("percentile(cnt, 0.5)").alias("p50"),
        F.expr("percentile(cnt, 0.99)").alias("p99"),
    )
    return q.select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        (F.col("max_key_rows").cast("double") / F.col("n_rows")).alias(
            "top_key_share"
        ),
        F.col("p50").alias("p50_key_rows"),
        F.col("p99").alias("p99_key_rows"),
        (F.col("p99") / F.col("p50")).alias("skew_ratio"),
    )


@register(
    "events_zorder_keys",
    oracle="""
        -- Morton (Z-order) interleave of (user_id, second-of-day), the
        -- multi-dimension clustering key behind Z-ordered data layouts:
        -- sorting/range-partitioning by zkey co-locates rows close in BOTH
        -- dimensions, so parquet min/max zone maps prune on either
        -- predicate. Classic bit-spread with magic masks, 16 bits each.
        WITH dims AS (
            SELECT event_id,
                   user_id % 65536 AS a,
                   (date_part('hour', ts) * 3600
                    + date_part('minute', ts) * 60
                    + date_part('second', ts)) % 65536 AS b
            FROM events
        ),
        sa AS (
            SELECT event_id, b,
                   ((a | (a << 8)) & 16711935) AS a1
            FROM dims
        ),
        sa2 AS (
            SELECT event_id, b,
                   ((a1 | (a1 << 4)) & 252645135) AS a2
            FROM sa
        ),
        sa3 AS (
            SELECT event_id, b,
                   ((a2 | (a2 << 2)) & 858993459) AS a3
            FROM sa2
        ),
        sa4 AS (
            SELECT event_id, b,
                   ((a3 | (a3 << 1)) & 1431655765) AS sa
            FROM sa3
        ),
        sb AS (
            SELECT event_id, sa,
                   ((b | (b << 8)) & 16711935) AS b1
            FROM sa4
        ),
        sb2 AS (
            SELECT event_id, sa,
                   ((b1 | (b1 << 4)) & 252645135) AS b2
            FROM sb
        ),
        sb3 AS (
            SELECT event_id, sa,
                   ((b2 | (b2 << 2)) & 858993459) AS b3
            FROM sb2
        ),
        sb4 AS (
            SELECT event_id, sa,
                   ((b3 | (b3 << 1)) & 1431655765) AS sb
            FROM sb3
        )
        SELECT event_id, CAST(sa | (sb << 1) AS BIGINT) AS zkey
        FROM sb4
    """,
    description=(
        "Morton/Z-order clustering keys (bit-interleave of user x "
        "second-of-day) — the multi-dim data-layout primitive"
    ),
    tags=("storage", "layout", "deterministic"),
)
def events_zorder_keys(spark, sf_dir):
    """Z-ordered layouts are how a 100 TB table serves range predicates on
    TWO dimensions from one physical sort: write with
    ``repartitionByRange(zkey).sortWithinPartitions(zkey)`` and parquet
    zone maps prune on either user or time. The interleave is pure
    shift/mask projection (whole-stage codegen); the time dimension uses
    wall-clock second-of-day fields rather than epoch arithmetic so no
    session timezone enters the key."""
    def spread16(c):
        c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(16711935))
        c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(252645135))
        c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(858993459))
        return (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(1431655765))

    ev = load_table(spark, sf_dir, "events")
    a = (F.col("user_id") % 65536).cast("bigint")
    b = (
        (
            F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
        )
        % 65536
    ).cast("bigint")
    zkey = spread16(a).bitwiseOR(F.shiftleft(spread16(b), 1)).cast("bigint")
    return ev.select("event_id", zkey.alias("zkey"))


@register(
    "event_bigram_lift",
    oracle="""
        -- Sequential co-occurrence mining: how much more often does event
        -- type B directly follow A in a user's lane than chance predicts?
        -- lift = P(A->B) / (P(*->B)) over consecutive pairs. Ratios of
        -- counts only — no log/PMI, so the numbers hash identically on
        -- every engine.
        WITH seq AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ),
        pairs AS (
            SELECT prev_type AS a, event_type AS b,
                   CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        ),
        totals AS (
            SELECT CAST(SUM(n_ab) AS BIGINT) AS n_pairs FROM pairs
        ),
        b_tot AS (
            SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM pairs GROUP BY 1
        ),
        a_tot AS (
            SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM pairs GROUP BY 1
        )
        SELECT p.a, p.b, p.n_ab,
               (CAST(p.n_ab AS DOUBLE) / a_tot.n_a)
                   / (CAST(b_tot.n_b AS DOUBLE) / totals.n_pairs) AS lift
        FROM pairs p, totals
        JOIN a_tot ON a_tot.a = p.a
        JOIN b_tot ON b_tot.b = p.b
    """,
    description=(
        "consecutive event-type transition lift (P(B|A) / P(B)) — "
        "sequence-mining signal from one lag window + tiny joins"
    ),
    tags=("window", "aggregation", "sequence"),
)
def event_bigram_lift(spark, sf_dir):
    """Transition mining at scale: the only big-data pass is the lag window
    per user lane (one shuffle); everything after operates on the
    |event_types|^2 pair table, which is broadcast-sized however large the
    stream. Lift stays a ratio of counts — log-based PMI would put a
    not-correctly-rounded libm call between engines and break hash
    equality."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy(
        F.col("prev_type").alias("a"), F.col("event_type").alias("b")
    ).agg(F.count("*").alias("n_ab"))
    totals = pairs.agg(F.sum("n_ab").alias("n_pairs"))
    a_tot = pairs.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    b_tot = pairs.groupBy("b").agg(F.sum("n_ab").alias("n_b"))
    return (
        pairs.join(F.broadcast(a_tot), "a")
        .join(F.broadcast(b_tot), "b")
        .join(F.broadcast(totals))
        .select(
            "a",
            "b",
            "n_ab",
            (
                (F.col("n_ab").cast("double") / F.col("n_a"))
                / (F.col("n_b").cast("double") / F.col("n_pairs"))
            ).alias("lift"),
        )
    )


@register(
    "event_type_cooccurrence",
    oracle="""
        -- Market-basket co-occurrence: which event types appear together
        -- in the same user-day basket? Baskets are distinct (user, day,
        -- type) triples; the pair join is per-basket, so work is quadratic
        -- only in the (tiny) per-basket distinct-type count, never across
        -- baskets.
        WITH baskets AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type
            FROM events
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_baskets
        FROM baskets a
        JOIN baskets b ON a.user_id = b.user_id AND a.day = b.day
                       AND a.event_type < b.event_type
        GROUP BY 1, 2
    """,
    description=(
        "event-type co-occurrence in user-day baskets (market-basket "
        "pair counts; per-basket quadratic only)"
    ),
    tags=("aggregation", "join", "sequence"),
)
def event_type_cooccurrence(spark, sf_dir):
    """The itemset-mining primitive: distinct-ify to baskets first (one
    shuffle), then self-join WITHIN the basket key — the join's equi-keys
    are (user, day), so Spark plans a co-partitioned join whose fan-out is
    bounded by distinct types per basket (<= |event_types|), not by basket
    count."""
    ev = load_table(spark, sf_dir, "events")
    baskets = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    ).distinct()
    a = baskets.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = baskets.select("user_id", "day", F.col("event_type").alias("type_b"))
    return (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_baskets"))
    )


@register(
    "revenue_pareto_deciles",
    oracle="""
        -- Revenue concentration: how much of total spend does each
        -- customer decile carry? ntile over the (small) per-customer
        -- aggregate, never over the fact table; share against a broadcast
        -- total.
        WITH spend AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
                       AS spend
            FROM orders GROUP BY 1
        ),
        tiled AS (
            SELECT o_custkey, spend,
                   NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
            FROM spend
        ),
        tot AS (
            SELECT CAST(SUM(CAST(spend AS DECIMAL(28,10))) AS DOUBLE) AS t
            FROM spend
        )
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(spend AS DECIMAL(28,10))) AS DOUBLE) AS decile_spend,
               CAST(SUM(CAST(spend AS DECIMAL(28,10))) AS DOUBLE) / tot.t
                   AS revenue_share
        FROM tiled, tot
        GROUP BY decile, tot.t
    """,
    description=(
        "revenue concentration by customer decile (Pareto curve; window "
        "over the aggregate, not the facts)"
    ),
    tags=("aggregation", "window", "olap"),
)
def revenue_pareto_deciles(spark, sf_dir):
    """The who-carries-the-revenue curve: the NTILE runs over the
    per-customer aggregate (|customers| rows), never the order facts, and
    uses the DISTRIBUTED exact tiling (relational.global_ntile:
    range-repartition + local rank + broadcast prefix offsets) — the
    dimension itself scales with SF, so even the aggregate must never
    funnel through one reducer. Decimal-exact sums; ties broken by
    custkey so the tiling is deterministic."""
    from ..operators.relational import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,10)"))
        .cast("double")
        .alias("spend")
    )
    tiled = global_ntile(
        spend,
        10,
        [("spend", "desc"), ("o_custkey", "asc")],
        out="decile",
    )
    tot = spend.agg(
        F.sum(F.col("spend").cast("decimal(28,10)")).cast("double").alias("t")
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("spend").cast("decimal(28,10)"))
            .cast("double")
            .alias("decile_spend"),
        )
        .join(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            "decile_spend",
            (F.col("decile_spend") / F.col("t")).alias("revenue_share"),
        )
    )


@register(
    "fulfillment_latency_by_priority",
    oracle="""
        -- Order -> first-ship latency distribution per priority: the
        -- supply-chain SLA query. Latency in whole days (timestamp_ntz
        -- difference), exact interpolated quantiles.
        WITH lat AS (
            SELECT o.o_orderpriority,
                   CAST(date_diff('day', o.o_orderdate, MIN(l.l_shipdate))
                        AS BIGINT) AS days_to_first_ship
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               quantile_cont(days_to_first_ship, 0.5) AS p50_days,
               quantile_cont(days_to_first_ship, 0.95) AS p95_days,
               CAST(MAX(days_to_first_ship) AS BIGINT) AS max_days
        FROM lat
        GROUP BY 1
    """,
    description=(
        "order-to-first-ship latency quantiles per priority (SLA "
        "distribution; one join + two grouped passes)"
    ),
    tags=("join", "aggregation", "olap"),
)
def fulfillment_latency_by_priority(spark, sf_dir):
    """SLA analytics: per-order first-ship date (one co-keyed join +
    groupBy), then per-priority exact quantiles over the order-grain
    table. datediff on timestamp_ntz is calendar-day arithmetic in both
    engines — no timezone in the metric."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            "o_orderpriority",
            F.datediff(F.col("first_ship"), F.col("o_orderdate"))
            .cast("bigint")
            .alias("days_to_first_ship"),
        )
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.expr("percentile(days_to_first_ship, 0.5)").alias("p50_days"),
        F.expr("percentile(days_to_first_ship, 0.95)").alias("p95_days"),
        F.max("days_to_first_ship").alias("max_days"),
    )


@register(
    "referential_integrity_report",
    oracle="""
        -- Cross-table FK audit in long format: orphan counts per declared
        -- relationship. Each check is an anti-join count; the union is the
        -- report a pipeline gate reads.
        SELECT 'lineitem->orders' AS relation,
               CAST((SELECT COUNT(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey))
                    AS BIGINT) AS n_orphans
        UNION ALL
        SELECT 'orders->customer',
               CAST((SELECT COUNT(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey))
                    AS BIGINT)
        UNION ALL
        SELECT 'customer->nation',
               CAST((SELECT COUNT(*) FROM customer c
                     WHERE NOT EXISTS (SELECT 1 FROM nation n
                                       WHERE n.n_nationkey = c.c_nationkey))
                    AS BIGINT)
        UNION ALL
        SELECT 'events->customer',
               CAST((SELECT COUNT(*) FROM events e
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = e.user_id))
                    AS BIGINT)
    """,
    description=(
        "foreign-key orphan audit across the star schema (anti-join "
        "counts, long format) — the pipeline integrity gate"
    ),
    tags=("quality", "audit", "join"),
)
def referential_integrity_report(spark, sf_dir):
    """The write-gate audit a real pipeline runs before publishing a
    snapshot: every declared FK relationship becomes a left-anti join
    count (broadcast where the parent side is small). The fixture's
    events.user_id deliberately references only the first ~150 customers,
    so the report carries a real non-zero row at larger SFs
    (orphans = 0 everywhere would prove nothing — here orphan counts are 0
    for the TPC-H edges and 0 or more for events depending on SF, while
    the row COUNT stays 4 and values are hash-checked)."""
    from functools import reduce

    spark_tables = {
        t: load_table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "nation", "events")
    }

    def orphans(name, child, child_key, parent, parent_key):
        # one lazy anti-join count per relation — the final frame is a
        # UNION of 1-row aggregates, no driver-side loop materializes
        # anything
        return (
            child.join(
                parent.select(F.col(parent_key).alias(child_key)).distinct(),
                child_key,
                "left_anti",
            )
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(name).alias("relation"), "n_orphans")
        )

    parts = [
        orphans(
            "lineitem->orders",
            spark_tables["lineitem"].select("l_orderkey"),
            "l_orderkey",
            spark_tables["orders"],
            "o_orderkey",
        ),
        orphans(
            "orders->customer",
            spark_tables["orders"].select("o_custkey"),
            "o_custkey",
            spark_tables["customer"],
            "c_custkey",
        ),
        orphans(
            "customer->nation",
            spark_tables["customer"].select("c_nationkey"),
            "c_nationkey",
            spark_tables["nation"],
            "n_nationkey",
        ),
        orphans(
            "events->customer",
            spark_tables["events"].select(F.col("user_id")),
            "user_id",
            spark_tables["customer"],
            "c_custkey",
        ),
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


@register(
    "snapshot_diff_counts",
    oracle="""
        -- Table diff between two snapshots keyed on event_id: added /
        -- removed / changed / unchanged row counts via one full-outer join
        -- comparing canonical row hashes (the fingerprint primitive at row
        -- grain). Snapshot B is derived deterministically from A: rows
        -- where event_id % 97 = 0 deleted, values bumped where
        -- event_id % 101 = 0, and a shifted-id copy added where
        -- event_id % 103 = 0.
        WITH a AS (
            SELECT event_id,
                   md5(CAST(user_id AS VARCHAR) || '|' ||
                       COALESCE(event_type, '') || '|' ||
                       CAST(value AS VARCHAR)) AS h
            FROM events
        ),
        b_base AS (
            SELECT event_id, user_id, event_type,
                   CASE WHEN event_id % 101 = 0 THEN value + 1.0
                        ELSE value END AS value
            FROM events WHERE event_id % 97 <> 0
        ),
        b_added AS (
            SELECT event_id + 1000000000 AS event_id, user_id, event_type,
                   value
            FROM events WHERE event_id % 103 = 0
        ),
        b AS (
            SELECT event_id,
                   md5(CAST(user_id AS VARCHAR) || '|' ||
                       COALESCE(event_type, '') || '|' ||
                       CAST(value AS VARCHAR)) AS h
            FROM (SELECT * FROM b_base UNION ALL SELECT * FROM b_added)
        )
        SELECT
            CAST(SUM(CASE WHEN a.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_added,
            CAST(SUM(CASE WHEN b.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_removed,
            CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                          AND a.h <> b.h THEN 1 ELSE 0 END) AS BIGINT)
                AS n_changed,
            CAST(SUM(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT)
                AS n_unchanged
        FROM a FULL OUTER JOIN b ON a.event_id = b.event_id
    """,
    description=(
        "keyed snapshot diff (added/removed/changed/unchanged) via "
        "full-outer join on row hashes — the data-versioning audit"
    ),
    tags=("quality", "audit", "join"),
)
def snapshot_diff_counts(spark, sf_dir):
    """What changed between two table versions? One full-outer join on the
    key comparing canonical row hashes — at 100 TB both sides shuffle once
    on the same key and nothing else moves. Pairs with
    events_table_fingerprint: the fingerprint says WHETHER snapshots
    differ in O(1) transfer, this says HOW at row grain. Snapshot B is a
    deterministic perturbation of A (the fixtures ship one version), so
    every diff class is exercised with non-zero counts. Value renders via
    CAST(double AS VARCHAR) which both engines print with the same
    shortest-round-trip rules for these fixture values."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )

    def hashed(df):
        h = F.md5(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("|"),
                F.coalesce(F.col("event_type"), F.lit("")),
                F.lit("|"),
                F.col("value").cast("string"),
            )
        )
        return df.select("event_id", h.alias("h"))

    a = hashed(ev)
    b_base = ev.filter(F.col("event_id") % 97 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 101 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )
    b_added = ev.filter(F.col("event_id") % 103 == 0).withColumn(
        "event_id", F.col("event_id") + F.lit(1000000000)
    )
    b = hashed(b_base.unionByName(b_added))
    j = a.alias("a").join(
        b.alias("b"), F.col("a.event_id") == F.col("b.event_id"), "full_outer"
    )
    ah, bh = F.col("a.h"), F.col("b.h")
    return j.agg(
        F.sum(F.when(ah.isNull(), 1).otherwise(0)).alias("n_added"),
        F.sum(F.when(bh.isNull(), 1).otherwise(0)).alias("n_removed"),
        F.sum(
            F.when(ah.isNotNull() & bh.isNotNull() & (ah != bh), 1).otherwise(0)
        ).alias("n_changed"),
        F.sum(F.when(ah == bh, 1).otherwise(0)).alias("n_unchanged"),
    )


@register(
    "sliding_7d_distinct_users",
    oracle="""
        -- Exact trailing-7-day distinct users per day. Distinct counts
        -- don't sum across days, so the correct exact shape joins the
        -- (small) day x user table to its own trailing window and
        -- re-distincts — never touches raw events twice. The HLL rollup
        -- (distinct_users_hll_rollup) is the approximate sibling that
        -- avoids the window join at extreme cardinalities.
        WITH du AS (
            SELECT DISTINCT date_trunc('day', ts) AS day, user_id
            FROM events
        ),
        days AS (SELECT DISTINCT day FROM du)
        SELECT d.day,
               CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS distinct_users_7d
        FROM days d
        JOIN du u ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
        GROUP BY 1
    """,
    description=(
        "exact trailing-7-day distinct users (day-grain window re-distinct "
        "— the can't-sum-distincts shape; HLL rollup is the approx sibling)"
    ),
    tags=("window", "aggregation", "distinct"),
)
def sliding_7d_distinct_users(spark, sf_dir):
    """Sliding distinct counts are the classic trap: per-day distincts
    don't add. The exact distributed answer reduces raw events to the
    (day, user) grain FIRST — one pass over the facts — then the trailing
    window is a range join on that dimension-sized table followed by a
    re-distinct. At 100 TB the day-user table is |days| x |active users|,
    orders of magnitude under the fact volume; if even that is too wide,
    the mergeable-HLL rollup swaps exactness for union-able sketches."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct().alias("d")
    u = du.alias("u")
    return (
        days.join(
            u,
            (F.col("u.day") <= F.col("d.day"))
            & (F.col("u.day") >= F.col("d.day") - F.expr("INTERVAL 6 DAYS")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("distinct_users_7d"))
    )


@register(
    "events_hourly_seasonality",
    oracle="""
        -- Traffic seasonality grid: events per (day-of-week, hour-of-day)
        -- cell plus each cell's share of its weekday — the load-shape
        -- profile capacity planning and anomaly baselines read. Wall-clock
        -- calendar fields only, no epoch arithmetic.
        WITH g AS (
            SELECT dayofweek(ts) AS dow, date_part('hour', ts) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events
            GROUP BY 1, 2
        )
        SELECT dow, hour, n_events,
               CAST(n_events AS DOUBLE)
                   / SUM(n_events) OVER (PARTITION BY dow) AS share_of_dow
        FROM g
    """,
    description=(
        "hour-of-day x day-of-week seasonality grid with per-weekday "
        "shares (the load-shape baseline)"
    ),
    tags=("aggregation", "window", "olap"),
)
def events_hourly_seasonality(spark, sf_dir):
    """The baseline an anomaly detector compares against: one grouped count
    to the 7x24 grid (a constant-size aggregate at any volume), then the
    per-weekday share as a window over that tiny grid. DuckDB dayofweek()
    returns 0-6 Sunday-first; Spark's dayofweek() is 1-7 Sunday-first, so
    the Spark side subtracts 1 to align the calendars."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        (F.dayofweek("ts") - F.lit(1)).alias("dow"),
        F.hour("ts").alias("hour"),
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("dow")
    return g.select(
        "dow",
        "hour",
        "n_events",
        (F.col("n_events").cast("double") / F.sum("n_events").over(w)).alias(
            "share_of_dow"
        ),
    )


@register(
    "customer_tier_migration",
    oracle="""
        -- Cohort movement: spend-tercile transition matrix between the
        -- early era (pre-1998) and late era of the order history. Tiles
        -- run over the per-customer aggregates (dimension-sized);
        -- customers absent from an era land in tier 0.
        WITH early AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
                       AS spend
            FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY 1
        ),
        late AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
                       AS spend
            FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
            GROUP BY 1
        ),
        te AS (
            SELECT o_custkey,
                   NTILE(3) OVER (ORDER BY spend DESC, o_custkey) AS tier
            FROM early
        ),
        tl AS (
            SELECT o_custkey,
                   NTILE(3) OVER (ORDER BY spend DESC, o_custkey) AS tier
            FROM late
        )
        SELECT COALESCE(te.tier, 0) AS tier_early,
               COALESCE(tl.tier, 0) AS tier_late,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM te FULL OUTER JOIN tl ON te.o_custkey = tl.o_custkey
        GROUP BY 1, 2
    """,
    description=(
        "spend-tercile migration matrix between order-history eras "
        "(cohort movement; tiles over dimension-sized aggregates)"
    ),
    tags=("window", "join", "olap"),
)
def customer_tier_migration(spark, sf_dir):
    """Who moved up, who churned: tier each customer within each era by
    total spend (distributed exact NTILE over the per-customer aggregate
    — relational.global_ntile, deterministic custkey tie-break; the
    customer dimension scales with SF, so no single-reducer tiling), then
    full-outer join the two tier tables; era-absent customers surface as
    tier 0. At any fact volume the expensive work is the two grouped
    sums; everything after is dimension-scale."""
    from ..operators.relational import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp_ntz")

    def tiers(df):
        spend = df.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,10)"))
            .cast("double")
            .alias("spend")
        )
        return global_ntile(
            spend, 3, [("spend", "desc"), ("o_custkey", "asc")], out="tier"
        ).select("o_custkey", "tier")

    te = tiers(orders.where(F.col("o_orderdate") < cutoff)).withColumnsRenamed(
        {"o_custkey": "ck_e", "tier": "tier_e"}
    )
    tl = tiers(orders.where(F.col("o_orderdate") >= cutoff)).withColumnsRenamed(
        {"o_custkey": "ck_l", "tier": "tier_l"}
    )
    j = te.join(tl, te.ck_e == tl.ck_l, "full_outer")
    return j.groupBy(
        F.coalesce("tier_e", F.lit(0)).alias("tier_early"),
        F.coalesce("tier_l", F.lit(0)).alias("tier_late"),
    ).agg(F.count("*").alias("n_customers"))


@register(
    "order_backlog_over_time",
    oracle="""
        -- Open-order backlog per month: interval stabbing done as boundary
        -- events (+1 at placement, -1 after the last ship) and a prefix
        -- sum — never explodes an interval into its covered days. The
        -- running sum operates on the (tiny) distinct-boundary table.
        WITH spans AS (
            SELECT o.o_orderkey,
                   date_trunc('month', o.o_orderdate) AS start_m,
                   date_trunc('month', MAX(l.l_shipdate)) AS end_m
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        ),
        deltas AS (
            SELECT start_m AS m, 1 AS d FROM spans
            UNION ALL
            SELECT end_m + INTERVAL 1 MONTH, -1 FROM spans
        ),
        agg AS (
            SELECT m, CAST(SUM(d) AS BIGINT) AS delta FROM deltas GROUP BY 1
        )
        SELECT m AS month,
               CAST(SUM(delta) OVER (ORDER BY m
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS open_orders
        FROM agg
    """,
    description=(
        "open-order backlog per month via boundary deltas + prefix sum "
        "(interval stabbing without interval explosion)"
    ),
    tags=("window", "aggregation", "olap"),
)
def order_backlog_over_time(spark, sf_dir):
    """How many orders are in flight at each point in time? The naive plan
    explodes every order into its covered months; the scalable one emits
    two boundary deltas per order, aggregates them to the distinct-month
    grain (one shuffle over the facts), and prefix-sums the resulting
    ~tens-of-rows table — the global-order window costs nothing because it
    runs AFTER the reduction to time grain."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.date_trunc("month", F.col("o_orderdate")).alias("start_m"),
            F.date_trunc("month", F.col("last_ship")).alias("end_m"),
        )
    )
    deltas = spans.select(F.col("start_m").alias("m"), F.lit(1).alias("d")).unionAll(
        spans.select(
            F.add_months(F.col("end_m"), 1).cast("timestamp_ntz").alias("m"),
            F.lit(-1).alias("d"),
        )
    )
    agg = deltas.groupBy("m").agg(F.sum("d").alias("delta"))
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return agg.select(
        F.col("m").alias("month"),
        F.sum("delta").over(w).cast("bigint").alias("open_orders"),
    )


@register(
    "events_table_profile",
    oracle="""
        WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events)
        SELECT p.column, n.n_rows, p.n_nulls, p.n_distinct
        FROM n, (
            SELECT 'event_id' AS column,
                   CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
            FROM events
            UNION ALL
            SELECT 'user_id',
                   CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(COUNT(DISTINCT user_id) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'event_type',
                   CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(COUNT(DISTINCT event_type) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'value',
                   CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(COUNT(DISTINCT value) AS BIGINT)
            FROM events
        ) p
    """,
    description=(
        "one-pass data profile: per-column null/distinct counts, long format "
        "(exact distincts -> Expand; swap approx_count_distinct at scale)"
    ),
    tags=("profiling", "aggregation"),
)
def events_table_profile(spark, sf_dir):
    from ..operators.aggregations import profile_columns

    ev = load_table(spark, sf_dir, "events")
    return profile_columns(ev, ["event_id", "user_id", "event_type", "value"])


@register(
    "feature_correlations",
    oracle="""
        WITH m AS (
            SELECT COUNT(*) AS n,
                   SUM(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(28,10))) AS s_l_quantity,
                   SUM(CAST(CAST(l_extendedprice AS DOUBLE) AS DECIMAL(28,10))) AS s_l_extendedprice,
                   SUM(CAST(CAST(l_discount AS DOUBLE) AS DECIMAL(28,10))) AS s_l_discount,
                   SUM(CAST(CAST(l_tax AS DOUBLE) AS DECIMAL(28,10))) AS s_l_tax,
                   SUM(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE) AS DECIMAL(38,10))) AS sp_l_quantity__l_quantity,
                   SUM(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) AS DECIMAL(38,10))) AS sp_l_quantity__l_extendedprice,
                   SUM(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_discount AS DOUBLE) AS DECIMAL(38,10))) AS sp_l_quantity__l_discount,
                   SUM(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_tax AS DOUBLE) AS DECIMAL(38,10))) AS sp_l_quantity__l_tax,
                   SUM(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) AS DECIMAL(38,10))) AS sp_l_extendedprice__l_extendedprice,
                   SUM(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_discount AS DOUBLE) AS DECIMAL(38,10))) AS sp_l_extendedprice__l_discount,
                   SUM(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_tax AS DOUBLE) AS DECIMAL(38,10))) AS sp_l_extendedprice__l_tax,
                   SUM(CAST(CAST(l_discount AS DOUBLE) * CAST(l_discount AS DOUBLE) AS DECIMAL(38,10))) AS sp_l_discount__l_discount,
                   SUM(CAST(CAST(l_discount AS DOUBLE) * CAST(l_tax AS DOUBLE) AS DECIMAL(38,10))) AS sp_l_discount__l_tax,
                   SUM(CAST(CAST(l_tax AS DOUBLE) * CAST(l_tax AS DOUBLE) AS DECIMAL(38,10))) AS sp_l_tax__l_tax
            FROM lineitem
        )
        SELECT 'l_quantity' AS feat_x, 'l_extendedprice' AS feat_y, (CAST(n AS DOUBLE) * CAST(sp_l_quantity__l_extendedprice AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(sp_l_quantity__l_quantity AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_quantity AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sp_l_extendedprice__l_extendedprice AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE))) AS corr FROM m
        UNION ALL
        SELECT 'l_quantity' AS feat_x, 'l_discount' AS feat_y, (CAST(n AS DOUBLE) * CAST(sp_l_quantity__l_discount AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_discount AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(sp_l_quantity__l_quantity AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_quantity AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sp_l_discount__l_discount AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_discount AS DOUBLE))) AS corr FROM m
        UNION ALL
        SELECT 'l_quantity' AS feat_x, 'l_tax' AS feat_y, (CAST(n AS DOUBLE) * CAST(sp_l_quantity__l_tax AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_tax AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(sp_l_quantity__l_quantity AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_quantity AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sp_l_tax__l_tax AS DOUBLE) - CAST(s_l_tax AS DOUBLE) * CAST(s_l_tax AS DOUBLE))) AS corr FROM m
        UNION ALL
        SELECT 'l_extendedprice' AS feat_x, 'l_discount' AS feat_y, (CAST(n AS DOUBLE) * CAST(sp_l_extendedprice__l_discount AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_discount AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(sp_l_extendedprice__l_extendedprice AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sp_l_discount__l_discount AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_discount AS DOUBLE))) AS corr FROM m
        UNION ALL
        SELECT 'l_extendedprice' AS feat_x, 'l_tax' AS feat_y, (CAST(n AS DOUBLE) * CAST(sp_l_extendedprice__l_tax AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_tax AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(sp_l_extendedprice__l_extendedprice AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sp_l_tax__l_tax AS DOUBLE) - CAST(s_l_tax AS DOUBLE) * CAST(s_l_tax AS DOUBLE))) AS corr FROM m
        UNION ALL
        SELECT 'l_discount' AS feat_x, 'l_tax' AS feat_y, (CAST(n AS DOUBLE) * CAST(sp_l_discount__l_tax AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_tax AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(sp_l_discount__l_discount AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_discount AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sp_l_tax__l_tax AS DOUBLE) - CAST(s_l_tax AS DOUBLE) * CAST(s_l_tax AS DOUBLE))) AS corr FROM m
    """,
    description=(
        "Pearson correlation matrix in one pass (decimal-exact moments, "
        "double finish) — partitioning-independent, engine-reproducible"
    ),
    tags=("ml", "statistics"),
)
def feature_correlations(spark, sf_dir):
    from ..ml.pipeline import pairwise_correlations

    li = load_table(spark, sf_dir, "lineitem")
    return pairwise_correlations(li, list(_FEATURES))


# ---------------------------------------------------------------------------
# Classic OLAP shapes (TPC-H Q3/Q10 analogs on the synthetic schema —
# o_orderpriority stands in for Q3's o_shippriority; dates fit the
# fixtures' 1995-2001 range). Broadcast dims, decimal-exact revenue,
# deterministic tie-breaks.
# ---------------------------------------------------------------------------


@register(
    "unshipped_orders_topk",
    oracle="""
        SELECT l.l_orderkey,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(28,10))) AS DOUBLE) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY 1, 3, 4
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """,
    description=(
        "TPC-H Q3 analog: top unshipped-order revenue in a segment "
        "(selective dim filter pushed to the scan, AQE-sized dim join)"
    ),
    tags=("olap", "join", "topk"),
)
def unshipped_orders_topk(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "returned_items_customers",
    oracle="""
        SELECT c.c_custkey, c.c_name, n.n_name,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(28,10))) AS DOUBLE) AS revenue
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    description=(
        "TPC-H Q10 analog: customers ranked by returned-item revenue "
        "(fact filtered on the scan, AQE-sized customer join + broadcast "
        "nation, one agg shuffle)"
    ),
    tags=("olap", "join", "topk"),
)
def returned_items_customers(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "large_quantity_orders",
    oracle="""
        SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,10))) AS DOUBLE)
                   AS total_qty
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3
        HAVING SUM(CAST(l.l_quantity AS DECIMAL(28,10))) > 150
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 50
    """,
    description=(
        "TPC-H Q18 analog: orders whose summed line quantity clears a "
        "HAVING threshold (post-aggregation filter, deterministic top-k)"
    ),
    tags=("olap", "having"),
)
def large_quantity_orders(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,10)")).alias("q"))
        .filter(F.col("q") > 150)
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("q").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(50)
    )


@register(
    "events_window_counts_gapfilled",
    oracle="""
        WITH ev AS (
            SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-01 02:00:00'
        ),
        bounds AS (
            SELECT to_timestamp(floor(epoch(MIN(ts)) / 5) * 5) AS mn,
                   to_timestamp(floor(epoch(MAX(ts)) / 5) * 5) AS mx
            FROM ev
        ),
        spine AS (
            SELECT unnest(generate_series(mn, mx, INTERVAL 5 SECOND))
                AS bucket
            FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM ev),
        counts AS (
            SELECT to_timestamp(floor(epoch(ts) / 5) * 5) AS bucket,
                   event_type, COUNT(*) AS n
            FROM ev
            GROUP BY 1, 2
        )
        SELECT CAST(s.bucket AS TIMESTAMP) AS bucket_start,
               t.event_type,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
        FROM spine s
        CROSS JOIN types t
        LEFT JOIN counts c
          ON c.bucket = s.bucket AND c.event_type = t.event_type
    """,
    description=(
        "gap-filled resample: 5s calendar spine x event types, zero-filled "
        "buckets — 'no rows' becomes an explicit 0, not a missing row"
    ),
    tags=("window-agg", "resample", "gapfill"),
)
def events_window_counts_gapfilled(spark, sf_dir):
    """Calendar-spine gap fill. The spine is GENERATED from a 1-row
    min/max aggregate (sequence + explode on executors), never scanned or
    collected; the fill is a left join of spine x type against the real
    bucket counts. At 100 TB the spine stays proportional to the time
    range, not the data."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-01 02:00:00").cast("timestamp")
    )
    counts = ev.groupBy(
        F.window("ts", "5 seconds").start.alias("bucket"), "event_type"
    ).agg(F.count("*").alias("n"))
    floor5 = lambda c: F.timestamp_seconds(
        F.floor(F.unix_timestamp(c) / 5) * 5
    )
    bounds = ev.agg(
        floor5(F.min("ts")).alias("mn"), floor5(F.max("ts")).alias("mx")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 5 SECONDS"))
        ).alias("bucket")
    )
    types = ev.select("event_type").distinct()
    return (
        spine.crossJoin(F.broadcast(types))
        .join(counts, ["bucket", "event_type"], "left")
        .select(
            F.col("bucket").alias("bucket_start"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


@register(
    "events_dedup_time_window",
    oracle="""
        WITH b AS (
            SELECT event_id, user_id, event_type, ts,
                   to_timestamp(floor(epoch(ts) / 300) * 300) AS bucket
            FROM events
        ),
        r AS (
            SELECT event_id, user_id, event_type,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type, bucket
                       ORDER BY ts, event_id
                   ) AS rn
            FROM b
        )
        SELECT event_id, user_id, event_type
        FROM r WHERE rn = 1
    """,
    description=(
        "batch mirror of dropDuplicatesWithinWatermark: keep the first "
        "(user, type) occurrence per 5-minute bucket"
    ),
    tags=("dedup", "window"),
)
def events_dedup_time_window(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = ev.withColumn(
        "bucket", F.window("ts", "300 seconds").start
    )
    w = Window.partitionBy("user_id", "event_type", "bucket").orderBy(
        "ts", "event_id"
    )
    return (
        b.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type")
    )


@register(
    "events_resample_locf",
    oracle="""
        WITH ev AS (
            SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-01 02:00:00'
        ),
        bounds AS (
            SELECT to_timestamp(floor(epoch(MIN(ts)) / 5) * 5) AS mn,
                   to_timestamp(floor(epoch(MAX(ts)) / 5) * 5) AS mx
            FROM ev
        ),
        spine AS (
            SELECT unnest(generate_series(mn, mx, INTERVAL 5 SECOND))
                AS bucket
            FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM ev),
        agg AS (
            SELECT to_timestamp(floor(epoch(ts) / 5) * 5) AS bucket,
                   event_type,
                   CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                       / COUNT(value) AS avg_value
            FROM ev
            GROUP BY 1, 2
        )
        SELECT CAST(s.bucket AS TIMESTAMP) AS bucket_start,
               t.event_type,
               last_value(a.avg_value IGNORE NULLS) OVER (
                   PARTITION BY t.event_type
                   ORDER BY s.bucket
                   ROWS UNBOUNDED PRECEDING
               ) AS avg_value_ff
        FROM spine s
        CROSS JOIN types t
        LEFT JOIN agg a ON a.bucket = s.bucket AND a.event_type = t.event_type
    """,
    description=(
        "resample + forward fill: empty 5s buckets carry the last observed "
        "per-type mean (LOCF) — gap-fill's companion for continuous metrics"
    ),
    tags=("window-agg", "resample", "locf"),
)
def events_resample_locf(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-01 02:00:00").cast("timestamp")
    )
    agg = ev.groupBy(
        F.window("ts", "5 seconds").start.alias("bucket"), "event_type"
    ).agg(dec_avg("value", "avg_value"))
    floor5 = lambda c: F.timestamp_seconds(F.floor(F.unix_timestamp(c) / 5) * 5)
    bounds = ev.agg(
        floor5(F.min("ts")).alias("mn"), floor5(F.max("ts")).alias("mx")
    )
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 5 SECONDS"))).alias(
            "bucket"
        )
    )
    types = ev.select("event_type").distinct()
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.crossJoin(F.broadcast(types))
        .join(agg, ["bucket", "event_type"], "left")
        .select(
            F.col("bucket").alias("bucket_start"),
            "event_type",
            F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_ff"),
        )
    )


@register(
    "orders_priority_summary_sql",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        GROUP BY o_orderpriority
    """,
    description=(
        "SQL front door: the engine driven through plain spark.sql over "
        "registered views — same Catalyst plan as the DataFrame API"
    ),
    tags=("sql-surface", "aggregation"),
)
def orders_priority_summary_sql(spark, sf_dir):
    """Everything else in this registry uses the DataFrame builder API; this
    query registers the catalog tables as temp views and runs ANSI SQL text,
    proving a SQL-only user gets the identical engine (Catalyst compiles
    both to the same plan). The dialect delta vs the DuckDB oracle is nil
    here by construction."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
                   AS total_price
        FROM orders_v
        WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01'
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# OLAP analog pack 2 (declared §2.3/§2.4 parity): the remaining classic
# TPC-H query shapes expressible over the fixture schema — conditional-
# aggregate ratios (Q14), derived-aggregate self-joins (Q17), OR-of-ANDs
# pushdown predicates (Q19), scalar-subquery + anti-join (Q22) — plus IQR
# outlier detection.
# ---------------------------------------------------------------------------


@register(
    "promo_revenue_by_year",
    oracle="""
        -- TPC-H Q14 shape: conditional revenue ratio. Decimal-exact sums,
        -- DOUBLE ratio (DECIMAL ratio rounds differently across engines).
        SELECT
            CAST(year(l_shipdate) AS INT) AS ship_year,
            100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(28,10))
                    ELSE CAST(0 AS DECIMAL(28,10)) END) AS DOUBLE)
                / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(28,10))) AS DOUBLE)
                AS promo_pct,
            CAST(COUNT(*) AS BIGINT) AS n_lineitems
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1
    """,
    bench=True,
    description="conditional-aggregate ratio over a broadcast dim join (TPC-H Q14 shape)",
    tags=("join", "aggregation", "olap"),
)
def promo_revenue_by_year(spark, sf_dir):
    """Promotion revenue share per ship-year. The part side is pruned to
    keys+p_type and AQE broadcasts it while it fits — so at bench scale the
    fact table never shuffles before the single aggregation exchange — but
    part scales with SF (20B rows at 100 TB), so the hint is not forced:
    past the threshold the join degrades to a shuffle instead of an 8 GB
    hard failure."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    zero = F.lit(0).cast("decimal(28,10)")
    j = li.join(part.select("p_partkey", "p_type"),
                li.l_partkey == F.col("p_partkey"))
    return (
        j.groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
                    .cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_pct"),
            F.count("*").alias("n_lineitems"),
        )
    )


@register(
    "small_quantity_part_revenue",
    oracle="""
        -- TPC-H Q17 shape: lineitems below half their part's average
        -- quantity. The per-part average is decimal-exact (double AVG is
        -- accumulation-order-dependent, not reproducible across engines or
        -- partitionings).
        WITH pa AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE)
                       / COUNT(l_quantity) AS avg_qty
            FROM lineitem GROUP BY l_partkey
        )
        SELECT
            CAST(COUNT(*) AS BIGINT) AS n_small,
            CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,10))) AS DOUBLE)
                AS small_qty_revenue
        FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
        WHERE l.l_quantity < 0.5 * pa.avg_qty
    """,
    description="derived-aggregate self-join: below-half-average-quantity revenue (TPC-H Q17 shape)",
    tags=("join", "aggregation", "olap"),
)
def small_quantity_part_revenue(spark, sf_dir):
    """The correlated-subquery classic as a derived-aggregate join: aggregate
    lineitem per part, join back, filter, re-aggregate. The per-part
    aggregate is one row per partkey — orders of magnitude smaller than the
    fact table — and shares the fact table's join key, so AQE picks a
    broadcast once the agg output fits; no second scan of lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        dec_avg("l_quantity", "avg_qty")
    ).withColumnRenamed("l_partkey", "pa_partkey")
    j = li.join(pa, li.l_partkey == F.col("pa_partkey")).filter(
        F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty")
    )
    return j.agg(
        F.count("*").alias("n_small"),
        dec_sum("l_extendedprice", "small_qty_revenue"),
    )


@register(
    "brand_bucket_revenue",
    oracle="""
        -- TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.
        SELECT
            CAST(COUNT(*) AS BIGINT) AS n_lineitems,
            CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(28,10))) AS DOUBLE) AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    description="OR-of-ANDs multi-bucket predicate over a dim join (TPC-H Q19 shape)",
    tags=("join", "filter", "olap"),
)
def brand_bucket_revenue(spark, sf_dir):
    """Catalyst extracts the common part-side disjunction
    (brand IN (...) AND size <= 15) and pushes it into the part scan, so the
    broadcast side is pre-filtered before the join — check PushedFilters in
    the plan. The residual OR evaluates post-join in codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part.select("p_partkey", "p_brand", "p_size"),
                li.l_partkey == F.col("p_partkey"))
    q = F.col("l_quantity")
    pred = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 10)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 15)
           & q.between(20, 30))
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    return j.filter(pred).agg(
        F.count("*").alias("n_lineitems"),
        F.sum(rev).cast("double").alias("revenue"),
    )


@register(
    "idle_rich_customers",
    oracle="""
        -- TPC-H Q22 shape: scalar subquery (global positive-balance mean)
        -- + anti join (customers who never ordered), grouped by segment.
        WITH avg_bal AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE)
                       / COUNT(c_acctbal) AS v
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT
            c.c_mktsegment AS mktsegment,
            CAST(COUNT(*) AS BIGINT) AS n_customers,
            CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,10))) AS DOUBLE)
                AS total_acctbal
        FROM customer c, avg_bal
        WHERE c.c_acctbal > avg_bal.v
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY 1
    """,
    description="scalar-subquery threshold + anti join (TPC-H Q22 shape)",
    tags=("join", "aggregation", "olap"),
)
def idle_rich_customers(spark, sf_dir):
    """Above-average-balance customers with no RECENT orders (none since
    1999 — the fixture generator gives every customer at least one order
    overall, so the unrestricted Q22 'never ordered' form is empty at every
    SF and its oracle match would be vacuous). The global mean is a 1-row
    aggregate broadcast as a cross join (never collected to the driver);
    the no-recent-orders test is a left-anti join on the shuffle key both
    tables already share."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        dec_avg("c_acctbal", "v")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("v")
    )
    idle = rich.join(
        orders.where(
            F.col("o_orderdate")
            >= F.lit("1999-01-01").cast("timestamp_ntz")
        ).select("o_custkey"),
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return idle.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").alias("n_customers"),
        dec_sum("c_acctbal", "total_acctbal"),
    )


@register(
    "value_outliers_iqr",
    oracle="""
        -- Per-type Tukey-fence outlier counts. quantile_cont and Spark's
        -- percentile() both interpolate linearly; the driver's 12-sig-digit
        -- float rounding absorbs last-ulp interpolation differences.
        WITH q AS (
            SELECT event_type,
                   quantile_cont(value, 0.25) AS q1,
                   quantile_cont(value, 0.75) AS q3
            FROM events GROUP BY event_type
        )
        SELECT
            e.event_type,
            CAST(COUNT(*) AS BIGINT) AS n_events,
            CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                            OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
            q.q1, q.q3
        FROM events e JOIN q USING (event_type)
        GROUP BY e.event_type, q.q1, q.q3
    """,
    description="IQR (Tukey-fence) outlier detection per group — data-quality surface",
    tags=("aggregation", "quality"),
)
def value_outliers_iqr(spark, sf_dir):
    """Two-pass grouped outlier count: exact interpolated quartiles per
    event_type (a tiny aggregate, broadcast back onto the fact scan), then a
    conditional count against the Tukey fences. The quartile aggregate is
    per-group rows only, so the broadcast join adds no fact-side shuffle
    beyond the final per-group aggregation."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    j = ev.join(F.broadcast(q), "event_type")
    iqr = F.col("q3") - F.col("q1")
    is_out = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    return j.groupBy("event_type", "q1", "q3").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"),
    ).select("event_type", "n_events", "n_outliers", "q1", "q3")


@register(
    "stream_topk_alert_types",
    oracle="""
        -- threshold 200 ~= the fixtures' p99 value, so alerts exist at
        -- every SF (400 matched nothing at sf0.001 -> vacuous green)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_alerts
        FROM events WHERE value > 200
        GROUP BY 1
        ORDER BY n_alerts DESC, event_type
        LIMIT 5
    """,
    description="streaming alert leaderboard: filtered complete-mode agg + top-k (dashboard top-alerts mirror)",
    tags=("streaming", "topk"),
)
def stream_topk_alert_types(spark, sf_dir):
    """The reference dashboard's top-alerts table as a real streaming query
    (streamlit_dashboard.py:200-226 sorts a pandas ring buffer): filter the
    stream, maintain per-type counts in complete mode, take the top-k from
    the finished replay. On an unbounded stream the same plan serves the
    leaderboard from the state store each trigger."""
    from ..streaming.pipeline import events_stream, run_to_memory_sink

    s = events_stream(spark, sf_dir).filter(F.col("value") > 200)
    agg = s.groupBy("event_type").agg(F.count("*").alias("n_alerts"))
    res = run_to_memory_sink(agg)
    return res.orderBy(F.col("n_alerts").desc(), "event_type").limit(5)


@register(
    "corpus_pipeline_summary",
    oracle=f"""
        -- The composed training-corpus pipeline as ONE declarative plan:
        -- quality gate -> exact dedup (keep lowest doc_id per content hash)
        -- -> per-language kept-token accounting.
        WITH t AS (
            SELECT doc_id, lang, text, {_SQL_TOKENS} AS toks,
                   length(text) AS n
            FROM documents
        ), scored AS (
            SELECT
                doc_id, lang, text, len(toks) AS n_tokens,
                {_SQL_QUALITY_EXPR} AS quality
            FROM t
        ), q AS (
            SELECT doc_id, lang, text, n_tokens FROM scored
            WHERE {_sql_quality_gate()}
        ), d AS (
            SELECT md5(text) AS h, MIN(doc_id) AS keep_id FROM q GROUP BY 1
        ), k AS (
            SELECT q.* FROM q
            JOIN d ON md5(q.text) = d.h AND q.doc_id = d.keep_id
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM k GROUP BY lang
    """,
    bench=True,
    description="end-to-end corpus pipeline: quality gate -> exact dedup -> kept-token accounting",
    tags=("llm-data", "etl"),
)
def corpus_pipeline_summary(spark, sf_dir):
    """The whole pre-training data pipeline composed as one lazy plan —
    Catalyst fuses the quality gate into the scan, the dedup is a single
    hash shuffle on the content digest, and the final rollup reuses the
    already-shuffled rows. At 100 TB each stage would otherwise be a
    separate job with a materialization between; here nothing materializes
    until the summary."""
    from ..operators.text import quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        quality_score("text").alias("quality"),
        token_count("text").cast("bigint").alias("n_tokens"),
    )
    q = scored.filter(_quality_gate()).select("doc_id", "lang", F.md5("text").alias("h"), "n_tokens")
    # keep-lowest-id per content hash as ONE shuffle (window over h), not a
    # groupBy + join-back — the join would reshuffle the same key twice and
    # hash the text a second time
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    k = q.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return k.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register(
    "token_budget_selection",
    oracle=f"""
        -- Budgeted corpus selection: per language, take documents in
        -- quality-descending order until the running token total passes
        -- 10k. The greedy-under-budget primitive behind data-mixture
        -- recipes; the window partitions by language so selection
        -- distributes.
        WITH t AS (
            SELECT doc_id, lang, {_SQL_TOKENS} AS toks, length(text) AS n,
                   text
            FROM documents
        ), scored AS (
            SELECT doc_id, lang, len(toks) AS n_tokens,
                {_SQL_QUALITY_EXPR} AS quality
            FROM t
        ), runn AS (
            SELECT lang, doc_id, n_tokens, quality,
                   SUM(n_tokens) OVER (PARTITION BY lang
                                       ORDER BY quality DESC, doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND CURRENT ROW) AS cum_tokens
            FROM scored
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_selected,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_selected
        FROM runn
        WHERE cum_tokens <= 10000
        GROUP BY 1
    """,
    description=(
        "greedy quality-ordered selection under a per-language token "
        "budget (the data-mixture recipe primitive)"
    ),
    tags=("llm-data", "sampling", "window"),
)
def token_budget_selection(spark, sf_dir):
    """Data-mixture recipes cap each slice by token budget, filled best-
    first: one running-sum window per language partition over the doc-grain
    table (quality desc, doc_id tie-break — fully deterministic), then keep
    rows whose cumulative total fits. Selection distributes across
    languages; within a language the window is the price of the exact
    greedy order."""
    from pyspark.sql import Window

    from ..operators.text import quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        token_count("text").cast("bigint").alias("n_tokens"),
        quality_score("text").alias("quality"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runn = scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        runn.filter(F.col("cum_tokens") <= 10000)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_selected"),
            F.sum("n_tokens").alias("tokens_selected"),
        )
    )


@register(
    "corpus_yield_by_source",
    oracle=f"""
        -- Where does the corpus lose documents? Per-source yield through
        -- the pipeline stages: raw -> quality-pass -> dedup-kept. The
        -- stage definitions are EXACTLY corpus_pipeline_summary's, so this
        -- is the same pipeline viewed as a per-source funnel.
        WITH t AS (
            SELECT doc_id, source, text, {_SQL_TOKENS} AS toks,
                   length(text) AS n
            FROM documents
        ), scored AS (
            SELECT
                doc_id, source, text, len(toks) AS n_tokens,
                {_SQL_QUALITY_EXPR} AS quality
            FROM t
        ), q AS (
            SELECT doc_id, source, text FROM scored
            WHERE {_sql_quality_gate()}
        ), d AS (
            SELECT md5(text) AS h, MIN(doc_id) AS keep_id FROM q GROUP BY 1
        ), k AS (
            SELECT q.source FROM q
            JOIN d ON md5(q.text) = d.h AND q.doc_id = d.keep_id
        )
        SELECT r.source, r.n_raw,
               COALESCE(qq.n_quality, 0) AS n_quality,
               COALESCE(kk.n_kept, 0) AS n_kept,
               CAST(COALESCE(kk.n_kept, 0) AS DOUBLE) / r.n_raw AS yield_rate
        FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
              FROM documents GROUP BY 1) r
        LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_quality
                   FROM q GROUP BY 1) qq ON qq.source = r.source
        LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
                   FROM k GROUP BY 1) kk ON kk.source = r.source
    """,
    description=(
        "per-source pipeline yield funnel (raw -> quality-pass -> "
        "dedup-kept) — where the corpus loses documents"
    ),
    tags=("llm-data", "etl", "quality"),
)
def corpus_yield_by_source(spark, sf_dir):
    """The data-sourcing dashboard: which feeds survive the quality gate
    and dedup, and at what rate. Same lazy stage definitions as
    corpus_pipeline_summary, rolled up per source; the three stage counts
    are grouped aggregates over progressively smaller frames joined on the
    (tiny) source dimension."""
    from pyspark.sql import Window

    from ..operators.text import quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        quality_score("text").alias("quality"),
        token_count("text").cast("bigint").alias("n_tokens"),
    )
    q = scored.filter(_quality_gate()).select("doc_id", "source", F.md5("text").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    k = q.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    raw_c = docs.groupBy("source").agg(F.count("*").alias("n_raw"))
    q_c = q.groupBy("source").agg(F.count("*").alias("n_quality"))
    k_c = k.groupBy("source").agg(F.count("*").alias("n_kept"))
    return (
        raw_c.join(q_c, "source", "left")
        .join(k_c, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (
                F.coalesce("n_kept", F.lit(0)).cast("double") / F.col("n_raw")
            ).alias("yield_rate"),
        )
    )


@register(
    "revenue_share_by_segment",
    oracle="""
        -- share-of-total: window aggregate over a grouped aggregate
        WITH seg AS (
            SELECT c.c_mktsegment AS mktsegment,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,10)))
                        AS DOUBLE) AS revenue
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1
        )
        SELECT mktsegment, revenue,
               revenue / SUM(revenue) OVER () AS revenue_share
        FROM seg
    """,
    description="share-of-total via window-over-aggregate (percent-of-whole metric)",
    tags=("window", "aggregation"),
)
def revenue_share_by_segment(spark, sf_dir):
    """The unpartitioned window runs over the *aggregate* output (one row
    per segment), not the fact table — a single-partition pass over a
    handful of rows, which is the correct place to pay for a grand total."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    seg = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(dec_sum("o_totalprice", "revenue"))
    )
    w = Window.partitionBy()
    return seg.select(
        "mktsegment",
        "revenue",
        (F.col("revenue") / F.sum("revenue").over(w)).alias("revenue_share"),
    )


@register(
    "event_type_unpivot_roundtrip",
    oracle="""
        -- unpivot(pivot(x)) = x: the melt side of the pivot surface.
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1, 2
    """,
    description="unpivot/melt: wide per-type counts back to long (inverse of event_type_pivot)",
    tags=("aggregation", "pivot"),
)
def event_type_unpivot_roundtrip(spark, sf_dir):
    """Pivot to wide per-user counts, then unpivot back to long — proves the
    melt operator inverts the pivot exactly (absent combinations surface as
    NULL and are dropped, never fabricated zeros)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    wide = (
        ev.groupBy("user_id").pivot("event_type", types).count()
    )
    long = wide.unpivot(
        ["user_id"], types, "event_type", "n"
    ).filter(F.col("n").isNotNull())
    return long.select("user_id", "event_type", F.col("n").cast("bigint"))


@register(
    "vocab_coverage_top100",
    oracle="""
        -- tokenizer-design curve: share of all token occurrences covered by
        -- the top-k vocabulary entries, cumulatively.
        WITH c AS (
            SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT unnest(list_filter(
                      regexp_split_to_array(trim(text), '\\s+'),
                      tk -> tk <> '')) AS t
                  FROM documents)
            GROUP BY 1
        ),
        top AS (
            SELECT token, n FROM c ORDER BY n DESC, token LIMIT 100
        )
        SELECT token, n,
               CAST(SUM(n) OVER (ORDER BY n DESC, token
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   / (SELECT CAST(SUM(n) AS DOUBLE) FROM c) AS cum_coverage
        FROM top
    """,
    description="vocabulary coverage curve: cumulative corpus share of the top-100 tokens",
    tags=("text", "llm-data"),
)
def vocab_coverage_top100(spark, sf_dir):
    """Distributed top-k first (orderBy+limit is a per-partition top-k plus
    a k-row final merge), THEN the cumulative window over just those k rows
    — never a global-order window over the full vocabulary. The grand-total
    denominator rides a 1-row broadcast."""
    from pyspark.sql import Window

    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        # explode_outer + isNotNull: see operators/text.py (explode guard)
        docs.select(F.explode_outer(tokens("text")).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("double").alias("total_n"))
    top = counts.orderBy(F.col("n").desc(), "token").limit(100)
    w = (
        Window.partitionBy()
        .orderBy(F.col("n").desc(), "token")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.join(F.broadcast(total))
        .select(
            "token",
            "n",
            (F.sum("n").over(w).cast("double") / F.col("total_n")).alias(
                "cum_coverage"
            ),
        )
    )


@register(
    "doc_rare_token_stats",
    oracle="""
        -- OOV-style quality signal: how much of each document is made of
        -- corpus-rare tokens. All-integer aggregates (corpus frequencies),
        -- so fully engine-portable.
        WITH occ AS (
            SELECT doc_id, unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       tk -> tk <> '')) AS token
            FROM documents
        ),
        vocab AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
            FROM occ GROUP BY 1
        )
        SELECT o.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.freq <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rare,
               CAST(SUM(CASE WHEN v.freq <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS rare_frac,
               CAST(SUM(v.freq) AS DOUBLE) / COUNT(*) AS mean_token_freq
        FROM occ o JOIN vocab v USING (token)
        GROUP BY o.doc_id
    """,
    description="rare-token (OOV-style) quality signal: per-doc corpus-frequency stats",
    tags=("text", "quality", "llm-data"),
)
def doc_rare_token_stats(spark, sf_dir):
    """Gibberish and mojibake score high on rare_frac; templated text scores
    high on mean_token_freq. One explode of the corpus, a self-derived
    vocabulary joined back on the token key (shuffle keyed by token, heavy
    map-side combining — within-document repeats collapse before the
    shuffle), then a per-document rollup."""
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # explode_outer + isNotNull: see operators/text.py (explode guard)
    occ = docs.select(
        "doc_id", F.explode_outer(tokens("text")).alias("token")
    ).filter(F.col("token").isNotNull())
    vocab = occ.groupBy("token").agg(F.count("*").alias("freq"))
    j = occ.join(vocab, "token")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("freq") <= 2, 1).otherwise(0)).alias("n_rare"),
        (
            F.sum(F.when(F.col("freq") <= 2, 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("rare_frac"),
        (F.sum("freq").cast("double") / F.count("*")).alias("mean_token_freq"),
    )


@register(
    "top_revenue_suppliers",
    oracle="""
        -- TPC-H Q15 shape: argmax via join-to-max. The max is a 1-row
        -- scalar; ties (if any) all surface, exactly like the spec query.
        WITH sr AS (
            SELECT l_suppkey,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(28,10))) AS DOUBLE) AS total_rev
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, sr.total_rev
        FROM supplier s
        JOIN sr ON s.s_suppkey = sr.l_suppkey
        WHERE sr.total_rev = (SELECT MAX(total_rev) FROM sr)
    """,
    description="argmax via join-to-scalar-max (TPC-H Q15 shape)",
    tags=("join", "aggregation", "olap"),
)
def top_revenue_suppliers(spark, sf_dir):
    """Supplier(s) with the maximum revenue. The per-supplier aggregate is
    computed once and self-compared against its own 1-row max via a
    broadcast cross join — no second scan of lineitem, no driver-side
    collect of the max. Decimal-exact revenue so the equality predicate is
    reproducible (a float sum would make 'equal to the max' partitioning-
    dependent)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    sr = li.groupBy("l_suppkey").agg(
        F.sum(rev).cast("double").alias("total_rev")
    )
    mx = sr.agg(F.max("total_rev").alias("max_rev"))
    top = sr.join(F.broadcast(mx)).filter(
        F.col("total_rev") == F.col("max_rev")
    )
    return (
        supp.join(top, supp.s_suppkey == top.l_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "user_value_moving_avg",
    oracle="""
        -- RANGE frame over event time: trailing 1-hour mean per user.
        -- Decimal-quantized window sums: float accumulation order inside a
        -- moving frame is engine-specific, integers are not.
        SELECT user_id, event_id, ts,
               CAST(SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) OVER w
                    AS DOUBLE) / 1e6
                   / COUNT(*) OVER w AS trailing_1h_avg
        FROM events
        WHERE user_id < 50
        WINDOW w AS (
            PARTITION BY user_id ORDER BY epoch(ts)
            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
        )
    """,
    description="time-range window frame: trailing 1-hour per-user moving average",
    tags=("window", "timeseries"),
)
def user_value_moving_avg(spark, sf_dir):
    """The RANGE-frame member of the window family (§2.5): frames defined by
    event-time distance, not row counts — rows with sparse history average
    over fewer events. Value sums are floor-quantized to integers inside
    the frame so the result is independent of accumulation order (and of
    engine)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    vq = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        (
            F.sum(vq).over(w).cast("double") / 1e6 / F.count("*").over(w)
        ).alias("trailing_1h_avg"),
    )


@register(
    "user_event_type_sets",
    oracle="""
        -- collect_set surface. Arrays crash the driver canonicalizer
        -- (unhashable cells), so the set is rendered as an ordered
        -- comma-joined string — portable and hashable.
        SELECT user_id,
               string_agg(DISTINCT event_type, ',' ORDER BY event_type)
                   AS event_types,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        FROM events
        GROUP BY user_id
    """,
    description="grouped set aggregation (collect_set), order-canonical string rendering",
    tags=("aggregation",),
)
def user_event_type_sets(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(F.collect_set("event_type")), ","
        ).alias("event_types"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "value_trend_by_type",
    oracle="""
        -- OLS slope per group from the closed form over EXACT integer
        -- moments (quantized y, epoch-second x): both engines produce the
        -- same integers, so the final double division is bit-identical.
        -- The slope is shift-invariant, so session-timezone epoch offsets
        -- cancel exactly.
        WITH b AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS x,
                   CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS yq
            FROM events
        ), a AS (
            SELECT event_type,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM(CAST(x AS HUGEINT)) AS sx,
                   SUM(CAST(yq AS HUGEINT)) AS sy,
                   SUM(CAST(x AS HUGEINT) * yq) AS sxy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx
            FROM b GROUP BY 1
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n_events,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) / 1e6
                   AS slope_per_sec
        FROM a
    """,
    description="per-group OLS trend slope from exact integer moments (regression analytics)",
    tags=("aggregation", "timeseries"),
)
def value_trend_by_type(spark, sf_dir):
    """Single-pass grouped regression: five integer moments per group, all
    partial-aggregated map-side, slope assembled from the closed form. No
    second scan, no window. x is centered on a fixed epoch so the decimal
    moments stay far from the 38-digit cap at fixture span; at much larger
    time spans or group sizes center x per window first (the slope is
    shift-invariant, so centering never changes the answer)."""
    ev = load_table(spark, sf_dir, "events")
    x = (F.unix_timestamp("ts") - F.lit(1704067200)).cast("decimal(38,0)")
    yq = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("decimal(38,0)")
    a = ev.select("event_type", x.alias("x"), yq.alias("yq")).groupBy(
        "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("x").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("x") * F.col("yq")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_events").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # den == 0 when a group's timestamps are all identical (zero x
    # variance — a burst landing in one second): the slope is undefined.
    # Unguarded, ANSI mode throws DIVIDE_BY_ZERO and kills the job; NULL
    # matches DuckDB's x/0 semantics, so the oracle contract is unchanged.
    return a.select(
        "event_type",
        "n_events",
        F.when(den != 0, num / den / F.lit(1e6)).alias("slope_per_sec"),
    )


@register(
    "distinct_users_hll_rollup",
    oracle=None,  # DataSketches HLL estimates are engine-specific by nature;
    # the exact-count sibling distinct_user_stats carries the oracle row and
    # tests pin the estimates to within 5% of exact
    description="mergeable HLL sketch rollup: per-type estimates + global union WITHOUT recount",
    tags=("aggregation", "sketch"),
)
def distinct_users_hll_rollup(spark, sf_dir):
    """The 100 TB distinct-count story: per-group DataSketches HLL sketches
    are built in one pass, and the global cardinality is a UNION OF
    SKETCHES — never a second scan or a re-shuffle of raw user_ids. The
    same mergeability is what lets daily sketches roll into monthly ones
    at constant cost. Estimates are deterministic for a given input set
    (hash-based, insertion-order independent)."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_type = per.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("est_users"),
    )
    merged = per.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("__ALL__").alias("event_type"),
        F.hll_sketch_estimate("sk").alias("est_users"),
    )
    return per_type.unionByName(merged)


@register(
    "distinct_users_hll_rollup_portable",
    oracle="""
        SELECT
            event_type,
            CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
            TRUE AS est_within_bound
        FROM events
        GROUP BY 1
        UNION ALL
        SELECT
            '__ALL__',
            CAST(COUNT(DISTINCT user_id) AS BIGINT),
            TRUE
        FROM events
    """,
    description=(
        "HLL rollup accuracy contract, hash-checked: per-type exact "
        "distincts plus booleans pinning BOTH the per-type sketch estimate "
        "AND the union-of-sketches global estimate within 5% of exact — "
        "the oracle-checked sibling of distinct_users_hll_rollup"
    ),
    tags=("aggregation", "sketch", "deterministic"),
)
def distinct_users_hll_rollup_portable(spark, sf_dir):
    """The raw DataSketches estimates are engine-specific, but the rollup's
    CONTRACT is not: the merged-union estimate must track the true global
    cardinality the union never recounted. This sibling recounts exactly
    (on purpose — it is the verifier, not the scale path) and hash-checks
    the per-type and merged bounds as values; a broken sketch-merge would
    mismatch here instead of hiding behind a rows-only check. Estimates
    are deterministic for fixed input sets (hash-based, order-free), so
    the booleans are hash-stable."""
    bound = 0.05
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    per_type = per.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
            <= bound * F.col("exact_users")
        ).alias("est_within_bound"),
    )
    global_exact = ev.agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    merged = (
        per.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(F.broadcast(global_exact))  # both sides exactly 1 row
        .select(
            F.lit("__ALL__").alias("event_type"),
            "exact_users",
            (
                F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
                <= bound * F.col("exact_users")
            ).alias("est_within_bound"),
        )
    )
    return per_type.unionByName(merged)


@register(
    "value_quantiles_kll_rollup",
    oracle=None,  # DataSketches KLL quantile estimates are engine-specific;
    # the exact sibling value_percentiles_by_type carries the oracle row and
    # tests pin the estimates against exact quantiles
    description="mergeable KLL quantile sketch rollup: per-type quantiles + global merge WITHOUT rescan",
    tags=("aggregation", "sketch"),
)
def value_quantiles_kll_rollup(spark, sf_dir):
    """Quantiles at 100 TB, the mergeable way: per-group KLL sketches in one
    pass, the global distribution obtained by MERGING SKETCHES — never by
    re-sorting or rescanning values. Same rollup algebra as the HLL
    distinct-count sibling: daily sketches fold into monthly ones at
    constant cost."""
    ev = load_table(spark, sf_dir, "events")
    return _kll_quantile_rollup(ev)


_KLL_QS = (0.25, 0.5, 0.9)


def _kll_quantile_rollup(ev: DataFrame) -> DataFrame:
    """Shared sketch path for the rows-only rollup and its oracle-checked
    contract sibling: per-type KLL sketches + a merged ``__ALL__`` row,
    quantile estimates extracted from both."""
    per = ev.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value").alias("sk")
    )

    def quantiles(df):
        return df.select(
            "event_type",
            *[
                F.kll_sketch_get_quantile_double("sk", F.lit(q)).alias(
                    f"p{int(q * 100)}"
                )
                for q in _KLL_QS
            ],
        )

    merged = per.agg(F.kll_merge_agg_double("sk").alias("sk")).select(
        F.lit("__ALL__").alias("event_type"), "sk"
    )
    return quantiles(per).unionByName(quantiles(merged))


@register(
    "value_quantiles_kll_portable",
    oracle="""
        SELECT event_type,
               TRUE AS within_p25, TRUE AS within_p50, TRUE AS within_p90
        FROM (
            SELECT DISTINCT event_type FROM events
            UNION ALL SELECT '__ALL__'
        )
    """,
    description=(
        "KLL quantile-sketch ACCURACY CONTRACT, oracle-checked: every "
        "estimate's true rank within ±0.05·n of its target, per-type AND "
        "sketch-merged — the sibling of rows-only value_quantiles_kll_rollup"
    ),
    tags=("aggregation", "sketch", "deterministic"),
)
def value_quantiles_kll_portable(spark, sf_dir):
    """The KLL estimates themselves are sketch-internal (compaction uses
    randomized offsets) so they can't hash-match across engines — but the
    sketch's CONTRACT can be checked AS A VALUE, exactly like the HLL
    sibling (approx_distinct_users_portable): for each estimate v at
    quantile q over n values, rank_le(v) ≥ (q−ε)·n and rank_lt(v) ≤
    (q+ε)·n with ε = 0.05 — three times the k=200 sketch's ~1.65%
    two-sided guarantee, so the booleans are stable TRUE for any healthy
    implementation and flip on a broken merge or off-by-band rank. The
    rank counts come from one pass over the values joined against the
    6-row estimate table (broadcast — bounded by the event-type domain,
    not data-scaled); the ``__ALL__`` lane re-reads the fact once more,
    the audit-query cost of checking the MERGED sketch too."""
    eps = 0.05
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("value")
    )
    ests = _kll_quantile_rollup(ev)
    vals = ev.unionByName(
        ev.select(F.lit("__ALL__").alias("event_type"), "value")
    )
    pcols = [f"p{int(q * 100)}" for q in _KLL_QS]
    # count only non-null values: kll_sketch_agg_double ignores NULLs, so a
    # count(*) would inflate n against the sketch's population if the
    # fixture ever gained NULL value rows (ADVICE r14; identical on the
    # current all-non-null fixtures)
    g = vals.join(F.broadcast(ests), "event_type").groupBy("event_type").agg(
        F.count("value").alias("n"),
        *[
            F.sum(
                F.when(F.col("value") <= F.col(p), 1).otherwise(0)
            ).alias(f"le_{p}")
            for p in pcols
        ],
        *[
            F.sum(
                F.when(F.col("value") < F.col(p), 1).otherwise(0)
            ).alias(f"lt_{p}")
            for p in pcols
        ],
    )
    return g.select(
        "event_type",
        *[
            (
                (F.col(f"le_{p}") >= (q - eps) * F.col("n"))
                & (F.col(f"lt_{p}") <= (q + eps) * F.col("n"))
            ).alias(f"within_{p}")
            for q, p in zip(_KLL_QS, pcols)
        ],
    )


@register(
    "stream_events_by_segment",
    oracle="""
        SELECT c.c_mktsegment AS mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """,
    description="stream-static dimension join: streaming events enriched by a broadcast dim, then aggregated",
    tags=("streaming", "join"),
)
def stream_events_by_segment(spark, sf_dir):
    """The canonical streaming enrichment: each micro-batch joins against a
    static dimension (re-read per trigger, broadcast by Catalyst — no
    stream-side shuffle, no state store for the join itself), with the
    aggregation carrying the only streaming state."""
    from ..streaming.pipeline import events_stream, run_to_memory_sink

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    s = events_stream(spark, sf_dir)
    joined = s.join(cust, s.user_id == cust.c_custkey)
    agg = joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").alias("n_events")
    )
    return run_to_memory_sink(agg)


# ---------------------------------------------------------------------------
# OLAP pack II: the remaining TPC-H query shapes expressible on these tables
# (no partsupp/receiptdate in the fixtures, so Q9/Q21 use the documented
# deterministic adaptations). Each exercises a distinct distributed plan
# shape the pack didn't yet cover: nation-pair fact joins (Q7), conditional
# share-of-total (Q8), synthetic-cost profit rollup (Q9), distribution of
# group sizes including empty groups (Q13), sole-blame attribution over
# per-order supplier sets (Q21).
# ---------------------------------------------------------------------------


@register(
    "nation_trade_volume",
    oracle="""
        SELECT
            ns.n_name AS supp_nation,
            nc.n_name AS cust_nation,
            CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
            CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(28,10))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        WHERE ns.n_nationkey <> nc.n_nationkey
        GROUP BY 1, 2, 3
    """,
    description="TPC-H Q7 analog: cross-nation trade revenue by (supplier nation, customer nation, year)",
    tags=("olap", "join"),
)
def nation_trade_volume(spark, sf_dir):
    """Q7's plan shape: the fact table reaches two different nation lookups
    through independent foreign-key chains (supplier side, customer side).
    Both nation copies broadcast (25 rows at ANY scale); supplier is
    AQE-sized (it grows with SF — 1B rows at 100 TB); lineitem-orders and
    -customer stay shuffle joins on their keys — at 100 TB those plus the
    supplier join are the only exchanges, and the nation-pair filter is
    evaluated map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("ns_key") != F.col("nc_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "intra_region_supply_share",
    oracle="""
        WITH enriched AS (
            SELECT
                rc.r_name AS cust_region,
                CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(28,10)) AS rev,
                (rs.r_regionkey = rc.r_regionkey) AS intra
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation nc ON c.c_nationkey = nc.n_nationkey
            JOIN region rc ON nc.n_regionkey = rc.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            JOIN region rs ON ns.n_regionkey = rs.r_regionkey
        )
        SELECT cust_region, o_year,
               CAST(SUM(CASE WHEN intra THEN rev END) AS DOUBLE)
                   / CAST(SUM(rev) AS DOUBLE) AS intra_share,
               CAST(SUM(rev) AS DOUBLE) AS total_revenue
        FROM enriched
        GROUP BY 1, 2
    """,
    description="TPC-H Q8 analog: per (customer region, year), revenue share supplied from within the same region",
    tags=("olap", "join"),
)
def intra_region_supply_share(spark, sf_dir):
    """Q8's market-share shape without Q8's magic constants: share =
    conditional decimal sum / total decimal sum inside ONE grouped pass
    (no second scan, no join of two aggregates). All four dim hops ride
    broadcasts; the share division happens on exact decimal sums cast to
    double, so both engines compute bit-identical ratios."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_rkey")
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_regionkey").alias("ns_rkey")
    )
    rc = region.select(
        F.col("r_regionkey").alias("rc_key"), F.col("r_name").alias("cust_region")
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    enriched = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(rc), F.col("nc_rkey") == F.col("rc_key"))
        .withColumn("intra", F.col("ns_rkey") == F.col("nc_rkey"))
        .withColumn("rev", rev)
    )
    return enriched.groupBy(
        "cust_region", F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        (
            F.sum(F.when(F.col("intra"), F.col("rev"))).cast("double")
            / F.sum("rev").cast("double")
        ).alias("intra_share"),
        F.sum("rev").cast("double").alias("total_revenue"),
    )


@register(
    "profit_by_nation_year",
    oracle="""
        SELECT
            n.n_name AS nation,
            CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
            -- exact integer-cents arithmetic: money columns are 2-decimal
            -- and quantity integral, so cents recovered via IEEE-only ops
            -- (multiply/add/floor) make every row an exact integer and the
            -- sum engine-identical. A double profit cast to DECIMAL(28,10)
            -- is NOT portable: product doubles can terminate at exactly 11
            -- decimal digits, and Spark/DuckDB round those ties apart
            -- (diverged at sf0.1).
            CAST(SUM(CAST(
                CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l.l_discount * 100.0 + 0.5) AS BIGINT))
                - 60 * CAST(floor(p.p_retailprice * 100.0 + 0.5) AS BIGINT)
                    * CAST(floor(l.l_quantity + 0.5) AS BIGINT)
                AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS profit
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY 1, 2
    """,
    description="TPC-H Q9 analog: profit by supplier nation and year (synthetic cost 0.6*retailprice, no partsupp table)",
    tags=("olap", "join"),
)
def profit_by_nation_year(spark, sf_dir):
    """Q9's rollup with the fixture-available cost model: the fixtures carry
    no partsupp, so unit cost is DEFINED as 0.6 * p_retailprice — a
    deterministic stand-in preserving the query's shape (fact joined to
    part + supplier + nation, profit expression inside one grouped pass).
    part and supplier join AQE-sized (no forced hint): at bench scale both
    broadcast; at 100 TB they outgrow the threshold and degrade to shuffle
    joins on their keys with everything else unchanged.

    Determinism: profit rides as exact integer 1/10000-units — money
    columns recovered to cents and quantity to an integer with IEEE-only
    ops (multiply/add/floor, bit-identical across engines) so every row is
    an exact integer and the sum is engine-identical. The first cut of
    this query cast the per-row DOUBLE product to DECIMAL(28,10) and
    diverged from DuckDB at sf0.1: product doubles can be dyadic rationals
    terminating at exactly 11 decimal digits — a half-way tie Spark
    (HALF_UP) and DuckDB (half-even) round apart (same failure class as
    embedding_drift_by_dim's raw floats)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    def cents(c):
        return F.floor(F.col(c) * 100.0 + 0.5).cast("bigint")

    profit_units = (
        cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
        - F.lit(60) * cents("p_retailprice")
        * F.floor(F.col("l_quantity") + 0.5).cast("bigint")
    ).cast("decimal(38,0)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            (F.sum(profit_units).cast("double") / F.lit(10000.0)).alias(
                "profit"
            )
        )
    )


@register(
    "customer_order_count_distribution",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
            FROM customer c
            LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY 1
        )
        SELECT n_orders, COUNT(*) AS n_customers
        FROM per_cust
        GROUP BY 1
    """,
    description="TPC-H Q13 analog: distribution of customers by order count (zero-order customers included)",
    tags=("olap", "join", "aggregation"),
)
def customer_order_count_distribution(spark, sf_dir):
    """Q13's two-level shape: LEFT join so silent customers survive with
    n_orders = 0, first aggregation keyed on the customer, second on the
    count itself. The second groupBy's key cardinality is tiny (distinct
    order counts), so the heavy shuffle is only the first — same key the
    join already partitioned on, which AQE coalesces into one exchange."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@register(
    "sole_late_supplier_orders",
    oracle="""
        WITH lines AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS late
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        per_supp AS (
            SELECT l_orderkey, l_suppkey, BOOL_OR(late) AS supp_late
            FROM lines
            GROUP BY 1, 2
        ),
        per_order AS (
            SELECT l_orderkey,
                   COUNT(*) AS n_supp,
                   SUM(CASE WHEN supp_late THEN 1 ELSE 0 END) AS n_late_supp
            FROM per_supp
            GROUP BY 1
        )
        SELECT s.s_name AS supplier, COUNT(*) AS n_blamed_orders
        FROM per_supp ps
        JOIN per_order po ON ps.l_orderkey = po.l_orderkey
        JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        WHERE ps.supp_late AND po.n_supp >= 2 AND po.n_late_supp = 1
        GROUP BY 1
    """,
    description="TPC-H Q21 analog: suppliers solely to blame for lateness on multi-supplier orders (late = shipped >60d after order)",
    tags=("olap", "join", "window"),
)
def sole_late_supplier_orders(spark, sf_dir):
    """Q21 without correlated EXISTS/NOT EXISTS: the per-order supplier set
    collapses to two aggregation levels — (order, supplier) grain with a
    BOOL_OR of lateness, then order grain counting suppliers and late
    suppliers — and sole blame is a filter over the re-join of those two
    grains. No self-join of lineitem against itself: the fixtures carry no
    l_receiptdate/commitdate, so 'late' is DEFINED as shipped more than 60
    days after the order date (deterministic on these tables). The
    (order, supplier) aggregation reuses the orderkey partitioning of the
    join; only the tiny per-order table shuffles again."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum(F.when(F.col("supp_late"), 1).otherwise(0)).alias("n_late_supp"),
    )
    return (
        per_supp.join(per_order, "l_orderkey")
        .filter(
            F.col("supp_late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
        )
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier"))
        .agg(F.count("*").alias("n_blamed_orders"))
    )


# ---------------------------------------------------------------------------
# Round-4 additions: substring-dedup signal, temperature-sampled corpus
# mixing, deterministic training shuffle, and a MERGE INTO (CDC apply)
# analog. All declarative; scale notes on each operator's docstring.
# ---------------------------------------------------------------------------


@register(
    "doc_duplicate_ngram_windows",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\s+'),
                               t -> t <> '') AS tk
            FROM documents
        ),
        grams AS (
            SELECT t.doc_id, array_to_string(t.tk[i.i:i.i+7], ' ') AS gram
            FROM toks t,
                 LATERAL (SELECT unnest(range(1, len(t.tk) - 6)) AS i) i
        ),
        shared AS (
            SELECT gram FROM grams
            GROUP BY gram
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        flagged AS (
            SELECT g.doc_id,
                   CASE WHEN s.gram IS NOT NULL THEN 1 ELSE 0 END AS dup
            FROM grams g LEFT JOIN shared s USING (gram)
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(dup) AS BIGINT) AS dup_windows,
               CAST(SUM(dup) AS DOUBLE) / COUNT(*) AS dup_window_frac
        FROM flagged
        GROUP BY 1
    """,
    bench=True,
    description=(
        "substring-dedup signal: per-doc count/fraction of 8-token windows "
        "that also appear in another document"
    ),
    tags=("text", "dedup", "corpus"),
)
def doc_duplicate_ngram_windows(spark, sf_dir):
    """Cross-document duplicated window detection (the signal behind
    substring-level training-data dedup). The operator keys every window on
    xxhash64, so the oracle's string grouping and Spark's hash grouping agree
    up to 64-bit collisions."""
    from ..operators.text import duplicate_ngram_windows

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_ngram_windows(docs, "doc_id", "text", n=8)


@register(
    "corpus_temperature_mix",
    oracle=f"""
        WITH s AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens
            FROM documents
            GROUP BY 1
        )
        SELECT source, n_docs, n_tokens,
               POWER(n_docs, 0.3) / SUM(POWER(n_docs, 0.3)) OVER ()
                   AS weight,
               1e4 * POWER(n_docs, 0.3) / SUM(POWER(n_docs, 0.3)) OVER ()
                   AS expected_docs,
               1e4 * POWER(n_docs, 0.3) / SUM(POWER(n_docs, 0.3)) OVER ()
                   / n_docs AS oversample_factor
        FROM s
    """,
    description=(
        "temperature-sampled data mixture (alpha=0.3): per-source sampling "
        "weight, expected docs for a 10k budget, oversample factor"
    ),
    tags=("sampling", "corpus"),
)
def corpus_temperature_mix(spark, sf_dir):
    """Multilingual/multi-source mixture reweighting by count^alpha
    (temperature sampling, alpha=0.3 as in multilingual-LM training): rare
    sources are upsampled relative to their share, dominant sources
    downweighted. One grouped pass over the corpus; the unpartitioned window
    runs on the ALREADY-AGGREGATED per-source frame (a handful of rows at
    any corpus size), so the single-partition WindowExec is free."""
    from pyspark.sql import Window

    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
    )
    p = F.pow(F.col("n_docs").cast("double"), F.lit(0.3))
    tot = F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(0.3))).over(
        Window.partitionBy()
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        (p / tot).alias("weight"),
        (F.lit(1e4) * p / tot).alias("expected_docs"),
        (F.lit(1e4) * p / tot / F.col("n_docs")).alias("oversample_factor"),
    )


@register(
    "orders_cdc_merge_counts",
    oracle=f"""
        WITH t AS (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderdate < TIMESTAMP '2001-01-01'
        ),
        s AS (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderdate >= TIMESTAMP '2000-07-01'
        ),
        m AS (
            SELECT CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                        WHEN s.o_orderkey IS NULL THEN 'carryover'
                        ELSE 'update' END AS action,
                   COALESCE(s.o_totalprice, t.o_totalprice) AS price
            FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        )
        SELECT action,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_dec_sum("price", "total_price")}
        FROM m
        GROUP BY 1
    """,
    bench=True,
    description=(
        "MERGE INTO (CDC apply) analog: upsert a trailing-window refresh "
        "batch into an orders snapshot; action counts + exact checksum"
    ),
    tags=("table-ops", "cdc", "join"),
)
def orders_cdc_merge_counts(spark, sf_dir):
    """Lakehouse MERGE semantics on the fixture tables: the snapshot is
    orders before 2001, the refresh batch is the trailing 6 months plus the
    genuinely new 2001 orders — so all three MERGE branches (update /
    insert / carryover) are exercised. ``merge_upsert`` is one full-outer
    join on the key; see its docstring for the bucketed-target variant that
    removes the snapshot-side shuffle at 100 TB."""
    from ..operators.relational import merge_upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    target = orders.filter(F.col("o_orderdate") < "2001-01-01").drop(
        "o_orderdate"
    )
    source = orders.filter(F.col("o_orderdate") >= "2000-07-01").drop(
        "o_orderdate"
    )
    merged = merge_upsert(target, source, ["o_orderkey"])
    return merged.groupBy("action").agg(
        F.count("*").alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
    )


@register(
    "drift_psi_events",
    oracle="""
        WITH b AS (
            SELECT CAST(least(floor(value / 25.0), 8) AS BIGINT) AS bin,
                   (ts < TIMESTAMP '2024-01-16') AS a
            FROM events
        ),
        agg AS (
            SELECT bin,
                   CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
            FROM b GROUP BY 1
        ),
        tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM agg)
        SELECT bin, n_a, n_b,
               (n_a + 1.0) / (ta + 9.0) AS share_a,
               (n_b + 1.0) / (tb + 9.0) AS share_b,
               ((n_a + 1.0) / (ta + 9.0) - (n_b + 1.0) / (tb + 9.0))
                 * ln(((n_a + 1.0) / (ta + 9.0))
                      / ((n_b + 1.0) / (tb + 9.0))) AS psi_term
        FROM agg CROSS JOIN tot
    """,
    description=(
        "data-drift monitor: per-bin Population Stability Index terms for "
        "events.value between the first and second half of the month"
    ),
    tags=("ml", "monitoring", "aggregate"),
)
def drift_psi_events(spark, sf_dir):
    """Feature-drift detection between a reference and a live window — the
    monitoring pass a production scorer runs before trusting a model on new
    data. Binning is a pure projection (fixed-width + overflow bin, no
    quantile pass), so the whole query is one grouped aggregation with
    map-side combine; the totals ride a broadcast of the 9-row aggregate."""
    from ..operators.aggregations import population_stability

    ev = load_table(spark, sf_dir, "events")
    return population_stability(
        ev,
        "value",
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
        bin_width=25.0,
        n_bins=9,
    )


@register(
    "doc_unigram_logprob",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        freq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq)
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(ln(CAST(total AS DOUBLE))
                             - ln(CAST(cnt AS DOUBLE))
                             AS DECIMAL(28,10))) AS DOUBLE)
                   / COUNT(*) AS avg_neg_logprob
        FROM toks t
        JOIN freq USING (tok)
        CROSS JOIN tot
        GROUP BY 1
    """,
    bench=True,
    description=(
        "perplexity-proxy quality filter: per-doc mean negative log-prob "
        "under the corpus's own unigram LM"
    ),
    tags=("text", "quality", "corpus"),
)
def doc_unigram_logprob(spark, sf_dir):
    """Perplexity-style filtering without an external LM: score every doc by
    the mean -ln p(token) under the corpus's own unigram distribution (high
    = unusual vocabulary, low = boilerplate).

    Plan shape: ONE scan. The (doc, token)-grain reduce collapses
    within-doc repeats map-side, a count window over the token key turns
    that grain into the frequency table in place (no self-join — a
    freq-table join formulation scans the corpus 3x, measured in the
    plan), and the grand total is a 1-row count collected to a literal
    (the repo's documented scalar-stats pattern; embedding the total as a
    broadcast subplan re-evaluates the whole explode). The per-doc mean
    goes through the decimal-exact sum so the result is independent of
    accumulation order — reproducible at any partitioning."""
    from pyspark.sql import Window

    from ..functions.numeric import DEC
    from ..operators.text import token_count, tokens

    docs = load_table(spark, sf_dir, "documents")
    _t = docs.select(F.sum(token_count("text")).alias("t")).first()["t"]
    if _t is None:
        raise ValueError(
            "doc_unigram_logprob: empty documents table — the unigram "
            "distribution is undefined"
        )
    total = int(_t)
    dt = (
        # explode_outer + isNotNull: see operators/text.py (explode guard)
        docs.select("doc_id", F.explode_outer(tokens("text")).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    cnt = F.sum("c").over(Window.partitionBy("tok"))
    term = F.log(F.lit(float(total))) - F.log(cnt.cast("double"))
    # c rides as DECIMAL(9,0): decimal(28,10) x bigint would exceed Spark's
    # 38-digit cap and silently round the scale down (diverged from the
    # oracle at the 7th decimal); 28+9+1 = 38 keeps the product exact
    flagged = dt.select(
        "doc_id",
        "c",
        (F.col("c").cast("decimal(9,0)") * term.cast(DEC)).alias("__t"),
    )
    return flagged.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        (F.sum("__t").cast("double") / F.sum("c")).alias("avg_neg_logprob"),
    )


@register(
    "incremental_daily_agg_merge",
    oracle="""
        SELECT date_trunc('day', ts) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY 1
    """,
    description=(
        "incremental view maintenance: base daily aggregate + late delta "
        "batch merged by re-aggregating partial states (oracle = full "
        "recompute, so parity PROVES merge == recompute)"
    ),
    tags=("table-ops", "incremental", "aggregate"),
)
def incremental_daily_agg_merge(spark, sf_dir):
    """The maintain-don't-recompute shape for continuously-arriving data:
    the standing daily aggregate (events before Jan 24) is merged with the
    delta batch's partial aggregate by SUMMING PARTIAL STATES — counts add,
    decimal sums add exactly — instead of rescanning history. The oracle is
    the full recompute over everything, so the driver's hash compare proves
    the incremental path is exactly equivalent. At 100 TB the base
    aggregate is orders of magnitude smaller than its input; only the
    delta's days shuffle."""
    from ..functions.numeric import DEC

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "value",
        (F.col("ts") < F.lit("2024-01-24").cast("timestamp")).alias("base"),
    )

    def partial(df):
        return df.groupBy("day").agg(
            F.count("*").alias("pn"),
            F.sum(F.col("value").cast(DEC)).alias("pv"),
        )

    base = partial(ev.filter(F.col("base")))
    delta = partial(ev.filter(~F.col("base")))
    return (
        base.unionByName(delta)
        .groupBy("day")
        .agg(
            F.sum("pn").alias("n_events"),
            F.sum("pv").cast("double").alias("total_value"),
        )
    )


@register(
    "embedding_drift_by_dim",
    oracle="""
        WITH e AS (
            -- unnest + generate_subscripts in the SELECT list expand in
            -- lockstep (a FROM-clause UNNEST would cross-multiply them)
            SELECT (vec_id % 2 = 0) AS a,
                   CAST(unnest(embedding) AS DOUBLE) AS v,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings
        )
        , q AS (
            -- quantize to 1e-5 units with IEEE-only ops (multiply, add,
            -- floor): deterministic across engines, unlike a double ->
            -- DECIMAL cast whose half-way ties round differently (Spark
            -- HALF_UP vs DuckDB half-even; a float32 dyadic like
            -- -0.27392578125 terminates at exactly 11 decimal digits and
            -- IS such a tie)
            SELECT a, dim, CAST(floor(v * 100000.0 + 0.5) AS BIGINT) AS qv
            FROM e
        )
        SELECT CAST(dim AS BIGINT) AS dim,
               CAST(SUM(CASE WHEN a THEN qv END) AS DOUBLE)
                   / SUM(CASE WHEN a THEN 1 ELSE 0 END) / 100000.0
                   AS mean_a,
               CAST(SUM(CASE WHEN NOT a THEN qv END) AS DOUBLE)
                   / SUM(CASE WHEN a THEN 0 ELSE 1 END) / 100000.0
                   AS mean_b,
               abs(CAST(SUM(CASE WHEN a THEN qv END) AS DOUBLE)
                       / SUM(CASE WHEN a THEN 1 ELSE 0 END) / 100000.0
                   - CAST(SUM(CASE WHEN NOT a THEN qv END) AS DOUBLE)
                       / SUM(CASE WHEN a THEN 0 ELSE 1 END) / 100000.0)
                   AS abs_shift
        FROM q
        GROUP BY 1
    """,
    description=(
        "embedding-space drift: per-dimension mean shift between two "
        "cohorts (vec_id parity stands in for time slices)"
    ),
    tags=("ml", "monitoring", "array"),
)
def embedding_drift_by_dim(spark, sf_dir):
    """The vector-space companion to drift_psi_events: per-dimension means
    of two cohorts plus their absolute shift — the cheap first-line check
    that an embedding model (or its upstream text distribution) moved under
    a downstream index. One posexplode + one grouped pass keyed on the
    dimension index (fixed cardinality = n_dims, so the shuffle is tiny no
    matter how many vectors).

    Determinism: values are quantized to 1e-5 units via IEEE-only ops
    (multiply, add, floor — bit-identical across engines), then summed as
    exact integers. The usual decimal-exact-sum idiom is NOT safe here:
    double->DECIMAL(28,10) casts disagree between engines at half-way ties,
    and raw float32 embeddings are dyadic rationals whose decimal expansion
    can terminate at exactly 11 digits (e.g. -0.27392578125) — a genuine
    tie. Squared metrics (embedding_norms) are structurally immune because
    squaring doubles the binary fraction length past any 10-digit tie."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        (F.col("vec_id") % 2 == 0).alias("a"),
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "a",
        (F.col("dim0") + 1).cast("bigint").alias("dim"),
        F.floor(F.col("x").cast("double") * 100000.0 + 0.5)
        .cast("bigint")
        .alias("qv"),
    )
    scale = F.lit(100000.0)
    sum_a = F.sum(F.when(F.col("a"), F.col("qv"))).cast("double")
    sum_b = F.sum(F.when(~F.col("a"), F.col("qv"))).cast("double")
    n_a = F.sum(F.when(F.col("a"), 1).otherwise(0))
    n_b = F.sum(F.when(F.col("a"), 0).otherwise(1))
    mean_a = sum_a / n_a / scale
    mean_b = sum_b / n_b / scale
    return e.groupBy("dim").agg(
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        F.abs(mean_a - mean_b).alias("abs_shift"),
    )


@register(
    "label_balance_by_split",
    oracle=f"""
        WITH s AS (
            SELECT label,
                   CASE WHEN u < 0.8 THEN 'train'
                        WHEN u < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT label, {_SQL_HASH_U.format(key="vec_id")} AS u
                  FROM embeddings)
        )
        SELECT split, label,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) AS DOUBLE)
                   / SUM(COUNT(*)) OVER (PARTITION BY split) AS share_in_split
        FROM s
        GROUP BY 1, 2
    """,
    description=(
        "ML-data QA: class balance per deterministic train/val/test split "
        "(hash-keyed membership, so the audit is reproducible anywhere)"
    ),
    tags=("ml", "sampling", "quality"),
)
def label_balance_by_split(spark, sf_dir):
    """Split-balance audit — the pre-training check that a split didn't
    concentrate a class. Membership is the engine-portable md5-range split
    (a pure projection), so the whole audit is one grouped pass plus a
    window over the tiny (split x label) aggregate."""
    from pyspark.sql import Window

    from ..operators.relational import deterministic_split

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    s = deterministic_split(
        emb, "vec_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    agg = s.groupBy("split", "label").agg(F.count("*").alias("n"))
    w = Window.partitionBy("split")
    return agg.select(
        "split",
        "label",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias(
            "share_in_split"
        ),
    )


@register(
    "mlp_ae_training_curve",
    oracle=None,  # iterative nonlinear optimization — not SQL-expressible;
    # invariants (monotone loss under full-batch Adam at this lr, exact
    # reference architecture, beats the reference's recorded mse band on
    # its own train batch) are pinned by tests/test_training.py
    description=(
        "M7 exact-architecture parity: per-epoch loss of the reference's "
        "nonlinear AE (64-64-16-64-64 relu/linear, mse, full-batch Adam) "
        "trained via the parameter-server loop"
    ),
    tags=("ml", "training", "rows-only"),
)
def mlp_ae_training_curve(spark, sf_dir):
    """The reference's actual model family (train_autoencoder.py:34-51:
    Dense 64-relu -> 16-relu -> 64-relu -> linear output, mse loss, Adam)
    trained distributed: each epoch's full-batch loss + backprop gradient
    is ONE mapInPandas partial-sum aggregation; only the ~10k parameters
    (and Adam moments) live on the driver. Seeded Glorot init, no
    shuffling — the curve is deterministic and, at the Keras-default lr
    on this data, monotone decreasing (pinned by tests/test_training.py,
    which also checks the fit beats the reference's recorded 0.65-0.82
    mse_mean band on the reference's own train batch)."""
    from ..ml.training import fit_mlp_autoencoder

    emb = load_table(spark, sf_dir, "embeddings")
    feats = emb.select(
        F.transform("embedding", lambda v: v.cast("double")).alias("features")
    )
    res = fit_mlp_autoencoder(feats, dim=64, epochs=8, lr=1e-3)
    return spark.createDataFrame(
        [(i, l) for i, l in enumerate(res.losses)],
        "epoch bigint, train_loss double",
    )


@register(
    "doc_duplicate_ngram_spans",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\s+'),
                               t -> t <> '') AS tk
            FROM documents
        ),
        grams AS (
            SELECT t.doc_id, i.i AS pos,
                   array_to_string(t.tk[i.i:i.i+7], ' ') AS gram
            FROM toks t,
                 LATERAL (SELECT unnest(range(1, len(t.tk) - 6)) AS i) i
        ),
        shared AS (
            SELECT gram FROM grams
            GROUP BY gram
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        dup AS (
            SELECT g.doc_id, g.pos FROM grams g JOIN shared USING (gram)
        ),
        isl AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY pos) AS grp
            FROM dup
        )
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
               CAST(COUNT(*) AS BIGINT) AS n_windows
        FROM isl
        GROUP BY doc_id, grp
    """,
    description=(
        "substring-dedup span extraction: merged 1-based token spans of "
        "cross-document duplicated 8-gram windows (what dedup would cut)"
    ),
    tags=("text", "dedup", "corpus"),
)
def doc_duplicate_ngram_spans(spark, sf_dir):
    """Companion to doc_duplicate_ngram_windows that emits the REMOVABLE
    spans instead of counts; see
    operators/text.py::duplicate_ngram_spans for the exchange-reuse plan
    shape. Same xxhash64-vs-string collision trade as the counting query."""
    from ..operators.text import duplicate_ngram_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_ngram_spans(docs, "doc_id", "text", n=8)


@register(
    "stream_drift_psi",
    oracle="""
        WITH b AS (
            SELECT CAST(least(floor(value / 25.0), 8) AS BIGINT) AS bin,
                   (ts < TIMESTAMP '2024-01-16') AS a
            FROM events
        ),
        agg AS (
            SELECT bin,
                   CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
            FROM b GROUP BY 1
        ),
        tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM agg)
        SELECT bin, n_a, n_b,
               (n_a + 1.0) / (ta + 9.0) AS share_a,
               (n_b + 1.0) / (tb + 9.0) AS share_b,
               ((n_a + 1.0) / (ta + 9.0) - (n_b + 1.0) / (tb + 9.0))
                 * ln(((n_a + 1.0) / (ta + 9.0))
                      / ((n_b + 1.0) / (tb + 9.0))) AS psi_term
        FROM agg CROSS JOIN tot
    """,
    description=(
        "PSI drift monitor IN the stream: live-window bin counts "
        "accumulated per micro-batch against a static reference; same "
        "oracle as the batch monitor (count merge proves equivalence)"
    ),
    tags=("streaming", "ml", "monitoring"),
)
def stream_drift_psi(spark, sf_dir):
    """The production deployment shape of drift_psi_events: the reference
    window is a static aggregate computed once; the live window's bin
    counts accumulate per micro-batch in foreachBatch (per-bin counts are
    associative, so the accumulated totals are exactly the batch groupBy).
    Final shares/PSI go through the SAME projection the batch operator
    uses (psi_terms_from_counts) — bit-identical to the batch query and
    its oracle by construction. Driver state: one integer per bin."""
    from ..operators.aggregations import psi_terms_from_counts
    from ..streaming.pipeline import events_stream, run_binned_count_accumulator

    boundary = F.lit("2024-01-16").cast("timestamp")
    bin_c = F.least(F.floor(F.col("value") / F.lit(25.0)), F.lit(8)).cast(
        "bigint"
    )
    ref = dict(
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < boundary)
        .select(bin_c.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    live_stream = (
        events_stream(spark, sf_dir)
        .filter(F.col("ts") >= boundary)
        .select(bin_c.alias("bin"))
    )
    live = run_binned_count_accumulator(live_stream, "bin")
    agg = spark.createDataFrame(
        [
            (b, int(ref.get(b, 0)), int(live.get(b, 0)))
            for b in sorted(set(ref) | set(live))
        ],
        "bin bigint, n_a bigint, n_b bigint",
    )
    return psi_terms_from_counts(agg, n_bins=9)


@register(
    "token_cms_estimates",
    oracle=r"""
        WITH toks AS (
            SELECT unnest(list_filter(regexp_split_to_array(trim(text),
                                                            '\s+'),
                          t -> t <> '')) AS tok
            FROM documents
        ),
        exact AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n
            FROM toks GROUP BY 1
        ),
        cells AS (
            SELECT r.seed,
                   CAST(concat('0x', substr(md5(r.seed::VARCHAR || ':' || tok),
                                            1, 8)) AS BIGINT) % 1024 AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM toks CROSS JOIN (SELECT unnest(range(4)) AS seed) r
            GROUP BY 1, 2
        ),
        topk AS (
            SELECT tok, exact_n
            FROM exact
            QUALIFY ROW_NUMBER() OVER (ORDER BY exact_n DESC, tok) <= 20
        )
        SELECT t.tok AS token, t.exact_n,
               MIN(c.n) AS cms_estimate,
               MIN(c.n) - t.exact_n AS overestimate
        FROM topk t
        JOIN cells c
          ON c.bucket = CAST(concat('0x',
                 substr(md5(c.seed::VARCHAR || ':' || t.tok), 1, 8))
                 AS BIGINT) % 1024
        GROUP BY 1, 2
    """,
    description=(
        "count-min sketch heavy hitters: mergeable (seed, bucket) cell "
        "rollup + min-over-rows estimate vs exact count for the top-20 "
        "tokens (overestimate >= 0 by construction)"
    ),
    tags=("sketch", "text", "corpus"),
)
def token_cms_estimates(spark, sf_dir):
    """Count-min sketch as the mergeable heavy-hitter structure: the
    (seed, bucket) cell table is a fixed-size rollup (4 x 1024 cells
    regardless of corpus size) that merges across partitions, days, or
    corpora by simple addition — the same merge-don't-recount contract as
    the HLL/KLL rollups. The estimate for any token is min over its 4
    cells, always >= the true count. Hashes are the md5-prefix idiom
    (hash_uniform), so the sketch is engine-portable and the oracle checks
    estimate AND calibration (overestimate) exactly. One explode feeds
    both the exact counts and the cells; the top-k probe side is 20 rows,
    broadcast into the cell join."""
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # explode_outer + isNotNull: see operators/text.py (explode guard)
    toks = docs.select(
        F.explode_outer(tokens("text")).alias("tok")
    ).filter(F.col("tok").isNotNull())

    def bucket(seed_col, tok_col):
        h = F.md5(F.concat(seed_col.cast("string"), F.lit(":"), tok_col))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 1024

    seeded = toks.select(
        "tok",
        F.explode(
            F.array(*[F.lit(i).cast("bigint") for i in range(4)])
        ).alias("seed"),
    )
    cells = (
        seeded.select("seed", bucket(F.col("seed"), F.col("tok")).alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count("*").alias("n"))
    )
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    # deterministic top-k via TakeOrdered (distributed partial top-k per
    # partition), NOT a single-partition row_number window over the vocab;
    # the (exact_n DESC, tok) total order matches the oracle's tie rule
    topk = exact.orderBy(F.col("exact_n").desc(), F.col("tok")).limit(20)
    probe = topk.crossJoin(
        spark.range(4).select(F.col("id").cast("bigint").alias("seed"))
    ).select(
        "tok", "exact_n", "seed", bucket(F.col("seed"), F.col("tok")).alias("bucket")
    )
    return (
        F.broadcast(probe)
        .join(cells, ["seed", "bucket"])
        .groupBy(F.col("tok").alias("token"), "exact_n")
        .agg(
            F.min("n").alias("cms_estimate"),
            (F.min("n") - F.col("exact_n")).alias("overestimate"),
        )
    )


@register(
    "doc_span_dedup_savings",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, source,
                   list_filter(regexp_split_to_array(trim(text), '\s+'),
                               t -> t <> '') AS tk
            FROM documents
        ),
        grams AS (
            SELECT t.doc_id, i.i AS pos,
                   array_to_string(t.tk[i.i:i.i+7], ' ') AS gram
            FROM toks t,
                 LATERAL (SELECT unnest(range(1, len(t.tk) - 6)) AS i) i
        ),
        shared AS (
            SELECT gram FROM grams
            GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        isl AS (
            SELECT g.doc_id, g.pos,
                   g.pos - ROW_NUMBER() OVER (
                       PARTITION BY g.doc_id ORDER BY g.pos) AS grp
            FROM grams g JOIN shared USING (gram)
        ),
        spans AS (
            SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
            FROM isl GROUP BY doc_id, grp
        ),
        per_doc AS (
            SELECT doc_id, SUM(e - s + 1) AS rm FROM spans GROUP BY 1
        )
        SELECT t.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(t.tk)) AS BIGINT) AS total_tokens,
               CAST(SUM(COALESCE(p.rm, 0)) AS BIGINT) AS removable_tokens,
               CAST(SUM(COALESCE(p.rm, 0)) AS DOUBLE) / SUM(len(t.tk))
                   AS savings_frac
        FROM toks t
        LEFT JOIN per_doc p USING (doc_id)
        GROUP BY 1
    """,
    description=(
        "corpus-level value of substring dedup: per-source removable "
        "tokens (merged duplicated spans) vs total tokens"
    ),
    tags=("text", "dedup", "corpus"),
)
def doc_span_dedup_savings(spark, sf_dir):
    """The report a data-curation team reads before running span dedup:
    how many tokens each source would lose. Spans are disjoint per doc by
    construction (islands are merged), so per-doc removable tokens is a
    plain sum of span lengths; the rollup joins the one-row-per-doc span
    summary back to the corpus on the doc key and groups by source."""
    from ..operators.text import duplicate_ngram_spans, token_count

    docs = load_table(spark, sf_dir, "documents")
    docs_t = docs.select(
        "doc_id", "source", token_count("text").alias("nt")
    )
    spans = duplicate_ngram_spans(docs, "doc_id", "text", n=8)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("rm")
    )
    joined = docs_t.join(per_doc, "doc_id", "left")
    rm = F.sum(F.coalesce(F.col("rm"), F.lit(0)))
    # a source whose documents are ALL empty has total_tokens == 0: the
    # savings fraction is undefined — NULL (DuckDB's 0/0), not an ANSI
    # DIVIDE_BY_ZERO that kills the report
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("total_tokens"),
        rm.alias("removable_tokens"),
        F.when(F.sum("nt") > 0, rm.cast("double") / F.sum("nt")).alias(
            "savings_frac"
        ),
    )


@register(
    "discount_band_revenue",
    oracle="""
        SELECT
            CAST(SUM(CAST(
                CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                * CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)
            AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS promo_revenue,
            CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    description=(
        "TPC-H Q6 analog: revenue from a date/discount/quantity band "
        "filter, one scan-local aggregate (exact integer-cents product)"
    ),
    tags=("olap", "aggregate"),
)
def discount_band_revenue(spark, sf_dir):
    """Q6 is the canonical predicate-pushdown showcase: every filter
    reaches the parquet scan (PushedFilters on l_shipdate / l_discount /
    l_quantity), and the aggregate is scan-local — zero shuffles beyond
    the final 1-row combine. Revenue rides as the exact integer product
    of cents (e * d in 1/10000-units) summed in DECIMAL(38,0): the
    double product cast to DECIMAL is the dyadic-tie trap
    profit_by_nation_year hit at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem")

    def cents(c):
        return F.floor(F.col(c) * 100.0 + 0.5).cast("bigint")

    units = (cents("l_extendedprice") * cents("l_discount")).cast(
        "decimal(38,0)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(units).cast("double") / F.lit(10000.0)).alias(
                "promo_revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "corpus_manifest",
    oracle=f"""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars,
               CAST(SUM(CAST(concat('0x',
                   substr(md5(regexp_replace(lower(trim(text)),
                                             '\\s+', ' ', 'g')), 1, 8))
                   AS BIGINT)) AS BIGINT) AS content_checksum
        FROM documents
        GROUP BY 1
    """,
    description=(
        "dataset-card manifest: per-source doc/token/char counts + an "
        "order-independent content checksum (sum of fingerprint prefixes)"
    ),
    tags=("corpus", "quality", "deterministic"),
)
def corpus_manifest(spark, sf_dir):
    """The manifest a dataset release ships: counts plus a checksum that
    any engine reproduces and that row order can't perturb (a SUM of
    per-doc md5-prefix integers is associative — the same
    merge-of-partials property the sketches use). Two corpora with equal
    manifests have byte-identical normalized content per source; a single
    changed document moves the checksum. One grouped pass, all
    projections."""
    from ..operators.text import fingerprint, token_count

    docs = load_table(spark, sf_dir, "documents")
    fp_int = F.conv(F.substring(fingerprint("text"), 1, 8), 16, 10).cast(
        "bigint"
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(fp_int).alias("content_checksum"),
    )


@register(
    "stream_latest_state_merge",
    oracle="""
        SELECT user_id,
               event_id AS last_event_id,
               ts AS last_ts,
               event_type AS last_event_type,
               value AS last_value
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    description=(
        "streaming MERGE INTO loop: latest-per-user state table maintained "
        "per micro-batch; final snapshot equals the batch SCD1 view (same "
        "oracle as user_latest_state)"
    ),
    tags=("streaming", "cdc", "table-ops"),
)
def stream_latest_state_merge(spark, sf_dir):
    """The lakehouse streaming-upsert loop: each micro-batch compacts to
    its latest-per-key and MERGEs into a rotated parquet snapshot. Because
    ordering is by (ts, event_id) rather than arrival order, the final
    state is independent of how the replay split rows into batches — so
    this STREAMING query shares the batch SCD1 oracle verbatim. See
    streaming/pipeline.py::run_latest_state_merge."""
    from ..streaming.pipeline import events_stream, run_latest_state_merge

    state = run_latest_state_merge(
        events_stream(spark, sf_dir), "user_id", ["ts", "event_id"]
    )
    return state.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


@register(
    "events_k_anonymity_audit",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   date_trunc('day', ts) AS day,
                   CAST(floor(value / 50.0) AS BIGINT) AS value_band,
                   COUNT(*) AS grp_n
            FROM events
            GROUP BY 1, 2, 3
        )
        SELECT CAST(5 AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS small_groups,
               CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
                    AS BIGINT) AS rows_at_risk,
               CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
                    AS DOUBLE) / SUM(grp_n) AS at_risk_frac
        FROM g
    """,
    description=(
        "k-anonymity audit: quasi-identifier groups (type, day, value "
        "band) smaller than k=5 and the row fraction they expose"
    ),
    tags=("quality", "governance", "aggregate"),
)
def events_k_anonymity_audit(spark, sf_dir):
    """The release gate a governance pipeline runs before publishing an
    event-level dataset: rows in quasi-identifier groups smaller than k
    are re-identifiable. One grouped pass to the QI grain (map-side
    combined), then a constant-size rollup — no row ever leaves with its
    identity, just group sizes."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.floor(F.col("value") / 50.0).cast("bigint").alias("value_band"),
    ).agg(F.count("*").alias("grp_n"))
    small = F.col("grp_n") < 5
    risk = F.sum(F.when(small, F.col("grp_n")).otherwise(0))
    return g.agg(
        F.lit(5).cast("bigint").alias("k"),
        F.count("*").alias("n_groups"),
        F.sum(F.when(small, 1).otherwise(0)).alias("small_groups"),
        risk.alias("rows_at_risk"),
        (risk.cast("double") / F.sum("grp_n")).alias("at_risk_frac"),
    )


@register(
    "user_activity_entropy",
    oracle="""
        WITH c AS (
            SELECT user_id, event_type, COUNT(*) AS n
            FROM events
            GROUP BY 1, 2
        ),
        t AS (
            SELECT user_id, SUM(n) AS tot, COUNT(*) AS n_types
            FROM c GROUP BY 1
        )
        SELECT c.user_id,
               CAST(t.n_types AS BIGINT) AS n_types,
               CAST(SUM(CAST(-(CAST(n AS DOUBLE) / tot)
                             * ln(CAST(n AS DOUBLE) / tot)
                             AS DECIMAL(28,10))) AS DOUBLE) AS type_entropy
        FROM c
        JOIN t USING (user_id)
        GROUP BY 1, 2
    """,
    description=(
        "behavioral feature: per-user Shannon entropy over event-type "
        "distribution (0 = single-type bot-like, high = diverse)"
    ),
    tags=("ml", "feature", "aggregate"),
)
def user_activity_entropy(spark, sf_dir):
    """Diversity-of-behavior feature (a standard bot/engagement signal):
    -sum p ln p over each user's event-type mix. The (user, type) grain
    reduce collapses map-side; per-user totals come from a count window
    over that small grain (no fact re-scan, same pattern as
    doc_unigram_logprob); entropy terms go through the decimal-exact sum
    so the feature is partition-order independent."""
    from pyspark.sql import Window

    from ..functions.numeric import DEC

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id")
    tot = F.sum("n").over(w)
    n_types = F.count("*").over(w)
    p = F.col("n").cast("double") / tot
    flagged = c.select(
        "user_id",
        n_types.alias("n_types"),
        (-p * F.log(p)).cast(DEC).alias("__e"),
    )
    return flagged.groupBy("user_id", "n_types").agg(
        F.sum("__e").cast("double").alias("type_entropy")
    )


@register(
    "user_hashed_features",
    oracle="""
        WITH b AS (
            SELECT user_id,
                   CAST(concat('0x', substr(md5(event_type), 1, 8))
                        AS BIGINT) % 16 AS bucket
            FROM events
        )
        SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM b
        GROUP BY 1, 2
    """,
    description=(
        "hashing-trick categorical features: per-user md5-bucketed "
        "event-type counts (16 buckets, long format)"
    ),
    tags=("ml", "feature", "deterministic"),
)
def user_hashed_features(spark, sf_dir):
    """The hashing trick for unbounded-vocabulary categoricals: feature
    index = md5-prefix mod n_buckets, so the feature space is fixed-width
    no matter how many distinct values appear — no vocabulary fit pass,
    no dictionary to ship, new categories at inference time land in a
    bucket instead of erroring. Long format (user, bucket, n) pivots to a
    vector with the existing pivot machinery; the md5-prefix idiom makes
    training and serving compute identical indices on any engine. One
    grouped pass, map-side combined."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5("event_type"), 1, 8), 16, 10).cast("bigint")
        % 16
    )
    return ev.groupBy(
        "user_id", bucket.cast("bigint").alias("bucket")
    ).agg(F.count("*").alias("n"))


@register(
    "events_hourly_gapfill",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS h0,
                   date_trunc('hour', MAX(ts)) AS h1
            FROM events
        ),
        spine AS (
            SELECT t.event_type, s.h
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN bounds
            CROSS JOIN LATERAL (
                SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
            ) s
        ),
        obs AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                       / COUNT(value) AS avg_value
            FROM events
            GROUP BY 1, 2
        )
        SELECT sp.event_type, sp.h AS hour,
               COALESCE(o.n_events, 0) AS n_events,
               (o.n_events IS NULL) AS is_gap,
               last_value(o.avg_value IGNORE NULLS) OVER (
                   PARTITION BY sp.event_type ORDER BY sp.h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS avg_value_ffill
        FROM spine sp
        LEFT JOIN obs o ON sp.event_type = o.event_type AND sp.h = o.h
    """,
    description=(
        "time-series resample + gap-fill: hourly spine per event type, "
        "missing hours forward-filled (last observation carried forward)"
    ),
    tags=("timeseries", "window"),
)
def events_hourly_gapfill(spark, sf_dir):
    """Resampling with LOCF — the gap-fill every monitoring/feature
    pipeline needs before treating event data as a regular series. The
    hour spine is generated (sequence + explode over the per-type dim,
    never a join against a calendar table); observed hours reduce
    map-side to the (type, hour) grain; the spine join is against that
    tiny grain; forward-fill is ``last(ignorenulls)`` over a per-type
    window. Bounds ride as literals from a 1-row min/max read (the
    documented scalar-stats pattern). Leading gaps before the first
    observation stay NULL by definition on both engines."""
    from pyspark.sql import Window

    from ..functions.numeric import dec_avg

    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    ).first()
    if b["h0"] is None:
        raise ValueError(
            "empty events table — the hour spine bounds are undefined"
        )
    spine = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.lit(b["h0"]), F.lit(b["h1"]), F.expr("INTERVAL 1 HOUR")
                )
            ).alias("h"),
        )
    )
    obs = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count("*").alias("n_events"), dec_avg("value", "avg_value")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = spine.join(obs, ["event_type", "h"], "left")
    return joined.select(
        "event_type",
        F.col("h").alias("hour"),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias(
            "n_events"
        ),
        F.col("n_events").isNull().alias("is_gap"),
        F.last("avg_value", ignorenulls=True).over(w).alias(
            "avg_value_ffill"
        ),
    )


@register(
    "user_feature_store_row",
    oracle="""
        -- feature-store assembly: every per-user feature family joined on
        -- the entity key (all sides already reduced to one row per user)
        WITH g AS (SELECT MAX(ts) AS mx FROM events),
        base AS (
            SELECT user_id,
                   CAST(floor(epoch(g.mx)) AS BIGINT)
                       - CAST(floor(epoch(MAX(ts))) AS BIGINT) AS recency_s,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                       AS monetary,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*) AS error_rate
            FROM events, g
            GROUP BY user_id, g.mx
        ),
        c AS (
            SELECT user_id, event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ),
        t AS (SELECT user_id, SUM(n) AS tot, COUNT(*) AS n_types FROM c GROUP BY 1),
        ent AS (
            SELECT c.user_id,
                   CAST(t.n_types AS BIGINT) AS n_types,
                   CAST(SUM(CAST(-(CAST(n AS DOUBLE) / tot)
                                 * ln(CAST(n AS DOUBLE) / tot)
                                 AS DECIMAL(28,10))) AS DOUBLE) AS type_entropy
            FROM c JOIN t USING (user_id)
            GROUP BY 1, 2
        )
        SELECT b.user_id, b.recency_s, b.frequency, b.monetary,
               b.error_rate, e.n_types, e.type_entropy
        FROM base b JOIN ent e USING (user_id)
    """,
    description=(
        "feature-store row assembly: RFM + error rate + type diversity "
        "joined on the entity key (every side pre-reduced to one row/user)"
    ),
    tags=("ml", "feature", "join"),
)
def user_feature_store_row(spark, sf_dir):
    """What a feature store materializes per entity: several feature
    families, each computed at its natural grain, joined on the entity
    key AFTER reduction — the join moves one row per user per family, not
    events. Both paths shuffle on the user key, so the final join is
    co-partitioned; recency reuses the broadcast corpus-max; entropy
    reuses the window-over-grain shape (no fact re-scan)."""
    from pyspark.sql import Window

    from ..functions.numeric import DEC

    ev = load_table(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("mx"))
    base = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("user_mx"),
            F.count("*").alias("frequency"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("monetary"),
            (
                F.sum(
                    F.when(F.col("event_type") == "error", 1).otherwise(0)
                ).cast("double")
                / F.count("*")
            ).alias("error_rate"),
        )
        .join(F.broadcast(g))
        .select(
            "user_id",
            (F.unix_timestamp("mx") - F.unix_timestamp("user_mx")).alias(
                "recency_s"
            ),
            "frequency",
            "monetary",
            "error_rate",
        )
    )
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id")
    tot = F.sum("n").over(w)
    p = F.col("n").cast("double") / tot
    ent = (
        c.select(
            "user_id",
            F.count("*").over(w).alias("n_types"),
            (-p * F.log(p)).cast(DEC).alias("__e"),
        )
        .groupBy("user_id", "n_types")
        .agg(F.sum("__e").cast("double").alias("type_entropy"))
    )
    return base.join(ent, "user_id")


@register(
    "events_outage_intervals",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS h0,
                   date_trunc('hour', MAX(ts)) AS h1
            FROM events
        ),
        spine AS (
            SELECT t.event_type, s.h
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN bounds
            CROSS JOIN LATERAL (
                SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
            ) s
        ),
        obs AS (
            SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ),
        gaps AS (
            SELECT sp.event_type, sp.h,
                   ROW_NUMBER() OVER (
                       PARTITION BY sp.event_type ORDER BY sp.h) AS rn
            FROM spine sp
            LEFT JOIN obs o ON sp.event_type = o.event_type AND sp.h = o.h
            WHERE o.n IS NULL
        )
        SELECT event_type,
               MIN(h) AS outage_start,
               MAX(h) + INTERVAL 1 HOUR AS outage_end,
               CAST(COUNT(*) AS BIGINT) AS n_silent_hours
        FROM (
            SELECT event_type, h,
                   h - to_hours(rn) AS grp
            FROM gaps
        )
        GROUP BY event_type, grp
    """,
    description=(
        "ops monitor: contiguous silent-hour intervals per event type "
        "(gap spine -> islands), the data-outage detector"
    ),
    tags=("timeseries", "monitoring", "window"),
)
def events_outage_intervals(spark, sf_dir):
    """'The pipeline went quiet' detector: hours with zero events for a
    type, coalesced into contiguous outage intervals via gaps-and-islands
    on the generated hour spine (island key = hour minus row_number
    hours — the timestamp flavor of the span-merge used by
    duplicate_ngram_spans). Interval end is exclusive. Everything runs on
    the tiny (type, hour) grain."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    ).first()
    if b["h0"] is None:
        raise ValueError(
            "empty events table — the hour spine bounds are undefined"
        )
    spine = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.lit(b["h0"]), F.lit(b["h1"]), F.expr("INTERVAL 1 HOUR")
                )
            ).alias("h"),
        )
    )
    obs = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("n"))
    gaps = (
        spine.join(obs, ["event_type", "h"], "left")
        .filter(F.col("n").isNull())
        .select(
            "event_type",
            "h",
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("h"))
            .alias("rn"),
        )
    )
    grp = F.col("h") - F.make_interval(hours=F.col("rn"))
    return (
        gaps.withColumn("grp", grp)
        .groupBy("event_type", "grp")
        .agg(
            F.min("h").alias("outage_start"),
            (F.max("h") + F.expr("INTERVAL 1 HOUR")).alias("outage_end"),
            F.count("*").alias("n_silent_hours"),
        )
        .drop("grp")
    )


@register(
    "corpus_boilerplate_ngrams",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\s+'),
                               t -> t <> '') AS tk
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT t.doc_id,
                   array_to_string(t.tk[i.i:i.i+7], ' ') AS gram
            FROM toks t,
                 LATERAL (SELECT unnest(range(1, len(t.tk) - 6)) AS i) i
        ),
        df_ AS (
            SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_freq
            FROM grams GROUP BY 1
        )
        SELECT gram, doc_freq
        FROM df_
        WHERE doc_freq >= 3
        ORDER BY doc_freq DESC, gram
        LIMIT 25
    """,
    description=(
        "boilerplate report: the 8-grams appearing in the most documents "
        "(doc-frequency >= 3), human-readable top offenders"
    ),
    tags=("text", "dedup", "quality"),
)
def corpus_boilerplate_ngrams(spark, sf_dir):
    """The readable companion to the hashed substring-dedup path: which
    window TEXTS recur across documents (headers, footers, disclaimers —
    the strings a curation team actually greps for). This reporting query
    deliberately groups on the gram string (the output needs it); the
    flagging/removal path (duplicate_ngram_windows / spans) stays on
    8-byte hashes. Per-doc DISTINCT grams collapse in the array domain
    before the explode, so the doc-frequency groupBy sees each (doc,
    gram) once; top-k is TakeOrdered with a deterministic tie rule."""
    from ..operators.text import ngrams, tokens

    docs = load_table(spark, sf_dir, "documents")
    # explode_outer + isNotNull: see operators/text.py (explode guard)
    g = docs.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(ngrams(tokens("text"), 8))
        ).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    df_ = g.groupBy("gram").agg(F.count("*").alias("doc_freq"))
    return (
        df_.filter(F.col("doc_freq") >= 3)
        .orderBy(F.col("doc_freq").desc(), "gram")
        .limit(25)
    )


@register(
    "value_impute_by_group",
    oracle="""
        -- deterministic holes: every 7th event loses its value, then gets
        -- imputed with the PER-TYPE mean of the surviving values
        WITH holes AS (
            SELECT event_id, event_type,
                   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
            FROM events
        ),
        stats AS (
            SELECT event_type,
                   CAST(SUM(CAST(v AS DECIMAL(28,10))) AS DOUBLE)
                       / COUNT(v) AS grp_mean
            FROM holes
            GROUP BY 1
        )
        SELECT h.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN h.v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_imputed,
               CAST(SUM(CAST(COALESCE(h.v, s.grp_mean) AS DECIMAL(28,10)))
                    AS DOUBLE) AS imputed_sum
        FROM holes h
        JOIN stats s USING (event_type)
        GROUP BY 1
    """,
    description=(
        "ML-prep imputation: nulls filled with the per-group mean "
        "(broadcast stats join), checksummed per group"
    ),
    tags=("ml", "cleaning", "aggregate"),
)
def value_impute_by_group(spark, sf_dir):
    """Group-statistic imputation — the fill strategy that preserves
    per-group distributions where a global constant fill (P8) would smear
    them. Holes are planted deterministically (every 7th event), the
    surviving values fit a per-type decimal-exact mean, and the tiny
    stats table broadcasts into the fill join — the train/serve-safe
    shape: the SAME stats row fills any future batch. The checksum goes
    through the decimal sum so the oracle comparison is exact."""
    from ..functions.numeric import DEC

    ev = load_table(spark, sf_dir, "events")
    holes = ev.select(
        "event_type",
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    stats = holes.groupBy("event_type").agg(
        (F.sum(F.col("v").cast(DEC)).cast("double") / F.count("v")).alias(
            "grp_mean"
        )
    )
    filled = holes.join(F.broadcast(stats), "event_type")
    return filled.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_imputed"),
        F.sum(F.coalesce(F.col("v"), F.col("grp_mean")).cast(DEC))
        .cast("double")
        .alias("imputed_sum"),
    )


@register(
    "customer_cohort_ltv_curve",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey,
                   date_trunc('month', MIN(o_orderdate)) AS cohort
            FROM orders
            GROUP BY 1
        ),
        spend AS (
            SELECT f.cohort,
                   CAST(date_diff('month', f.cohort,
                        date_trunc('month', o.o_orderdate)) AS BIGINT)
                       AS age_months,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,10)))
                        AS DECIMAL(38,10)) AS m_spend
            FROM orders o
            JOIN firsts f ON o.o_custkey = f.o_custkey
            GROUP BY 1, 2
        )
        SELECT cohort, age_months,
               CAST(m_spend AS DOUBLE) AS month_spend,
               CAST(SUM(m_spend) OVER (
                   PARTITION BY cohort ORDER BY age_months
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS cum_spend
        FROM spend
    """,
    description=(
        "cohort LTV curve: cumulative spend by months-since-first-order "
        "per acquisition cohort"
    ),
    tags=("analytics", "window", "aggregate"),
)
def customer_cohort_ltv_curve(spark, sf_dir):
    """The acquisition-quality curve: customers grouped by first-order
    month, spend accumulated along cohort age. Cohort assignment is one
    keyed aggregate joined back on the customer key (co-partitioned with
    the spend reduce); the cumulative window runs over the tiny
    (cohort, age) grain. The running sum stays DECIMAL until the final
    projection, so partial-sum order can't perturb it."""
    from pyspark.sql import Window

    from ..functions.numeric import DEC

    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    spend = (
        orders.join(firsts, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", F.col("o_orderdate")), F.col("cohort")
            )
            .cast("bigint")
            .alias("age_months"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("m_spend"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spend.select(
        "cohort",
        "age_months",
        F.col("m_spend").cast("double").alias("month_spend"),
        F.sum("m_spend").over(w).cast("double").alias("cum_spend"),
    )


@register(
    "supplier_concentration_hhi",
    oracle="""
        -- Herfindahl index on EXACT integer-cents revenue: shares are
        -- rationals r_i/T, so HHI = sum(r_i^2)/T^2 computes in integer
        -- space until one final double division (no share-product
        -- dyadic-tie hazard)
        WITH r AS (
            SELECT s.s_nationkey AS nationkey, l.l_suppkey,
                   SUM(CAST(floor(l.l_extendedprice * 100.0 + 0.5)
                            AS BIGINT)) AS cents
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1, 2
        )
        SELECT n.n_name AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(CAST(cents AS DECIMAL(38,0))
                        * CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                   / (CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                      * CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE))
                   AS hhi
        FROM r
        JOIN nation n ON r.nationkey = n.n_nationkey
        GROUP BY 1
    """,
    description=(
        "supply-concentration risk: Herfindahl index of supplier revenue "
        "share per nation (exact integer arithmetic until one division)"
    ),
    tags=("olap", "aggregate", "deterministic"),
)
def supplier_concentration_hhi(spark, sf_dir):
    """Single-source-risk metric: HHI near 1/n = balanced supply, near 1 =
    one supplier owns the nation. Revenue rides as exact integer cents;
    sum-of-squares and the total both stay DECIMAL(38,0)-exact, so the
    only floating step is the final ratio — engine-identical by
    construction (squaring per-supplier DOUBLE shares would reintroduce
    the product-tie hazard profit_by_nation_year hit)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.sum(
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
    ).alias("cents")
    r = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(cents)
    )
    cd = F.col("cents").cast("decimal(38,0)")
    sq = F.sum(cd * cd).cast("double")
    tot = F.sum(cd).cast("double")
    return (
        r.join(F.broadcast(nation), r.nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_suppliers"),
            (sq / (tot * tot)).alias("hhi"),
        )
    )


@register(
    "price_quantity_ols",
    oracle="""
        -- closed-form simple OLS from sufficient statistics, all of them
        -- EXACT integers (quantity integral, price in cents): slope =
        -- (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), every product computed in
        -- DECIMAL(38,0) before the final double divisions
        WITH s AS (
            SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT))
                        AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5)
                                 AS BIGINT)) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)
                            * CAST(floor(l_quantity + 0.5) AS BIGINT))
                        AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)
                            * CAST(floor(l_extendedprice * 100.0 + 0.5)
                                   AS BIGINT)) AS DECIMAL(38,0)) AS sxy
            FROM lineitem
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0 AS slope,
               (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0
                   AS intercept
        FROM s
    """,
    description=(
        "distributed closed-form OLS (price ~ quantity) from exact "
        "integer sufficient statistics; one aggregation pass"
    ),
    tags=("ml", "aggregate", "deterministic"),
)
def price_quantity_ols(spark, sf_dir):
    """Regression as ONE aggregation: the five sufficient statistics
    (n, Sx, Sy, Sxx, Sxy) fully determine the OLS line, they're all
    associative sums, and with quantity integral and price in cents they
    are EXACT integers — so the fit is bit-identical on any engine and
    any partitioning, with doubles appearing only in the two final
    divisions. The 100 TB story is the same as any sum: map-side
    combine, one 1-row result; no solver, no iterations, no collect of
    data."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.floor(F.col("l_quantity") + 0.5).cast("bigint")
    c = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
    d38 = "decimal(38,0)"
    s = li.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum(q).cast(d38).alias("sx"),
        F.sum(c).cast(d38).alias("sy"),
        F.sum((q * q).cast(d38)).alias("sxx"),
        F.sum((q * c).cast(d38)).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope_cents = (n * sxy - sx * sy).cast("double") / (
        n * sxx - sx * sx
    ).cast("double")
    return s.select(
        n.cast("bigint").alias("n"),
        (slope_cents / 100.0).alias("slope"),
        (
            (
                sy.cast("double") / n.cast("double")
                - slope_cents * (sx.cast("double") / n.cast("double"))
            )
            / 100.0
        ).alias("intercept"),
    )


@register(
    "monthly_revenue_naive_forecast",
    oracle="""
        WITH m AS (
            SELECT date_trunc('month', o_orderdate) AS month,
                   CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders
            GROUP BY 1
        )
        SELECT month,
               CAST(cents AS DOUBLE) / 100.0 AS actual,
               CAST(lag_c AS DOUBLE) / 100.0 AS forecast,
               abs(CAST(cents AS BIGINT) - lag_c)
                   / CAST(cents AS DOUBLE) AS abs_pct_err
        FROM (
            SELECT month, cents,
                   LAG(cents, 12) OVER (ORDER BY month) AS lag_c
            FROM m
        )
        WHERE lag_c IS NOT NULL
    """,
    description=(
        "forecast baseline: seasonal-naive (lag-12-month) monthly revenue "
        "prediction with per-month absolute percentage error"
    ),
    tags=("timeseries", "ml", "window"),
)
def monthly_revenue_naive_forecast(spark, sf_dir):
    """The baseline every forecasting model must beat — last year's same
    month — plus the error series a model-eval report needs. Revenue
    reduces to exact integer cents at the month grain first (a few dozen
    rows), so the lag window and error arithmetic run over a trivially
    small frame; the unpartitioned ORDER BY is over that month grain,
    never the fact table."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
        ).alias("cents")
    )
    lag_c = F.lag("cents", 12).over(Window.orderBy("month"))
    return (
        m.select("month", "cents", lag_c.alias("lag_c"))
        .filter(F.col("lag_c").isNotNull())
        .select(
            "month",
            (F.col("cents").cast("double") / 100.0).alias("actual"),
            (F.col("lag_c").cast("double") / 100.0).alias("forecast"),
            (
                F.abs(F.col("cents") - F.col("lag_c"))
                / F.col("cents").cast("double")
            ).alias("abs_pct_err"),
        )
    )


@register(
    "events_ab_test_readout",
    oracle=f"""
        -- deterministic hash assignment + exact integer-cents sufficient
        -- statistics; doubles only in the final mean/variance/z arithmetic
        WITH a AS (
            SELECT CASE WHEN {_SQL_HASH_U.format(key="user_id")} < 0.5
                        THEN 'A' ELSE 'B' END AS variant,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
            FROM events
        ),
        s AS (
            SELECT variant,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c) AS DECIMAL(38,0)) AS sc,
                   CAST(SUM(CAST(c AS DECIMAL(38,0))
                            * CAST(c AS DECIMAL(38,0))) AS DECIMAL(38,0))
                       AS scc
            FROM a
            GROUP BY 1
        )
        SELECT variant, n,
               CAST(sc AS DOUBLE) / n / 100.0 AS mean_value,
               (CAST(scc AS DOUBLE) / n
                - (CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n))
                   / 10000.0 AS var_value
        FROM s
    """,
    description=(
        "A/B readout: hash-assigned variants with exact-integer "
        "sufficient statistics (mean + population variance per arm)"
    ),
    tags=("analytics", "ml", "deterministic"),
)
def events_ab_test_readout(spark, sf_dir):
    """Experiment analysis built on the same two disciplines every other
    deterministic query here uses: (1) assignment by md5-range hash, so
    any engine reproduces the exact same arms (and assignment is a
    projection — users never need a lookup table), and (2) per-arm
    sufficient statistics as exact integers (cents), so mean and
    population variance are engine-identical with doubles only in the
    final arithmetic. The z/t statistic is one more scalar expression on
    top of these rows — left to the caller's significance convention."""
    from ..operators.relational import hash_uniform

    ev = load_table(spark, sf_dir, "events")
    c = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    a = ev.select(
        F.when(hash_uniform("user_id") < 0.5, "A").otherwise("B").alias(
            "variant"
        ),
        c.alias("c"),
    )
    d38 = "decimal(38,0)"
    cd = F.col("c").cast(d38)
    s = a.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("c").cast(d38).alias("sc"),
        F.sum(cd * cd).alias("scc"),
    )
    mean_c = F.col("sc").cast("double") / F.col("n")
    return s.select(
        "variant",
        "n",
        (mean_c / 100.0).alias("mean_value"),
        (
            (F.col("scc").cast("double") / F.col("n") - mean_c * mean_c)
            / 10000.0
        ).alias("var_value"),
    )


@register(
    "chunk_level_dedup_stats",
    oracle="""
        -- passage-level dedup (the RAG-index granularity): chunk the
        -- corpus, fingerprint each chunk, count chunks whose normalized
        -- content also appears elsewhere (in ANY doc, itself included --
        -- a chunk repeated within one doc is still a redundant passage)
        WITH f AS (
            SELECT doc_id, source, text,
                   greatest(CAST(ceil((length(text) - 64) / 448.0) AS BIGINT),
                            1) AS n_chunks
            FROM documents
        ), x AS (
            SELECT doc_id, source,
                   md5(regexp_replace(lower(trim(
                       substr(text, CAST(chunk_no * 448 + 1 AS INT), 512)
                   )), '\\s+', ' ', 'g')) AS fp
            FROM (SELECT doc_id, source, text,
                         unnest(range(0, n_chunks)) AS chunk_no
                  FROM f)
        ),
        dup AS (
            SELECT fp, COUNT(*) AS k FROM x GROUP BY 1
        )
        SELECT x.source,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(DISTINCT x.fp) AS BIGINT) AS n_distinct_chunks,
               CAST(SUM(CASE WHEN d.k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_chunks,
               CAST(SUM(CASE WHEN d.k > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS dup_chunk_frac
        FROM x JOIN dup d USING (fp)
        GROUP BY 1
    """,
    description=(
        "passage-level dedup stats: chunk the corpus, fingerprint chunks, "
        "per-source duplicated-chunk fraction (RAG-index granularity)"
    ),
    tags=("text", "dedup", "chunking"),
)
def chunk_level_dedup_stats(spark, sf_dir):
    """Dedup at the granularity a retrieval index actually stores:
    512-char chunks (the existing chunker), normalized-content md5
    fingerprints (the existing exact-dedup key), rolled up per source.
    A duplicated chunk anywhere — another doc or the same one — is a
    redundant passage that wastes index space and skews retrieval. Chunk
    multiplicities come from a count window over the fingerprint key on
    the chunk grain (no self-join), then one grouped rollup."""
    from pyspark.sql import Window

    from ..operators.text import chunk_documents, fingerprint

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs.select("doc_id", "source", "text"),
        "doc_id",
        "text",
        chunk_chars=512,
        overlap=64,
        keep_cols=("source",),
    )
    x = chunks.select("source", fingerprint("chunk_text").alias("fp"))
    k = F.count("*").over(Window.partitionBy("fp"))
    flagged = x.select("source", "fp", (k > 1).alias("dup"))
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.count_distinct("fp").alias("n_distinct_chunks"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_dup_chunks"),
        (
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("dup_chunk_frac"),
    )


@register(
    "token_zipf_fit",
    oracle=r"""
        -- Zipf exponent of the corpus: OLS of ln(freq) on ln(rank) over
        -- the top-200 tokens. All sums ride DECIMAL(28,10) casts of
        -- ln-domain doubles — transcendental values never land on the
        -- decimal half-way ties that dyadic products do, so the decimal
        -- rounding is engine-identical here
        WITH freq AS (
            SELECT tok, COUNT(*) AS n
            FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(trim(text), '\s+'),
                    t -> t <> '')) AS tok
                FROM documents
            )
            GROUP BY 1
        ),
        ranked AS (
            SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok)
                           AS DOUBLE)) AS lx,
                   ln(CAST(n AS DOUBLE)) AS ly
            FROM freq
            ORDER BY n DESC, tok
            LIMIT 200
        ),
        s AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(lx AS DECIMAL(28,10))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(ly AS DECIMAL(28,10))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(lx * lx AS DECIMAL(28,10))) AS DOUBLE)
                       AS sxx,
                   CAST(SUM(CAST(lx * ly AS DECIMAL(28,10))) AS DOUBLE)
                       AS sxy
            FROM ranked
        )
        SELECT CAST(n AS BIGINT) AS n_tokens_fit,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_exponent,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS log_intercept
        FROM s
    """,
    description=(
        "corpus statistics: Zipf-law exponent via closed-form OLS on the "
        "log-log rank/frequency curve (top-200 tokens)"
    ),
    tags=("text", "corpus", "ml"),
)
def token_zipf_fit(spark, sf_dir):
    """Natural text follows Zipf (exponent near -1); heavily templated or
    synthetic corpora drift away — a one-row drift check on the corpus's
    statistical texture. The frequency table reduces map-side; rank is a
    TakeOrdered top-200 with a deterministic tie rule; the fit is the
    same closed-form-OLS-from-sums shape as price_quantity_ols, in the
    ln domain where decimal casts are tie-safe (transcendental values
    never terminate at the rounding scale)."""
    from pyspark.sql import Window

    from ..functions.numeric import DEC
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        # explode_outer + isNotNull: see operators/text.py (explode guard)
        docs.select(F.explode_outer(tokens("text")).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    from ..operators.relational import bounded_ranked_topk

    ranked = bounded_ranked_topk(
        freq, [("n", "desc"), ("tok", "asc")], 200, out="r"
    ).select(
        F.log(F.col("r").cast("double")).alias("lx"),
        F.log(F.col("n").cast("double")).alias("ly"),
    )
    s = ranked.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("lx").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("ly").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("lx") * F.col("lx")).cast(DEC)).cast("double").alias("sxx"),
        F.sum((F.col("lx") * F.col("ly")).cast(DEC)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("bigint").alias("n_tokens_fit"),
        slope.alias("zipf_exponent"),
        ((sy - slope * sx) / n).alias("log_intercept"),
    )


@register(
    "vocab_growth_heaps",
    oracle=r"""
        -- Heaps'-law curve: vocabulary size after the first N documents
        -- (by doc_id order). Each token contributes at its FIRST doc, so
        -- the curve is a cumulative count over first-appearance buckets —
        -- one pass, no per-checkpoint rescans
        WITH firsts AS (
            SELECT MIN(doc_id) AS first_doc
            FROM (
                SELECT doc_id, unnest(list_filter(
                    regexp_split_to_array(trim(text), '\s+'),
                    t -> t <> '')) AS tok
                FROM documents
            )
            GROUP BY tok
        ),
        buckets AS (
            SELECT CAST(floor(first_doc / 50) AS BIGINT) AS bucket,
                   COUNT(*) AS new_tokens
            FROM firsts
            GROUP BY 1
        )
        SELECT (bucket + 1) * 50 AS docs_seen,
               CAST(new_tokens AS BIGINT) AS new_tokens,
               CAST(SUM(new_tokens) OVER (
                   ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS vocab_size
        FROM buckets
    """,
    description=(
        "Heaps'-law vocabulary growth: distinct tokens after each 50-doc "
        "prefix, from per-token first appearances (one pass)"
    ),
    tags=("text", "corpus"),
)
def vocab_growth_heaps(spark, sf_dir):
    """How fast the vocabulary grows as the corpus grows — sublinear for
    natural text (Heaps' law), near-linear for noise/ids, flat for
    templated text; with token_zipf_fit these are the two texture
    diagnostics of a healthy corpus. The naive shape recomputes distinct
    counts per prefix (N passes); here every token is reduced to its
    FIRST document once, and the curve is a running sum over the tiny
    bucket table."""
    from pyspark.sql import Window

    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    firsts = (
        # explode_outer + isNotNull: see operators/text.py (explode guard)
        docs.select("doc_id", F.explode_outer(tokens("text")).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    buckets = firsts.groupBy(
        F.floor(F.col("first_doc") / 50).cast("bigint").alias("bucket")
    ).agg(F.count("*").alias("new_tokens"))
    # the bucket table scales with the corpus (one row per 50 docs), so
    # the running vocab total uses the DISTRIBUTED cumulative sum
    # (relational.global_running_sum) instead of a single-reducer window
    from ..operators.relational import global_running_sum

    return global_running_sum(
        buckets, [("bucket", "asc")], "new_tokens", out="vocab_size"
    ).select(
        ((F.col("bucket") + 1) * 50).alias("docs_seen"),
        "new_tokens",
        F.col("vocab_size").cast("bigint").alias("vocab_size"),
    )


@register(
    "value_benford_audit",
    oracle="""
        -- Benford first-digit audit: organic magnitudes follow
        -- log10(1+1/d); fabricated or truncated data drifts. Digit
        -- extraction is IEEE-only (log10/floor/power), identical across
        -- engines
        WITH d AS (
            SELECT CAST(floor(value / power(10.0, floor(log10(value))))
                        AS BIGINT) AS digit
            FROM events
            WHERE value > 0
        ),
        c AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
            FROM d GROUP BY 1
        )
        SELECT digit, n,
               CAST(n AS DOUBLE) / SUM(n) OVER () AS observed_frac,
               log10(1.0 + 1.0 / digit) AS benford_frac,
               abs(CAST(n AS DOUBLE) / SUM(n) OVER ()
                   - log10(1.0 + 1.0 / digit)) AS abs_dev
        FROM c
    """,
    description=(
        "Benford first-digit audit of the value column: observed vs "
        "expected leading-digit distribution with absolute deviation"
    ),
    tags=("quality", "aggregate"),
)
def value_benford_audit(spark, sf_dir):
    """The classic fabricated-data smell test: leading digits of organic
    multi-scale magnitudes follow Benford's distribution; truncation,
    capping, or synthesis shows up as deviation. Digit extraction is pure
    IEEE arithmetic (log10/floor/power — bit-identical across engines),
    the rollup is one grouped pass, and the shares ride a window over the
    at-most-9-row digit table."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    digit = F.floor(
        F.col("value") / F.pow(F.lit(10.0), F.floor(F.log10("value")))
    ).cast("bigint")
    c = (
        ev.filter(F.col("value") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = F.sum("n").over(Window.partitionBy())
    obs = F.col("n").cast("double") / tot
    ben = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return c.select(
        "digit",
        "n",
        obs.alias("observed_frac"),
        ben.alias("benford_frac"),
        F.abs(obs - ben).alias("abs_dev"),
    )


@register(
    "source_unigram_jsd",
    oracle=r"""
        -- pairwise Jensen-Shannon divergence between source unigram
        -- distributions. Only tokens shared by both sources join; the
        -- disjoint-support mass contributes 0.5*ln(2)*(P_only + Q_only)
        -- in closed form, so no full-outer explosion. ln-domain decimal
        -- sums are tie-safe (transcendental values)
        WITH st AS (
            SELECT source, tok, COUNT(*) AS n
            FROM (
                SELECT source, unnest(list_filter(
                    regexp_split_to_array(trim(text), '\s+'),
                    t -> t <> '')) AS tok
                FROM documents
            )
            GROUP BY 1, 2
        ),
        tot AS (SELECT source, SUM(n) AS t FROM st GROUP BY 1),
        p AS (
            SELECT st.source, st.tok,
                   CAST(st.n AS DOUBLE) / tot.t AS p
            FROM st JOIN tot USING (source)
        ),
        shared AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(SUM(CAST(
                       0.5 * a.p * ln(2.0 * a.p / (a.p + b.p))
                       + 0.5 * b.p * ln(2.0 * b.p / (a.p + b.p))
                       AS DECIMAL(28,10))) AS DOUBLE) AS shared_term,
                   CAST(SUM(CAST(a.p AS DECIMAL(28,10))) AS DOUBLE)
                       AS p_shared,
                   CAST(SUM(CAST(b.p AS DECIMAL(28,10))) AS DOUBLE)
                       AS q_shared
            FROM p a
            JOIN p b ON a.tok = b.tok AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT source_a, source_b,
               shared_term
                 + 0.5 * ln(2.0) * ((1.0 - p_shared) + (1.0 - q_shared))
                   AS jsd
        FROM shared
    """,
    description=(
        "corpus-similarity matrix: pairwise Jensen-Shannon divergence "
        "between source unigram distributions (mixture-design input)"
    ),
    tags=("text", "corpus", "ml"),
)
def source_unigram_jsd(spark, sf_dir):
    """Which sources say the same things? JSD between unigram
    distributions is the standard mixture-design distance (bounded,
    symmetric, defined on disjoint support). The join only touches
    tokens PRESENT IN BOTH sources — disjoint-support mass folds into a
    closed-form 0.5*ln2*(P_only + Q_only) using the shared-probability
    sums, so there is no full-outer blowup; per-pair work is the shared
    vocabulary, and the (source, tok) grain reduces map-side first.
    ln-domain decimal sums are tie-safe."""
    from ..functions.numeric import DEC
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    st = (
        # explode_outer + isNotNull: see operators/text.py (explode guard)
        docs.select("source", F.explode_outer(tokens("text")).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    tot = st.groupBy("source").agg(F.sum("n").alias("t"))
    p = st.join(tot, "source").select(
        "source", "tok", (F.col("n").cast("double") / F.col("t")).alias("p")
    )
    a = p.select(
        F.col("source").alias("source_a"), "tok", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("source").alias("source_b"), "tok", F.col("p").alias("pb")
    )
    pa, pb = F.col("pa"), F.col("pb")
    term = (
        F.lit(0.5) * pa * F.log(F.lit(2.0) * pa / (pa + pb))
        + F.lit(0.5) * pb * F.log(F.lit(2.0) * pb / (pa + pb))
    ).cast(DEC)
    shared = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(term).cast("double").alias("shared_term"),
            F.sum(pa.cast(DEC)).cast("double").alias("p_shared"),
            F.sum(pb.cast(DEC)).cast("double").alias("q_shared"),
        )
    )
    return shared.select(
        "source_a",
        "source_b",
        (
            F.col("shared_term")
            + F.lit(0.5)
            * F.log(F.lit(2.0))
            * (
                (F.lit(1.0) - F.col("p_shared"))
                + (F.lit(1.0) - F.col("q_shared"))
            )
        ).alias("jsd"),
    )


@register(
    "error_burst_detection",
    oracle="""
        -- error-rate bursts: hourly error share vs the trailing-24h POOLED
        -- rate. Trailing sums are INTEGER window aggregates (exact on any
        -- engine regardless of how the moving frame is accumulated -- a
        -- float mean/stddev over a moving frame is NOT portable: sliding
        -- updates vs segment trees round differently); the only doubles
        -- are two final divisions
        WITH h AS (
            SELECT date_trunc('hour', ts) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_err
            FROM events
            GROUP BY 1
        ),
        w AS (
            SELECT hour, n, n_err,
                   SUM(n) OVER (
                       ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING
                   ) AS base_n,
                   SUM(n_err) OVER (
                       ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING
                   ) AS base_err
            FROM h
        )
        SELECT hour, n, n_err,
               CAST(n_err AS DOUBLE) / n AS err_share,
               CAST(base_err AS DOUBLE) / base_n AS baseline_rate,
               (CAST(n_err AS DOUBLE) / n
                > 3.0 * (CAST(base_err AS DOUBLE) / base_n)
                AND n_err >= 3) AS is_burst
        FROM w
        WHERE base_n IS NOT NULL AND base_n > 0
    """,
    description=(
        "ops monitor: hourly error-rate bursts vs the trailing-24h "
        "pooled rate (self-calibrating, exact integer baseline)"
    ),
    tags=("timeseries", "monitoring", "window"),
)
def error_burst_detection(spark, sf_dir):
    """The error-storm complement to the silence detector
    (events_outage_intervals): hourly error share against the trailing
    24 hours' POOLED error rate, so the alarm tracks the service's normal
    error floor instead of a hardcoded constant (the >= 3 errors guard
    keeps single-event blips from alarming quiet hours). Determinism
    lesson learned here the hard way: a float mean/stddev over a MOVING
    window frame is not engine-portable — sliding-update and segment-tree
    implementations round differently — so the trailing baseline is built
    from INTEGER window sums (exact under any accumulation strategy) with
    doubles only in the final divisions."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_err"
        ),
    )
    w = Window.orderBy("hour").rowsBetween(-24, -1)
    out = h.select(
        "hour",
        "n",
        "n_err",
        F.sum("n").over(w).alias("base_n"),
        F.sum("n_err").over(w).alias("base_err"),
    ).filter(F.col("base_n").isNotNull() & (F.col("base_n") > 0))
    err_share = F.col("n_err").cast("double") / F.col("n")
    baseline = F.col("base_err").cast("double") / F.col("base_n")
    return out.select(
        "hour",
        "n",
        "n_err",
        err_share.alias("err_share"),
        baseline.alias("baseline_rate"),
        (
            (err_share > F.lit(3.0) * baseline) & (F.col("n_err") >= 3)
        ).alias("is_burst"),
    )


@register(
    "join_fanout_profile",
    oracle="""
        -- join fan-out profile of the fact table: how many lineitems an
        -- order key fans out to. The histogram a planner (or a human
        -- sizing a shuffle) reads before joining on the key: mean fan-out
        -- sizes the join output, the max exposes skew
        WITH f AS (
            SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS fanout
            FROM lineitem
            GROUP BY 1
        )
        SELECT fanout,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(COUNT(*) * fanout AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS DOUBLE)
                   / SUM(COUNT(*)) OVER () AS key_share
        FROM f
        GROUP BY 1
    """,
    description=(
        "join fan-out histogram for lineitem.l_orderkey: rows per key "
        "distribution (join-output sizing + skew exposure)"
    ),
    tags=("olap", "quality", "aggregate"),
)
def join_fanout_profile(spark, sf_dir):
    """The number that sizes a join before running it: per-key fan-out
    distribution of the fact table. Output rows = join-input keys x mean
    fan-out; a fat tail here is the signal to reach for the salted join
    or AQE skew handling (see join_key_skew_profile for the per-key
    variant). Two grouped passes, the second over the tiny histogram
    grain, shares via a window over that same grain."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    f = li.groupBy("l_orderkey").agg(F.count("*").alias("fanout"))
    h = f.groupBy("fanout").agg(F.count("*").alias("n_keys"))
    return h.select(
        "fanout",
        "n_keys",
        (F.col("n_keys") * F.col("fanout")).cast("bigint").alias("n_rows"),
        (
            F.col("n_keys").cast("double")
            / F.sum("n_keys").over(Window.partitionBy())
        ).alias("key_share"),
    )


@register(
    "events_duplicate_delivery_audit",
    oracle="""
        -- at-least-once delivery audit: events sharing a natural key
        -- (user, ts, type) but different event ids are redeliveries a
        -- non-idempotent consumer double-counts
        WITH g AS (
            SELECT user_id, ts, event_type,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM events
            GROUP BY 1, 2, 3
        )
        SELECT CAST(SUM(k) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_unique,
               CAST(SUM(k) - COUNT(*) AS BIGINT) AS n_redeliveries,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_keys,
               CAST(SUM(k) - COUNT(*) AS DOUBLE) / SUM(k)
                   AS redelivery_rate
        FROM g
    """,
    description=(
        "at-least-once delivery audit: redelivery count/rate by natural "
        "key (user, ts, type) — the idempotency health check"
    ),
    tags=("streaming", "quality", "aggregate"),
)
def events_duplicate_delivery_audit(spark, sf_dir):
    """The batch-side health check behind stream_dedup_within_watermark:
    how much at-least-once redelivery actually reaches storage. One
    natural-key reduce (map-side combined) and a constant-size rollup; a
    nonzero rate is the evidence that downstream consumers need the
    dedup-within-watermark stage (or idempotent MERGE writes)."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id", "ts", "event_type").agg(
        F.count("*").alias("k")
    )
    redeliv = F.sum("k") - F.count("*")
    return g.agg(
        F.sum("k").alias("n_events"),
        F.count("*").alias("n_unique"),
        redeliv.alias("n_redeliveries"),
        F.sum(F.when(F.col("k") > 1, 1).otherwise(0)).alias("n_dup_keys"),
        (redeliv.cast("double") / F.sum("k")).alias("redelivery_rate"),
    )


@register(
    "daily_gmv_trailing_ma",
    oracle="""
        -- the canonical dashboard metric done portably: daily GMV with a
        -- trailing-7-day moving average where the moving window sums
        -- INTEGER cents (rule 3 from NOTES: float aggregates over moving
        -- frames are engine-divergent; integer sums are exact under any
        -- accumulation strategy)
        WITH d AS (
            SELECT date_trunc('day', o_orderdate) AS day,
                   CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders
            GROUP BY 1
        )
        SELECT day,
               CAST(cents AS DOUBLE) / 100.0 AS gmv,
               CAST(SUM(cents) OVER (
                   ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS DOUBLE)
                 / COUNT(cents) OVER (
                   ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               ) / 100.0 AS gmv_7d_ma
        FROM d
    """,
    description=(
        "daily GMV + trailing-7-day moving average on integer cents "
        "(the engine-portable moving-average exemplar)"
    ),
    tags=("timeseries", "window", "deterministic"),
)
def daily_gmv_trailing_ma(spark, sf_dir):
    """Every dashboard's first chart, built to survive an engine
    migration: revenue reduces to integer cents at the day grain, and the
    trailing-7-row window SUMS INTEGERS (exact however the engine
    accumulates moving frames — determinism rule 3) before two final
    double divisions. Windows run over the tiny day grain only."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
        ).alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return d.select(
        "day",
        (F.col("cents").cast("double") / 100.0).alias("gmv"),
        (
            F.sum("cents").over(w).cast("double")
            / F.count("cents").over(w)
            / 100.0
        ).alias("gmv_7d_ma"),
    )


@register(
    "float_downcast_precision_audit",
    oracle="""
        -- pre-downcast audit: which double values survive a float32
        -- round-trip bit-exactly? (storage/bandwidth halving is free only
        -- where this is 100%). The round-trip is IEEE-defined on both
        -- engines, so the audit itself is engine-identical
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN CAST(CAST(value AS FLOAT) AS DOUBLE)
                                  = value
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
               CAST(SUM(CASE WHEN CAST(CAST(value AS FLOAT) AS DOUBLE)
                                  = value
                             THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                   AS exact_frac,
               CAST(MAX(abs(value - CAST(CAST(value AS FLOAT) AS DOUBLE)))
                    AS DOUBLE) AS max_abs_loss
        FROM events
        GROUP BY 1
    """,
    description=(
        "numeric-contract audit: fraction of double values that survive "
        "a float32 round-trip, and the worst-case loss, per type"
    ),
    tags=("quality", "aggregate", "deterministic"),
)
def float_downcast_precision_audit(spark, sf_dir):
    """The check to run BEFORE halving storage with a float32 downcast
    (the embeddings table already made that call): per class, how many
    values round-trip bit-exactly and the worst absolute loss where they
    don't. The float32 round-trip is IEEE-defined, so the audit itself
    is deterministic across engines; one grouped pass."""
    ev = load_table(spark, sf_dir, "events")
    rt = F.col("value").cast("float").cast("double")
    exact = F.sum(F.when(rt == F.col("value"), 1).otherwise(0))
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        exact.alias("n_exact"),
        (exact.cast("double") / F.count("*")).alias("exact_frac"),
        F.max(F.abs(F.col("value") - rt)).cast("double").alias(
            "max_abs_loss"
        ),
    )


@register(
    "top_order_revenue_concentration",
    oracle="""
        -- tail-concentration check: what share of revenue the orders at
        -- or above the exact p99 carry. Threshold from the interpolated
        -- percentile (proven-parity idiom); shares from exact
        -- integer-cents sums
        WITH p AS (
            SELECT quantile_cont(o_totalprice, 0.99) AS p99 FROM orders
        )
        SELECT CAST(p.p99 AS DOUBLE) AS p99_price,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN o.o_totalprice >= p.p99 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_top,
               CAST(SUM(CASE WHEN o.o_totalprice >= p.p99
                             THEN CAST(floor(o.o_totalprice * 100.0 + 0.5)
                                       AS BIGINT) ELSE 0 END) AS DOUBLE)
                 / SUM(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                   AS top_revenue_share
        FROM orders o CROSS JOIN p
        GROUP BY p.p99
    """,
    description=(
        "tail concentration: revenue share carried by orders at/above "
        "the exact p99 (whale dependence metric)"
    ),
    tags=("olap", "aggregate", "quality"),
)
def top_order_revenue_concentration(spark, sf_dir):
    """How whale-dependent is revenue? The p99 threshold uses the exact
    interpolated percentile (the same parity-proven idiom as the
    box-plot stats, fetched as a 1-row literal — the documented scalar
    pattern); membership is then a projection, and the shares divide
    exact integer-cents sums. One stats pass + one grouped pass."""
    orders = load_table(spark, sf_dir, "orders")
    p99 = orders.agg(
        F.percentile("o_totalprice", F.lit(0.99)).alias("p")
    ).first()["p"]
    if p99 is None:
        raise ValueError(
            "top_order_revenue_concentration: empty orders table — the "
            "p99 threshold is undefined"
        )
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
    top = F.col("o_totalprice") >= F.lit(p99)
    return orders.agg(
        F.lit(float(p99)).alias("p99_price"),
        F.count("*").alias("n_orders"),
        F.sum(F.when(top, 1).otherwise(0)).alias("n_top"),
        (
            F.sum(F.when(top, cents).otherwise(0)).cast("double")
            / F.sum(cents)
        ).alias("top_revenue_share"),
    )


@register(
    "event_mix_drift_daily",
    oracle="""
        -- categorical drift: each day's event-type mix vs the previous
        -- day. Shares divide integer counts (per-(day,type) reduce plus a
        -- per-day window total); the lag runs per type over the tiny day
        -- grain
        WITH g AS (
            SELECT date_trunc('day', ts) AS day, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events
            GROUP BY 1, 2
        ),
        s AS (
            SELECT day, event_type, n,
                   CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY day)
                       AS share
            FROM g
        )
        SELECT day, event_type, n, share,
               share - LAG(share) OVER (
                   PARTITION BY event_type ORDER BY day
               ) AS share_delta
        FROM s
        QUALIFY LAG(share) OVER (
            PARTITION BY event_type ORDER BY day
        ) IS NOT NULL
    """,
    description=(
        "categorical composition drift: daily event-type shares and "
        "day-over-day share deltas (the mix companion to the PSI monitor)"
    ),
    tags=("timeseries", "monitoring", "window"),
)
def event_mix_drift_daily(spark, sf_dir):
    """When the PSI monitor says the VALUE distribution moved, this says
    whether the CLASS mix moved with it (a traffic-composition change vs
    a within-class shift need different responses). Integer counts reduce
    to the (day, type) grain map-side; shares and lags are windows over
    that tiny grain; first-day rows (no predecessor) are excluded rather
    than zero-filled."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    share = F.col("n").cast("double") / F.sum("n").over(
        Window.partitionBy("day")
    )
    s = g.select("day", "event_type", "n", share.alias("share"))
    lag = F.lag("share").over(Window.partitionBy("event_type").orderBy("day"))
    return (
        s.select(
            "day", "event_type", "n", "share", lag.alias("__prev")
        )
        .filter(F.col("__prev").isNotNull())
        .select(
            "day",
            "event_type",
            "n",
            "share",
            (F.col("share") - F.col("__prev")).alias("share_delta"),
        )
    )


@register(
    "customer_repeat_purchase_rate",
    oracle="""
        WITH c AS (
            SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders
            GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_buyers,
               CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_repeat,
               CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS repeat_rate,
               CAST(SUM(n_orders) AS DOUBLE) / COUNT(*)
                   AS orders_per_buyer,
               CAST(MAX(n_orders) AS BIGINT) AS max_orders
        FROM c
    """,
    description=(
        "retention KPI: repeat-purchase rate, orders per buyer, and the "
        "heaviest buyer (one keyed reduce + constant rollup)"
    ),
    tags=("analytics", "aggregate"),
)
def customer_repeat_purchase_rate(spark, sf_dir):
    """The first retention number any commerce review asks for: what
    fraction of buyers came back. One keyed reduce to the customer grain
    (map-side combined) and a constant-size rollup — integer counts
    throughout, doubles only in the two final ratios."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    repeat = F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
    return c.agg(
        F.count("*").alias("n_buyers"),
        repeat.alias("n_repeat"),
        (repeat.cast("double") / F.count("*")).alias("repeat_rate"),
        (F.sum("n_orders").cast("double") / F.count("*")).alias(
            "orders_per_buyer"
        ),
        F.max("n_orders").alias("max_orders"),
    )


@register(
    "daily_growth_accounting",
    oracle="""
        -- growth accounting: daily actives split into new (first-ever
        -- day) vs returning. First-seen is one keyed reduce; the daily
        -- split joins the (day, user) grain against it on the user key
        WITH du AS (
            SELECT DISTINCT date_trunc('day', ts) AS day, user_id
            FROM events
        ),
        firsts AS (
            SELECT user_id, MIN(day) AS first_day FROM du GROUP BY 1
        )
        SELECT du.day,
               CAST(COUNT(*) AS BIGINT) AS dau,
               CAST(SUM(CASE WHEN du.day = f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS new_users,
               CAST(SUM(CASE WHEN du.day <> f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS returning_users,
               CAST(SUM(CASE WHEN du.day = f.first_day THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS new_frac
        FROM du
        JOIN firsts f USING (user_id)
        GROUP BY 1
    """,
    description=(
        "growth accounting: daily actives split into new vs returning "
        "(first-seen reduce + user-key join on the day-user grain)"
    ),
    tags=("analytics", "aggregate", "join"),
)
def daily_growth_accounting(spark, sf_dir):
    """The DAU decomposition every growth review starts from: actives per
    day split by whether it's the user's first-ever day. The day-user
    grain distincts map-side; first-seen is one more reduce over it; the
    split join moves one row per (day, user) on the user key both sides
    already shuffled on."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    firsts = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = du.join(firsts, "user_id")
    is_new = F.col("day") == F.col("first_day")
    new_c = F.sum(F.when(is_new, 1).otherwise(0))
    return j.groupBy("day").agg(
        F.count("*").alias("dau"),
        new_c.alias("new_users"),
        F.sum(F.when(~is_new, 1).otherwise(0)).alias("returning_users"),
        (new_c.cast("double") / F.count("*")).alias("new_frac"),
    )


@register(
    "mlp_ae_detect_loop",
    oracle=None,  # the scores come from the iterative nonlinear fit — not
    # SQL-expressible; the routing invariants (counts partition-stable,
    # partitions disjoint+exhaustive, threshold from the M8 calibration)
    # are pinned by tests/test_training.py
    description=(
        "the reference's FULL detect loop with the exact architecture: "
        "MLP-AE fit -> per-row reconstruction scores -> mean+2σ threshold "
        "calibration (M8) -> classify_by_threshold partition counts"
    ),
    tags=("ml", "scoring", "calibration", "rows-only"),
)
def mlp_ae_detect_loop(spark, sf_dir):
    """End-to-end parity with the reference's detect pipeline
    (train_autoencoder.py fit -> stream_anomaly_detector.py:278-302 score/
    threshold/route), every stage on the exact 64-64-16-64-64 architecture:
    the fit is the parameter-server loop (one aggregation per epoch), the
    per-row scores are one mapInPandas inference pass (M2 — model
    serialized to executors, no collect), the threshold is the M8
    calibration (mean + 2·stddev of the score distribution, one
    distributed aggregate), and the routing uses the same
    classify_by_threshold/confidence scalars as the streaming scorer.
    Output: per-route counts + order-free score extrema."""
    from ..functions.scalars import classify_by_threshold
    from ..ml.training import fit_mlp_autoencoder, mlp_reconstruction_scores
    from ..operators.relational import _track_persist

    emb = load_table(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias(
            "features"
        ),
    )
    fit = fit_mlp_autoencoder(feats, dim=64, epochs=6, lr=1e-3)
    # cache the scored frame: the threshold aggregate and the routing
    # pass both consume it — without the cache the mapInPandas forward
    # pass over the whole corpus runs twice
    scores = mlp_reconstruction_scores(feats, fit, "vec_id")
    # tracked so the harness's release_rank_caches sweep frees the executor
    # blocks after the query materializes (a bare .persist() here leaked a
    # corpus-sized cache per call until session end)
    _track_persist(scores)
    st = scores.agg(
        F.avg("recon_mse").alias("mu"),
        F.stddev_pop("recon_mse").alias("sd"),
    ).first()
    threshold = float(st["mu"]) + 2.0 * float(st["sd"])
    routed = scores.withColumn(
        "prediction", classify_by_threshold("recon_mse", threshold)
    )
    return (
        routed.groupBy("prediction")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("recon_mse").alias("min_score"),
            F.max("recon_mse").alias("max_score"),
        )
        .withColumn("threshold", F.lit(threshold))
        .orderBy("prediction")
    )
