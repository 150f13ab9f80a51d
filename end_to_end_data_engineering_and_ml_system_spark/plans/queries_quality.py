"""Privacy-audit, robust-monitoring, trainer and versioned-table queries.

Round-5 surface growth on top of the SURVEY.md §2 parity set:

- l-diversity (the privacy audit k-anonymity alone misses);
- median/MAD robust outlier detection over event-time buckets (the monitor
  that survives the heavy-tailed traffic a mean/stddev z-score drowns in).

Determinism contract (NOTES.md rules): every cross-engine-compared number is
either an exact integer, a ratio of exact integers computed in one double
division, or a fixed-fold-order double expression whose sub-ulp variation is
absorbed by the driver's 9-decimal rounding; aggregates over doubles are
limited to order-independent min/max.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.catalog import load_table
from .registry import register


@register(
    "events_l_diversity_audit",
    oracle="""
        SELECT
            event_type,
            CAST(hour(ts) AS BIGINT) AS hour_of_day,
            COUNT(*) AS class_size,
            COUNT(DISTINCT user_id) AS distinct_users,
            CAST(CASE WHEN COUNT(DISTINCT user_id) >= 3 THEN 1 ELSE 0 END
                 AS INT) AS meets_l3
        FROM events
        GROUP BY 1, 2
    """,
    description=(
        "l-diversity privacy audit: distinct sensitive values per "
        "quasi-identifier class (companion to k-anonymity)"
    ),
    tags=("privacy", "aggregate", "deterministic"),
)
def events_l_diversity_audit(spark, sf_dir):
    """k-anonymity says each (event_type, hour) class is big enough;
    l-diversity asks whether the SENSITIVE attribute (user identity) is
    actually varied inside it — a class of 50 rows all from one user is
    still a disclosure. count + count_distinct in one grouped pass;
    count_distinct partial-aggregates map-side on the (class, user) grain."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hour_of_day")
    ).agg(
        F.count("*").alias("class_size"),
        F.countDistinct("user_id").alias("distinct_users"),
        (F.countDistinct("user_id") >= 3).cast("int").alias("meets_l3"),
    )


@register(
    "events_mad_outlier_hours",
    oracle="""
        WITH h AS (
            SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
            FROM events
            GROUP BY 1
        ),
        s1 AS (
            SELECT CAST(2.0 * median(n_events) AS BIGINT) AS med2 FROM h
        ),
        d AS (
            SELECT hour, n_events, med2,
                   abs(2 * n_events - med2) AS d2
            FROM h, s1
        ),
        s2 AS (
            SELECT CAST(2.0 * median(d2) AS BIGINT) AS m4 FROM d
        )
        SELECT
            hour,
            n_events,
            CAST(med2 AS DOUBLE) / 2.0 AS median_events,
            CAST(m4 AS DOUBLE) / 4.0 AS mad,
            CAST(CASE WHEN 10000 * d2 > 22239 * m4 THEN 1 ELSE 0 END AS INT)
                AS is_outlier
        FROM d, s2
    """,
    description=(
        "median/MAD robust outlier detection on hourly event counts "
        "(|x−med| > 3·1.4826·MAD), exact-integer comparison"
    ),
    tags=("analytics", "timeseries", "aggregate", "deterministic"),
)
def events_mad_outlier_hours(spark, sf_dir):
    """The robust version of the z-score burst monitor: median and MAD
    instead of mean/stddev, so one viral hour can't drag the baseline. The
    medians of integer counts are exact dyadics (med·2 and MAD·4 are
    integers), so the 3·1.4826·MAD threshold becomes the exact integer
    comparison 10000·(2|c−med|) > 22239·(4·MAD) — bit-stable on any engine
    and any partitioning. Two 1-row exact-percentile reads (the documented
    stats-to-literal pattern), then a pure projection over the hourly
    frame."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n_events"))
    med = hourly.agg(
        F.expr("percentile(n_events, 0.5)").alias("m")
    ).first()["m"]
    med2 = int(round(2.0 * med))
    d = hourly.withColumn(
        "d2", F.abs(2 * F.col("n_events") - F.lit(med2))
    )
    mad_half = d.agg(F.expr("percentile(d2, 0.5)").alias("m")).first()["m"]
    m4 = int(round(2.0 * mad_half))
    return d.select(
        "hour",
        "n_events",
        F.lit(float(med2) / 2.0).alias("median_events"),
        F.lit(float(m4) / 4.0).alias("mad"),
        (10000 * F.col("d2") > F.lit(22239 * m4)).cast("int").alias(
            "is_outlier"
        ),
    )


@register(
    "user_rate_limit_violations",
    oracle="""
        WITH w AS (
            SELECT
                user_id, ts,
                COUNT(*) OVER (
                    PARTITION BY user_id ORDER BY ts
                    RANGE BETWEEN INTERVAL '59.999999' SECOND PRECEDING
                          AND CURRENT ROW
                ) AS n_in_window
            FROM events
        )
        SELECT user_id, ts, CAST(n_in_window AS BIGINT) AS n_in_window
        FROM w
        WHERE n_in_window > 1
    """,
    description=(
        "sliding-window rate-limit audit: events where the same user sent "
        ">1 event in any trailing 60s window (exact RANGE frame)"
    ),
    tags=("analytics", "window", "abuse", "deterministic"),
)
def user_rate_limit_violations(spark, sf_dir):
    """Ingestion QoS / abuse detection without pre-bucketing artifacts: an
    exact per-event trailing count via a RANGE frame over integer epoch
    timestamps (tumbling buckets would miss straddling bursts;
    second-truncated epochs disagree with fractional event times). One
    shuffle on
    user_id; the frame scans each user's own ordered slice — integer
    counts, bit-stable anywhere."""
    ev = load_table(spark, sf_dir, "events")
    # interval RANGE frame directly over the (tz-naive) timestamp: exact
    # microsecond window semantics, identical in Spark and the oracle, and
    # free of session-timezone epoch conversions (the DataFrame API's
    # rangeBetween only takes numerics, hence the SQL window expression)
    trailing = (
        "COUNT(*) OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL '59.999999' SECOND PRECEDING "
        "AND CURRENT ROW)"
    )
    return (
        ev.select(
            "user_id",
            "ts",
            F.expr(trailing).cast("bigint").alias("n_in_window"),
        )
        .where(F.col("n_in_window") > 1)
    )


@register(
    "events_data_contract_report",
    oracle="""
        SELECT * FROM (
            SELECT
                'event_id_unique' AS "check",
                CAST(CASE WHEN COUNT(*) = COUNT(DISTINCT event_id)
                     THEN 1 ELSE 0 END AS INT) AS passed,
                CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
                    AS violations
            FROM events
            UNION ALL
            SELECT
                'value_non_negative',
                CAST(CASE WHEN SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) = 0
                     THEN 1 ELSE 0 END AS INT),
                CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
            FROM events
            UNION ALL
            SELECT
                'user_id_not_null',
                CAST(CASE WHEN SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0
                     END) = 0 THEN 1 ELSE 0 END AS INT),
                CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)
            FROM events
            UNION ALL
            SELECT
                'event_type_in_domain',
                CAST(CASE WHEN SUM(CASE WHEN event_type NOT IN
                     ('view','click','signup','purchase','error') THEN 1
                     ELSE 0 END) = 0 THEN 1 ELSE 0 END AS INT),
                CAST(SUM(CASE WHEN event_type NOT IN
                     ('view','click','signup','purchase','error') THEN 1
                     ELSE 0 END) AS BIGINT)
            FROM events
            UNION ALL
            SELECT
                'ts_not_null',
                CAST(CASE WHEN SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0
                     END) = 0 THEN 1 ELSE 0 END AS INT),
                CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            FROM events
        ) ORDER BY "check"
    """,
    description=(
        "Great-Expectations-style data contract: five checks (uniqueness, "
        "range, null, domain) evaluated in one aggregation pass"
    ),
    tags=("quality", "aggregate", "deterministic"),
)
def events_data_contract_report(spark, sf_dir):
    """The contract gate a pipeline runs before promoting a batch. All five
    checks fold into ONE full scan: conditional sums + one count_distinct
    (the only expansion; it partial-aggregates on the event_id grain), then
    the wide 1-row result unpivots to a (check, passed, violations) report.
    At 100 TB this is strictly cheaper than five separate validation
    queries — the scan dominates, so do it once."""
    ev = load_table(spark, sf_dir, "events")
    domain = ("view", "click", "signup", "purchase", "error")
    agg = ev.agg(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("n_ids"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("neg_val"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias(
            "null_user"
        ),
        F.sum(
            F.when(~F.col("event_type").isin(*domain), 1).otherwise(0)
        ).alias("bad_type"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias(
            "null_ts"
        ),
    )
    checks = agg.select(
        F.array(
            F.struct(
                F.lit("event_id_unique").alias("check"),
                (F.col("n") == F.col("n_ids")).cast("int").alias("passed"),
                (F.col("n") - F.col("n_ids")).cast("bigint").alias(
                    "violations"
                ),
            ),
            F.struct(
                F.lit("value_non_negative").alias("check"),
                (F.col("neg_val") == 0).cast("int").alias("passed"),
                F.col("neg_val").cast("bigint").alias("violations"),
            ),
            F.struct(
                F.lit("user_id_not_null").alias("check"),
                (F.col("null_user") == 0).cast("int").alias("passed"),
                F.col("null_user").cast("bigint").alias("violations"),
            ),
            F.struct(
                F.lit("event_type_in_domain").alias("check"),
                (F.col("bad_type") == 0).cast("int").alias("passed"),
                F.col("bad_type").cast("bigint").alias("violations"),
            ),
            F.struct(
                F.lit("ts_not_null").alias("check"),
                (F.col("null_ts") == 0).cast("int").alias("passed"),
                F.col("null_ts").cast("bigint").alias("violations"),
            ),
        ).alias("checks")
    )
    return (
        checks.select(F.explode("checks").alias("c"))
        .select("c.check", "c.passed", "c.violations")
        .orderBy("check")
    )


@register(
    "event_series_correlation_matrix",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS h0,
                   date_trunc('hour', MAX(ts)) AS h1
            FROM events
        ),
        spine AS (
            SELECT t.event_type, s.hour
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN bounds
            CROSS JOIN LATERAL (
                SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                    AS hour
            ) s
        ),
        c AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ),
        s AS (
            SELECT spine.event_type, spine.hour,
                   COALESCE(c.n, 0) AS n
            FROM spine LEFT JOIN c
              ON spine.event_type = c.event_type AND spine.hour = c.hour
        ),
        p AS (
            SELECT
                a.event_type AS type_a,
                bb.event_type AS type_b,
                CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                CAST(SUM(a.n) AS DECIMAL(38,0)) AS sx,
                CAST(SUM(bb.n) AS DECIMAL(38,0)) AS sy,
                CAST(SUM(a.n * a.n) AS DECIMAL(38,0)) AS sxx,
                CAST(SUM(bb.n * bb.n) AS DECIMAL(38,0)) AS syy,
                CAST(SUM(a.n * bb.n) AS DECIMAL(38,0)) AS sxy
            FROM s a JOIN s bb
              ON a.hour = bb.hour AND a.event_type < bb.event_type
            GROUP BY 1, 2
        )
        SELECT
            type_a, type_b,
            CAST(n AS BIGINT) AS n_hours,
            CAST(n * sxy - sx * sy AS DOUBLE)
                / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                   * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr
        FROM p
    """,
    description=(
        "time-series similarity: pairwise Pearson correlation of hourly "
        "count series between event types, from exact integer sufficient "
        "statistics on a zero-filled hour spine"
    ),
    tags=("analytics", "timeseries", "aggregate", "deterministic"),
)
def event_series_correlation_matrix(spark, sf_dir):
    """Which traffic series move together (and which anti-correlate —
    e.g. errors vs purchases) — the similarity-search primitive for
    monitoring dashboards. Missing hours count as 0 via a generated spine
    (correlation over only-shared hours is a different, biased statistic).
    All six sufficient statistics per pair are EXACT integers
    (DECIMAL(38,0)); doubles appear only in the final
    subtract/divide/sqrt, each a single correctly-rounded IEEE op — so the
    matrix is bit-identical on any engine and partitioning. Scale shape:
    the (type,hour) grain reduces map-side; the pair join runs on the tiny
    spine table, never on raw events."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    ).first()
    spine_hours = spark.sql(
        "SELECT explode(sequence(TIMESTAMP_NTZ'{lo}', TIMESTAMP_NTZ'{hi}', "
        "INTERVAL 1 HOUR)) AS hour".format(lo=bounds["lo"], hi=bounds["hi"])
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(spine_hours)
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"))
    s = (
        spine.join(c, ["event_type", "hour"], "left")
        .select(
            "event_type", "hour", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
    )
    a = s.alias("a")
    b = s.alias("b")
    d38 = "decimal(38,0)"
    p = (
        a.join(
            b,
            (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count("*").cast(d38).alias("n"),
            F.sum("a.n").cast(d38).alias("sx"),
            F.sum("b.n").cast(d38).alias("sy"),
            F.sum(F.col("a.n") * F.col("a.n")).cast(d38).alias("sxx"),
            F.sum(F.col("b.n") * F.col("b.n")).cast(d38).alias("syy"),
            F.sum(F.col("a.n") * F.col("b.n")).cast(d38).alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return p.select(
        "type_a",
        "type_b",
        n.cast("bigint").alias("n_hours"),
        (
            (n * sxy - sx * sy).cast("double")
            / (
                F.sqrt((n * sxx - sx * sx).cast("double"))
                * F.sqrt((n * syy - sy * sy).cast("double"))
            )
        ).alias("corr"),
    )


@register(
    "events_t_closeness_audit",
    oracle="""
        -- t-closeness: total-variation distance between each QI class's
        -- sensitive-attribute distribution (md5-bucketed user identity)
        -- and the global one.  TV = sum_i |n_i*N - m_i*N_c| / (2*N_c*N):
        -- the numerator is an EXACT integer (missing buckets included via
        -- the class x bucket grid), doubles only in the final division.
        WITH b AS (
            SELECT event_type,
                   CAST(hour(ts) AS BIGINT) AS hour_of_day,
                   CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                        1, 8)) AS BIGINT) % 10 AS bucket
            FROM events
        ),
        g AS (
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS m FROM b GROUP BY 1
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM b),
        cls AS (
            SELECT event_type, hour_of_day,
                   CAST(COUNT(*) AS BIGINT) AS n_class
            FROM b GROUP BY 1, 2
        ),
        cb AS (
            SELECT event_type, hour_of_day, bucket,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM b GROUP BY 1, 2, 3
        ),
        grid AS (
            SELECT c.event_type, c.hour_of_day, c.n_class, g.bucket, g.m,
                   COALESCE(cb.n, 0) AS n
            FROM cls c
            CROSS JOIN g
            LEFT JOIN cb ON cb.event_type = c.event_type
                        AND cb.hour_of_day = c.hour_of_day
                        AND cb.bucket = g.bucket
        )
        SELECT
            grid.event_type, grid.hour_of_day,
            CAST(MAX(grid.n_class) AS BIGINT) AS class_size,
            CAST(SUM(abs(grid.n * tot.n_total - grid.m * grid.n_class))
                 AS BIGINT) AS tv_numer,
            CAST(SUM(abs(grid.n * tot.n_total - grid.m * grid.n_class))
                 AS DOUBLE)
                / (2.0 * CAST(MAX(grid.n_class) AS DOUBLE)
                   * CAST(MAX(tot.n_total) AS DOUBLE)) AS tv_distance
        FROM grid, tot
        GROUP BY 1, 2
    """,
    description=(
        "t-closeness privacy audit: exact total-variation distance of "
        "each QI class's sensitive distribution from the global one"
    ),
    tags=("privacy", "aggregate", "deterministic"),
)
def events_t_closeness_audit(spark, sf_dir):
    """Completes the privacy triple (k-anonymity: classes big enough;
    l-diversity: sensitive values varied; t-closeness: sensitive MIX not
    skewed — a class can pass both k and l while still leaking that it is
    dominated by one user cohort). The sensitive attribute is the
    md5-bucketed user identity (portable hashing-trick idiom). Scale
    shape: three grouped passes over the (class, bucket) grains plus a
    tiny grid join — the bucket table is 10 rows, classes are
    |event_type|x24."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % 10
    )
    b = ev.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("hour_of_day"),
        bucket.alias("bucket"),
    )
    g = b.groupBy("bucket").agg(F.count("*").cast("bigint").alias("m"))
    n_total = int(b.count())
    cls = b.groupBy("event_type", "hour_of_day").agg(
        F.count("*").cast("bigint").alias("n_class")
    )
    cb = b.groupBy("event_type", "hour_of_day", "bucket").agg(
        F.count("*").cast("bigint").alias("n")
    )
    grid = (
        cls.crossJoin(F.broadcast(g))
        .join(cb, ["event_type", "hour_of_day", "bucket"], "left")
        .select(
            "event_type",
            "hour_of_day",
            "n_class",
            "m",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )
    numer = F.sum(
        F.abs(F.col("n") * F.lit(n_total) - F.col("m") * F.col("n_class"))
    ).cast("bigint")
    return grid.groupBy("event_type", "hour_of_day").agg(
        F.max("n_class").cast("bigint").alias("class_size"),
        numer.alias("tv_numer"),
        (
            numer.cast("double")
            / (
                2.0
                * F.max("n_class").cast("double")
                * F.lit(float(n_total))
            )
        ).alias("tv_distance"),
    )


@register(
    "value_trimmed_mean_by_type",
    oracle="""
        WITH c AS (
            SELECT event_type,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        b AS (
            SELECT event_type,
                   quantile_cont(cents, 0.1) AS lo,
                   quantile_cont(cents, 0.9) AS hi
            FROM c GROUP BY 1
        )
        SELECT
            c.event_type,
            CAST(SUM(c.cents) AS DOUBLE) / COUNT(*) / 100.0
                AS trimmed_mean
        FROM c JOIN b ON c.event_type = b.event_type
        WHERE c.cents >= b.lo AND c.cents <= b.hi
        GROUP BY 1
    """,
    description=(
        "10-90% trimmed mean of event value per type via a grouped-agg "
        "pandas UDF (the declared UDAF surface), oracle-checked"
    ),
    tags=("aggregate", "udaf", "robust", "deterministic"),
)
def value_trimmed_mean_by_type(spark, sf_dir):
    """The custom-aggregate escape hatch, proven correct: a grouped-agg
    pandas UDF (Arrow-batched, one numpy computation per group) computes
    the outlier-robust trimmed mean the built-ins can't express directly —
    checked bit-level against the oracle's quantile_cont formulation.
    Exact integer cents inside; one double division per group at the end.
    At 100 TB each group's values land on one executor (the UDAF contract)
    — fine for bounded per-group cardinality; percentile-bounded built-in
    filtering is the fallback for giant groups."""
    from ..functions.scalars import trimmed_mean_cents_udaf

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    tm = trimmed_mean_cents_udaf()
    return (
        ev.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg((tm(F.col("cents")) / 100.0).alias("trimmed_mean"))
    )


@register(
    "tx_table_time_travel_counts",
    oracle="""
        SELECT 0 AS version,
               CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rows
        FROM events
        UNION ALL
        SELECT 1, CAST(COUNT(*) AS BIGINT) FROM events
        ORDER BY version
    """,
    description=(
        "versioned-table time travel: row counts of two committed "
        "snapshots read back through the transaction log"
    ),
    tags=("table-format", "source", "deterministic"),
)
def tx_table_time_travel_counts(spark, sf_dir):
    """The lakehouse read contract end-to-end: version 0 commits the
    non-error events, version 1 appends the errors (append reuses v0's
    immutable data files — only new files are written), and BOTH versions
    are then read back via the manifest. The oracle recomputes each
    snapshot's expected count from the raw table; matching proves commits
    are complete and time travel returns exactly the committed files."""
    from ..scratch import scratch_unique
    from ..sources.txlog import TxTable

    ev = load_table(spark, sf_dir, "events")
    t = TxTable(spark, scratch_unique(spark, "txdemo"))
    t.overwrite(ev.where(F.col("event_type") != "error"))
    t.append(ev.where(F.col("event_type") == "error"))
    rows = [
        (v, t.snapshot(version=v).count()) for v in t.versions()
    ]
    return spark.createDataFrame(rows, "version int, n_rows long").orderBy(
        "version"
    )


@register(
    "stream_merge_into_tx_table",
    oracle="""
        SELECT user_id,
               event_id AS last_event_id,
               ts AS last_ts
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    description=(
        "streaming MERGE INTO the transaction-log table: one committed "
        "version per micro-batch; final snapshot equals the batch SCD1 "
        "view (full oracle)"
    ),
    tags=("streaming", "cdc", "table-format", "deterministic"),
)
def stream_merge_into_tx_table(spark, sf_dir):
    """The versioned streaming-upsert loop: each micro-batch commits a
    MERGE version into the txlog table, leaving an auditable one-version-
    per-batch history, and the final snapshot is batch-split-independent
    (ordering by (ts, event_id), not arrival) — so the streaming query
    shares the batch SCD1 oracle verbatim. The invariant that the table
    accumulated one version per non-empty batch is asserted in
    tests/test_streaming.py."""
    from ..scratch import scratch_unique
    from ..sources.txlog import TxTable
    from ..streaming.pipeline import events_stream, run_merge_into_table

    table = TxTable(spark, scratch_unique(spark, "txmerge"))
    state = run_merge_into_table(
        events_stream(spark, sf_dir), table, "user_id", ["ts", "event_id"]
    )
    return state.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
    )


@register(
    "hourly_seasonal_naive_mase",
    oracle="""
        -- seasonal-naive benchmark forecast (yhat[h] = y[h-168]) scored
        -- with MASE: mean|err| over mean|one-step naive err|, both sums of
        -- exact integer count differences; doubles only in the final
        -- division.
        WITH bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS h0,
                   date_trunc('hour', MAX(ts)) AS h1
            FROM events
        ),
        spine AS (
            SELECT t.event_type, s.hour
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN bounds
            CROSS JOIN LATERAL (
                SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                    AS hour
            ) s
        ),
        c AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ),
        y AS (
            SELECT spine.event_type, spine.hour,
                   COALESCE(c.n, 0) AS n
            FROM spine LEFT JOIN c
              ON spine.event_type = c.event_type AND spine.hour = c.hour
        ),
        l AS (
            SELECT event_type, hour, n,
                   LAG(n, 168) OVER (
                       PARTITION BY event_type ORDER BY hour) AS season,
                   LAG(n, 1) OVER (
                       PARTITION BY event_type ORDER BY hour) AS prev
            FROM y
        )
        SELECT
            event_type,
            CAST(COUNT(*) AS BIGINT) AS n_scored,
            CAST(SUM(abs(n - season)) AS BIGINT) AS sum_abs_err,
            CAST(SUM(abs(n - prev)) AS BIGINT) AS sum_abs_naive_err,
            CAST(SUM(abs(n - season)) AS DOUBLE)
                / CAST(SUM(abs(n - prev)) AS DOUBLE) AS mase
        FROM l
        WHERE season IS NOT NULL AND prev IS NOT NULL
        GROUP BY 1
    """,
    description=(
        "seasonal-naive hourly forecast benchmark scored with MASE "
        "(exact integer error sums over the zero-filled spine)"
    ),
    tags=("analytics", "timeseries", "forecast", "deterministic"),
)
def hourly_seasonal_naive_mase(spark, sf_dir):
    """The forecasting-benchmark discipline: before any model ships, beat
    seasonal-naive (same hour last week) — MASE < 1 means you did. All
    error sums are exact integer count differences over the zero-filled
    hour spine; the lag windows ride the per-type ordered slice (one
    shuffle on event_type)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    ).first()
    spine_hours = spark.sql(
        "SELECT explode(sequence(TIMESTAMP_NTZ'{lo}', TIMESTAMP_NTZ'{hi}', "
        "INTERVAL 1 HOUR)) AS hour".format(lo=bounds["lo"], hi=bounds["hi"])
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(spine_hours)
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"))
    y = spine.join(c, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    w = W.partitionBy("event_type").orderBy("hour")
    l = y.select(
        "event_type",
        "n",
        F.lag("n", 168).over(w).alias("season"),
        F.lag("n", 1).over(w).alias("prev"),
    ).where(F.col("season").isNotNull() & F.col("prev").isNotNull())
    return l.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_scored"),
        F.sum(F.abs(F.col("n") - F.col("season")))
        .cast("bigint")
        .alias("sum_abs_err"),
        F.sum(F.abs(F.col("n") - F.col("prev")))
        .cast("bigint")
        .alias("sum_abs_naive_err"),
        # a CONSTANT hourly series (e.g. an always-quiet type) makes the
        # one-step naive error 0: MASE is undefined -> NULL (DuckDB x/0),
        # not an ANSI DIVIDE_BY_ZERO killing every other type's score
        F.when(
            F.sum(F.abs(F.col("n") - F.col("prev"))) > 0,
            F.sum(F.abs(F.col("n") - F.col("season"))).cast("double")
            / F.sum(F.abs(F.col("n") - F.col("prev"))).cast("double"),
        ).alias("mase"),
    )


@register(
    "term_posting_stats",
    oracle="""
        -- inverted-index build, summarized: per-term document frequency,
        -- total occurrences, and the first (lowest-id) posting — the
        -- search-index construction shape, top-25 terms by df with
        -- lexicographic tie-break
        WITH tok AS (
            SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(trim(text), '\\s+'),
                tk -> tk <> '')) AS term
            FROM documents
        ),
        post AS (
            SELECT term, doc_id, COUNT(*) AS tf
            FROM tok GROUP BY 1, 2
        ),
        stats AS (
            SELECT term,
                   CAST(COUNT(*) AS BIGINT) AS df,
                   CAST(SUM(tf) AS BIGINT) AS total_occurrences,
                   CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
            FROM post GROUP BY 1
        )
        SELECT term, df, total_occurrences, first_doc_id
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY df DESC, term) AS rn
            FROM stats
        )
        WHERE rn <= 25
    """,
    description=(
        "inverted-index construction stats: per-term df / occurrences / "
        "first posting, top-25 by document frequency"
    ),
    tags=("text", "index", "aggregate", "deterministic"),
)
def term_posting_stats(spark, sf_dir):
    """The search-index build as a declarative plan: explode terms, reduce
    to the (term, doc) posting grain (map-side combined — within-doc
    repeats collapse before the shuffle), then the per-term rollup. At
    100 TB the posting grain IS the index; this query materializes its
    health stats. Deterministic: integer counts, lexicographic
    tie-break."""
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # explode_outer + isNotNull: see operators/text.py (explode guard)
    tok = docs.select(
        "doc_id", F.explode_outer(tokens("text")).alias("term")
    ).filter(F.col("term").isNotNull())
    post = tok.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    stats = post.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("total_occurrences"),
        F.min("doc_id").cast("bigint").alias("first_doc_id"),
    )
    # distributed TakeOrderedAndProject — no global-window single reducer
    return stats.orderBy(F.desc("df"), F.asc("term")).limit(25)


@register(
    "join_cardinality_estimate_vs_actual",
    oracle="""
        -- the textbook CBO estimate |R ⋈ S| ≈ |R|·|S| / max(d_R, d_S)
        -- versus ground truth, per join — the estimator audit an optimizer
        -- engineer runs when plans pick bad strategies. Exact integers in,
        -- one double division out.
        WITH s AS (
            SELECT
                (SELECT COUNT(*) FROM orders) AS n_o,
                (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS d_o,
                (SELECT COUNT(*) FROM customer) AS n_c,
                (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS d_c,
                (SELECT COUNT(*) FROM orders o
                 JOIN customer c ON o.o_custkey = c.c_custkey) AS actual_oc,
                (SELECT COUNT(*) FROM lineitem) AS n_l,
                (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS d_l,
                (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS d_ok,
                (SELECT COUNT(*) FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey) AS actual_lo
        )
        SELECT * FROM (
            SELECT 'orders_customer' AS join_name,
                   CAST(n_o AS BIGINT) AS n_left,
                   CAST(n_c AS BIGINT) AS n_right,
                   CAST(floor(n_o * n_c / greatest(d_o, d_c)) AS BIGINT)
                       AS estimated_rows,
                   CAST(actual_oc AS BIGINT) AS actual_rows,
                   CAST(floor(n_o * n_c / greatest(d_o, d_c)) AS DOUBLE)
                       / CAST(actual_oc AS DOUBLE) AS est_over_actual
            FROM s
            UNION ALL
            SELECT 'lineitem_orders',
                   CAST(n_l AS BIGINT), CAST(n_o AS BIGINT),
                   CAST(floor(n_l * n_o / greatest(d_l, d_ok)) AS BIGINT),
                   CAST(actual_lo AS BIGINT),
                   CAST(floor(n_l * n_o / greatest(d_l, d_ok)) AS DOUBLE)
                       / CAST(actual_lo AS DOUBLE)
            FROM s
        ) ORDER BY join_name
    """,
    description=(
        "CBO estimator audit: textbook equi-join cardinality estimate vs "
        "ground truth for the two core joins"
    ),
    tags=("optimizer", "diagnostics", "aggregate", "deterministic"),
)
def join_cardinality_estimate_vs_actual(spark, sf_dir):
    """Why plans go wrong, quantified: the uniform-frequency estimate
    |R|·|S|/max(d_R,d_S) against the true join size. A ratio near 1 means
    NDV statistics alone would plan this join well; far from 1 flags skew
    that needs histograms (or the engine's salting/AQE paths). All inputs
    are exact integer counts — the estimate division floors identically
    in both engines (DuckDB integer / is double division, so both sides
    CAST the double quotient to BIGINT)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    n_o = orders.count()
    d_o = orders.select("o_custkey").distinct().count()
    n_c = cust.count()
    d_c = cust.select("c_custkey").distinct().count()
    actual_oc = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).count()
    n_l = li.count()
    d_l = li.select("l_orderkey").distinct().count()
    d_ok = orders.select("o_orderkey").distinct().count()
    actual_lo = li.join(orders, li.l_orderkey == orders.o_orderkey).count()

    def row(name, nl, nr, dl, dr, actual):
        est = int(nl * nr / max(dl, dr))
        return (name, nl, nr, est, actual, float(est) / float(actual))

    rows = [
        row("lineitem_orders", n_l, n_o, d_l, d_ok, actual_lo),
        row("orders_customer", n_o, n_c, d_o, d_c, actual_oc),
    ]
    return spark.createDataFrame(
        sorted(rows),
        "join_name string, n_left long, n_right long, estimated_rows long,"
        " actual_rows long, est_over_actual double",
    )


@register(
    "order_price_equidepth_histogram",
    bench=True,
    oracle="""
        -- equi-DEPTH histogram (equal counts per bucket, data-driven
        -- edges) — the histogram an optimizer actually wants, vs the
        -- equi-width value_histogram. Deterministic: NTILE over exact
        -- integer cents with key tie-break.
        WITH c AS (
            SELECT o_orderkey,
                   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                       AS cents
            FROM orders
        ),
        b AS (
            SELECT cents,
                   NTILE(10) OVER (ORDER BY cents, o_orderkey) AS bucket
            FROM c
        )
        SELECT
            CAST(bucket AS INT) AS bucket,
            CAST(COUNT(*) AS BIGINT) AS n_orders,
            CAST(MIN(cents) AS DOUBLE) / 100.0 AS lo_price,
            CAST(MAX(cents) AS DOUBLE) / 100.0 AS hi_price
        FROM b
        GROUP BY 1
    """,
    description=(
        "equi-depth price histogram: 10 equal-count buckets with "
        "data-driven edges (NTILE over exact cents)"
    ),
    tags=("analytics", "aggregate", "optimizer", "deterministic"),
)
def order_price_equidepth_histogram(spark, sf_dir):
    """Equal-count buckets expose the distribution's shape where
    equal-width buckets pile everything into two bars — and equi-depth
    edges are exactly what CBO histograms store. The tiling is the
    DISTRIBUTED exact NTILE (operators/relational.py::global_ntile):
    range-repartition on (cents, key), rank within each range partition,
    add broadcast prefix offsets — bit-identical to the single-window
    NTILE with no single-reducer stage, so the plan survives 100x."""
    from ..operators.relational import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
    b = global_ntile(
        orders.select(cents.alias("cents"), F.col("o_orderkey")),
        10,
        [("cents", "asc"), ("o_orderkey", "asc")],
        out="bucket",
    )
    return b.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        (F.min("cents").cast("double") / 100.0).alias("lo_price"),
        (F.max("cents").cast("double") / 100.0).alias("hi_price"),
    )


@register(
    "signup_to_purchase_latency_quantiles",
    oracle="""
        -- activation speed: per-user first signup -> first purchase
        -- latency, exact quartiles over integer second deltas (dyadic
        -- medians, engine-stable)
        WITH f AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END)
                       AS first_signup,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS first_purchase
            FROM events
            GROUP BY 1
        ),
        d AS (
            SELECT CAST(floor(epoch(first_purchase))
                        - floor(epoch(first_signup)) AS BIGINT) AS delta_s
            FROM f
            WHERE first_signup IS NOT NULL
              AND first_purchase IS NOT NULL
              AND first_purchase >= first_signup
        )
        SELECT
            CAST(COUNT(*) AS BIGINT) AS n_users,
            quantile_cont(delta_s, 0.25) AS p25_s,
            quantile_cont(delta_s, 0.50) AS p50_s,
            quantile_cont(delta_s, 0.75) AS p75_s
        FROM d
    """,
    description=(
        "activation latency: first-signup to first-purchase quartiles "
        "(exact percentiles over integer second deltas)"
    ),
    tags=("analytics", "funnel", "aggregate", "deterministic"),
)
def signup_to_purchase_latency_quantiles(spark, sf_dir):
    """The activation-speed KPI: one conditional-min reduce on the user
    grain (map-side combined), then exact quartiles over integer second
    deltas — interpolated midpoints are dyadic, so the numbers are
    bit-stable on any engine. Truncated epoch seconds keep the delta an
    exact integer (determinism rule: fractional epochs are floats in the
    oracle engine)."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    d = f.where(
        F.col("first_signup").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_signup"))
    ).select(
        (
            F.unix_timestamp("first_purchase")
            - F.unix_timestamp("first_signup")
        )
        .cast("bigint")
        .alias("delta_s")
    )
    return d.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.expr("percentile(delta_s, 0.25)").alias("p25_s"),
        F.expr("percentile(delta_s, 0.50)").alias("p50_s"),
        F.expr("percentile(delta_s, 0.75)").alias("p75_s"),
    )


@register(
    "stream_contract_split_counts",
    oracle="""
        SELECT
            CAST(CASE WHEN value >= 0 AND user_id IS NOT NULL
                      AND event_type IN
                          ('view','click','signup','purchase','error')
                 THEN 1 ELSE 0 END AS INT) AS passed,
            CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1
    """,
    description=(
        "data-contract gate IN the stream: per-micro-batch pass/violation "
        "split, accumulated counts equal the batch gate (full oracle)"
    ),
    tags=("streaming", "quality", "deterministic"),
)
def stream_contract_split_counts(spark, sf_dir):
    """The promotion gate applied at ingestion time instead of after the
    fact: every micro-batch splits rows by the contract predicate (range,
    null, enum-domain checks — a pure projection), and the running
    pass/violation counts are associative, so the streamed result is
    bit-equal to the batch gate over the full table — the oracle IS that
    batch SQL. The violating side of this split is what feeds a
    dead-letter sink in production (see run_dead_letter_foreach_batch)."""
    from ..streaming.pipeline import events_stream, run_to_memory_sink

    domain = ("view", "click", "signup", "purchase", "error")
    s = events_stream(spark, sf_dir)
    # coalesce(..., 0): a NULL value makes the conjunction NULL, which must
    # bucket under passed=0 (NULL-as-violation) to match the oracle's
    # CASE WHEN ... THEN 1 ELSE 0 semantics.
    passed = F.coalesce(
        (
            (F.col("value") >= 0)
            & F.col("user_id").isNotNull()
            & F.col("event_type").isin(*domain)
        ).cast("int"),
        F.lit(0),
    )
    agg = s.select(passed.alias("passed")).groupBy("passed").agg(
        F.count("*").alias("n_events")
    )
    return run_to_memory_sink(agg)


@register(
    "watermark_tolerance_curve",
    oracle="""
        -- how many events a watermark of delay D would DROP, for a sweep
        -- of candidate delays — the tuning table behind the ST4 choice.
        -- Same deterministic md5-jitter arrival model as
        -- event_time_disorder_stats; an event is dropped at delay D when
        -- its event time lags the running max by MORE than D seconds.
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
        ),
        lagged AS (
            SELECT CASE WHEN ts < prior_max
                        THEN CAST(floor(epoch(prior_max)) AS BIGINT)
                             - CAST(floor(epoch(ts)) AS BIGINT)
                        ELSE 0 END AS lag_s,
                   1 AS one
            FROM w
        ),
        d(delay_s) AS (VALUES (0), (60), (600), (3600), (21600), (86400))
        SELECT
            CAST(delay_s AS BIGINT) AS delay_s,
            CAST(SUM(CASE WHEN lag_s > delay_s THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dropped,
            CAST(SUM(CASE WHEN lag_s > delay_s THEN 1 ELSE 0 END)
                 AS DOUBLE) / SUM(one) AS drop_frac
        FROM lagged, d
        GROUP BY 1
    """,
    description=(
        "watermark tuning table: events dropped at each candidate delay "
        "(0s..1d sweep over the deterministic arrival model)"
    ),
    tags=("streaming", "quality", "window", "deterministic"),
)
def watermark_tolerance_curve(spark, sf_dir):
    """ST4 tuning, quantified: the completeness-vs-latency tradeoff as a
    table — each candidate watermark delay with exactly how many events it
    would drop. One running-max window (the disorder query's shape), then
    a 6-value constant cross join with conditional integer sums — the
    sweep costs one scan, not six."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    jitter = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
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
    lag = F.when(
        F.col("ts") < F.col("prior_max"),
        F.unix_timestamp("prior_max") - F.unix_timestamp("ts"),
    ).otherwise(0)
    lagged = j.select(
        F.max("ts").over(w).alias("prior_max"), "ts"
    ).select(lag.alias("lag_s"))
    delays = spark.createDataFrame(
        [(0,), (60,), (600,), (3600,), (21600,), (86400,)], "delay_s long"
    )
    x = lagged.crossJoin(F.broadcast(delays))
    dropped = F.sum(
        F.when(F.col("lag_s") > F.col("delay_s"), 1).otherwise(0)
    )
    return x.groupBy("delay_s").agg(
        dropped.cast("bigint").alias("n_dropped"),
        (dropped.cast("double") / F.count("*")).alias("drop_frac"),
    )


@register(
    "sessions_per_user_histogram",
    oracle="""
        -- engagement shape: how many 30-min-gap sessions each user has,
        -- as a histogram (the engagement-depth companion to DAU): new
        -- session when the gap from the previous event exceeds 30 min
        WITH g AS (
            SELECT user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_ts
            FROM events
        ),
        s AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN prev_ts IS NULL
                                 OR ts - prev_ts >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
            FROM g
            GROUP BY 1
        )
        SELECT n_sessions,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM s
        GROUP BY 1
    """,
    description=(
        "sessions-per-user histogram (30-min gap sessionization reduced "
        "to per-user counts, then the engagement-depth distribution)"
    ),
    tags=("analytics", "session", "window", "deterministic"),
)
def sessions_per_user_histogram(spark, sf_dir):
    """Engagement depth, not just reach: the per-user session count
    distribution. One lag window per user lane (the proven session-gap
    definition shared with user_session_windows), a user-grain reduce,
    then the tiny histogram grain — integer counts everywhere."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    # interval comparison on the naive timestamps (determinism rule 4:
    # epoch() is fractional in the oracle engine, unix_timestamp truncates)
    new_sess = F.when(
        F.col("prev_ts").isNull()
        | F.expr("ts - prev_ts >= INTERVAL 30 MINUTE"),
        1,
    ).otherwise(0)
    s = g.groupBy("user_id").agg(
        F.sum(new_sess).cast("bigint").alias("n_sessions")
    )
    return s.groupBy("n_sessions").agg(
        F.count("*").cast("bigint").alias("n_users")
    )


@register(
    "tx_table_zorder_pruned_scan",
    oracle="""
        SELECT 'value' AS pruned_on,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events WHERE value BETWEEN 200.0 AND 500.0
        UNION ALL
        SELECT 'user_id' AS pruned_on,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events WHERE user_id BETWEEN 0 AND 20
    """,
    description=(
        "OPTIMIZE ZORDER on the tx table, then metadata-pruned range "
        "scans on BOTH clustered columns (full oracle on the raw table)"
    ),
    tags=("table-format", "source", "deterministic"),
)
def tx_table_zorder_pruned_scan(spark, sf_dir):
    """Multi-column data skipping end-to-end: four appends land events in
    hash-arbitrary data dirs (every dir overlaps every range — zero
    skipping), then ``optimize`` z-orders the table on (user_id, value)
    with equi-depth quantile codes, and ``snapshot_pruned`` answers a
    selective range on EITHER column reading only the overlapping dirs.
    The oracle recomputes both scans on the raw table: matching proves the
    pruning is metadata-only planning, never a semantic change. (The
    dirs-skipped assertions live in tests/test_txlog.py — file layout
    isn't SQL-expressible.)"""
    from ..scratch import scratch_unique
    from ..sources.txlog import TxTable

    ev = load_table(spark, sf_dir, "events")
    t = TxTable(
        spark,
        scratch_unique(spark, "txzorder"),
        stats_cols=("value", "user_id"),
    )
    for i in range(4):
        t.append(ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(4)) == i))
    t.optimize(["user_id", "value"], num_buckets=16)

    def scan(col, lo, hi, label):
        return t.snapshot_pruned(col, lo, hi).agg(
            F.lit(label).alias("pruned_on"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )

    return scan("value", 200.0, 500.0, "value").unionByName(
        scan("user_id", 0, 20, "user_id")
    )


# ---------------------------------------------------------------------------
# Differential-privacy release (completes the k/l/t/DP privacy quartet)
# ---------------------------------------------------------------------------


@register(
    "events_dp_noisy_counts",
    oracle="""
        WITH c AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
            FROM events
            WHERE event_type IS NOT NULL
            GROUP BY 1
        ),
        u AS (
            SELECT event_type, n_true,
                   CAST(concat('0x',
                        substr(md5(concat('dp-v1|', event_type)), 1, 8))
                        AS BIGINT) / 4294967296.0 AS uni
            FROM c
        )
        SELECT event_type,
               ROUND(n_true
                     + (CASE WHEN uni < CAST(0.5 AS DOUBLE)
                             THEN CAST(1.0 AS DOUBLE)
                             ELSE CAST(-1.0 AS DOUBLE) END)
                       * (CAST(1.0 AS DOUBLE) / CAST(0.5 AS DOUBLE))
                       * ln(CAST(1.0 AS DOUBLE)
                            - CAST(2.0 AS DOUBLE)
                              * abs(uni - CAST(0.5 AS DOUBLE))),
                     6) AS n_released
        FROM u
        ORDER BY event_type
    """,
    description=(
        "ε-DP histogram release (ε=0.5): Laplace(1/ε) noise via the "
        "inverse CDF over the engine-portable md5 uniform — the SEEDED "
        "form, so the release is reproducible and oracle-checkable"
    ),
    tags=("privacy", "governance", "aggregate", "deterministic"),
)
def events_dp_noisy_counts(spark, sf_dir):
    """The release step after the k-anonymity / l-diversity / t-closeness
    audits pass: per-category counts with Laplace(Δf/ε) noise (Δf = 1 for
    a disjoint histogram, ε = 0.5). Production DP uses fresh randomness;
    a REPRODUCIBLE pipeline wants the seeded form — noise derived from
    the engine-portable md5 uniform (operators/relational.py::
    hash_uniform) through the Laplace inverse CDF, so reruns, engine
    migrations, and the DuckDB oracle all release the identical values.
    The RELEASE carries only the noised counts — publishing n_true
    alongside would void the privacy guarantee entirely — and the seed
    string ('dp-v1|') must be treated as a secret and excluded from any
    real release: anyone holding it can invert the noise. Noise is
    pointwise double math rounded at 6 decimals (the libm-ln
    convention)."""
    from ..operators.relational import hash_uniform

    events = load_table(spark, sf_dir, "events")
    c = (
        events.filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_true"))
    )
    uni = hash_uniform(F.col("event_type"), "dp-v1|")
    sign = F.when(uni < F.lit(0.5), F.lit(1.0)).otherwise(F.lit(-1.0))
    scale = F.lit(1.0) / F.lit(0.5)  # Δf/ε with Δf=1, ε=0.5
    noise = (
        sign
        * scale
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(uni - F.lit(0.5)))
    )
    return c.select(
        "event_type",
        F.round(F.col("n_true") + noise, 6).alias("n_released"),
    ).orderBy("event_type")


@register(
    "tx_table_point_lookup_bloom",
    oracle="""
        WITH pick AS (
            SELECT user_id FROM events
            WHERE user_id IS NOT NULL
            GROUP BY 1
            ORDER BY COUNT(*) DESC, user_id
            LIMIT 1
        )
        SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_types
        FROM events e JOIN pick USING (user_id)
        GROUP BY 1
    """,
    description=(
        "Bloom-sidecar point lookup on the txlog table: the busiest "
        "user's rows fetched via per-dir bloom pruning (full oracle)"
    ),
    tags=("table-format", "index", "deterministic"),
)
def tx_table_point_lookup_bloom(spark, sf_dir):
    """The needle-in-100TB read path: events land in the table as four
    hash-bucketed appends (each dir spans the whole user_id range, so
    min/max skipping prunes NOTHING — exactly the case bloom sidecars
    exist for), then the busiest user is fetched through
    ``point_lookup``, which consults only the per-dir bloom bitmaps
    before touching parquet. The row filter still applies, so bloom
    false positives cost I/O, never correctness — the returned counts
    equal the plain batch scan (the oracle)."""
    from ..scratch import scratch_unique
    from ..sources.txlog import TxTable

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    t = TxTable(
        spark, scratch_unique(spark, "txbloom"), bloom_cols=("user_id",)
    )
    for i in range(4):
        t.append(ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(4)) == i))
    busiest = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "user_id")
        .first()["user_id"]
    )
    return (
        t.point_lookup("user_id", int(busiest))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
        )
    )


@register(
    "tx_table_delete_counts",
    oracle="""
        -- SQL DELETE semantics: removed only where the predicate is
        -- TRUE, so NULL-valued rows survive
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        WHERE value IS NULL OR value < 100 OR value > 400
        GROUP BY 1
        ORDER BY event_type
    """,
    description=(
        "DELETE WHERE on the txlog table: range delete with disjoint "
        "dirs carried over unrewritten; remaining counts (full oracle)"
    ),
    tags=("table-format", "cdc", "deterministic"),
)
def tx_table_delete_counts(spark, sf_dir):
    """GDPR-shaped DML: events land as four VALUE-RANGE-bucketed appends
    (so the delete range misses some dirs entirely), then
    ``delete_range(value, 100, 400)`` commits a new version rewriting
    only the overlapping dirs — the carried dirs are byte-identical
    paths, asserted in tests/test_txlog.py. The surviving per-type
    counts equal the batch complement filter (the oracle); time travel
    still reads the pre-delete version."""
    from ..scratch import scratch_unique
    from ..sources.txlog import TxTable

    ev = load_table(spark, sf_dir, "events")
    t = TxTable(spark, scratch_unique(spark, "txdelete"), stats_cols=("value",))
    splits = [(None, 0.0), (0.0, 100.0), (100.0, 400.0), (400.0, None)]
    for lo, hi in splits:
        part = ev
        if lo is not None:
            part = part.filter(F.col("value") >= lo)
        if hi is not None:
            part = part.filter(F.col("value") < hi)
        if lo is None:
            part = ev.filter(
                F.col("value").isNull() | (F.col("value") < 0.0)
            )
        t.append(part)
    t.delete_range("value", 100.0, 400.0)
    return (
        t.snapshot()
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_events"))
        .orderBy("event_type")
    )


@register(
    "tx_table_schema_evolution_counts",
    oracle="""
        -- rows ingested BEFORE the ADD COLUMN read back NULL; rows after
        -- carry the computed tier — membership via the md5-range split
        WITH tagged AS (
            SELECT CASE
                WHEN CAST(concat('0x',
                     substr(md5(concat('evo|', CAST(event_id AS VARCHAR))),
                            1, 8)) AS BIGINT) / 4294967296.0 < 0.5
                THEN NULL
                ELSE CASE WHEN value >= 200 THEN 'high' ELSE 'low' END
            END AS tier
            FROM events
        )
        SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM tagged
        GROUP BY 1
        ORDER BY tier NULLS FIRST
    """,
    description=(
        "ALTER TABLE ADD COLUMN on the txlog table: metadata-only "
        "evolution, old rows NULL through the mergeSchema read (oracle)"
    ),
    tags=("table-format", "schema-evolution", "deterministic"),
)
def tx_table_schema_evolution_counts(spark, sf_dir):
    """Schema evolution end to end: half the events land before the
    ``add_column('tier')`` evolution (they read back NULL — the commit
    touches no data file), the other half lands after, carrying the
    widened schema; committed-schema enforcement applies to the evolved
    shape from the moment of the ALTER. Membership in the two eras is
    the engine-portable md5-range split, so the per-tier counts have a
    full batch oracle."""
    from ..operators.relational import hash_uniform
    from ..scratch import scratch_unique
    from ..sources.txlog import TxTable

    ev = load_table(spark, sf_dir, "events")
    u = hash_uniform(F.col("event_id"), "evo|")
    t = TxTable(spark, scratch_unique(spark, "txevolve"))
    t.append(ev.filter(u < 0.5))
    t.add_column("tier", "string")
    t.append(
        ev.filter(~(u < 0.5)).withColumn(
            "tier",
            F.when(F.col("value") >= 200, "high").otherwise("low"),
        )
    )
    return (
        t.snapshot()
        .groupBy("tier")
        .agg(F.count("*").cast("long").alias("n_events"))
        .orderBy(F.col("tier").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# Round 8: vocabulary coverage, txlog delete-all/restore
# ---------------------------------------------------------------------------


@register(
    "token_coverage_curve",
    oracle="""
        -- Zipf in actionable form: what share of the corpus's token MASS
        -- do the top 10 / 100 / 1000 vocabulary types cover? The number
        -- that sizes stopword lists, cache tiers, and softmax shortlists.
        WITH freq AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
            FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(trim(text), '\\s+'),
                    tk -> tk <> '')) AS tok
                FROM documents
            )
            GROUP BY 1
        ),
        ranked AS (
            SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk
            FROM freq
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
                       CAST(COUNT(*) AS BIGINT) AS v
                FROM freq)
        SELECT c.cutoff,
               CAST(SUM(CASE WHEN rk <= c.cutoff THEN n ELSE 0 END)
                    AS BIGINT) AS tokens_covered,
               CAST(SUM(CASE WHEN rk <= c.cutoff THEN n ELSE 0 END)
                    AS DOUBLE) / tot.t AS coverage,
               CAST(LEAST(c.cutoff, tot.v) AS BIGINT) AS types_used
        FROM ranked
        CROSS JOIN (SELECT unnest([10, 100, 1000]) AS cutoff) c
        CROSS JOIN tot
        GROUP BY c.cutoff, tot.t, tot.v
    """,
    description=(
        "vocabulary coverage curve: share of total token mass covered by "
        "the top 10/100/1000 types (distributed global rank)"
    ),
    tags=("text", "llm-data", "aggregate", "deterministic"),
)
def token_coverage_curve(spark, sf_dir):
    """How head-heavy is the corpus? Frequency table (map-side combined),
    then the DISTRIBUTED global rank over the whole vocabulary
    (relational.global_row_number — the vocab scales with the corpus, so
    no single-reducer window), then one grouped conditional sum per
    cutoff. Coverage is one double division of exact integers."""
    from ..operators.relational import global_row_number
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        # explode_outer + isNotNull: see operators/text.py (explode guard)
        docs.select(F.explode_outer(tokens("text")).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ranked = global_row_number(
        freq, [("n", "desc"), ("tok", "asc")], out="rk"
    )
    # totals from the RANKED frame: it reads the helper's cached
    # range-partitioned copy, so the tokenize+explode+groupBy pipeline
    # is never executed a second time
    tot = ranked.agg(
        F.sum("n").cast("long").alias("t"),
        F.count("*").cast("long").alias("v"),
    )
    cuts = spark.createDataFrame([(10,), (100,), (1000,)], "cutoff int")
    return (
        ranked.crossJoin(F.broadcast(cuts))
        .crossJoin(F.broadcast(tot))
        .groupBy("cutoff", "t", "v")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("cutoff"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("tokens_covered")
        )
        .select(
            "cutoff",
            "tokens_covered",
            (F.col("tokens_covered").cast("double") / F.col("t")).alias(
                "coverage"
            ),
            F.least(F.col("cutoff").cast("bigint"), F.col("v"))
            .cast("bigint")
            .alias("types_used"),
        )
    )


@register(
    "tx_table_delete_all_restore_counts",
    oracle="""
        -- DELETE-everything then RESTORE: the final snapshot equals the
        -- original table (the oracle), and the empty intermediate version
        -- must read back as a schema-stable EMPTY frame (its count rides
        -- along as a constant column — if the empty read raised, the
        -- query itself would fail)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(0 AS BIGINT) AS n_at_empty_version
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY 1
    """,
    description=(
        "txlog DELETE removing every row leaves the table readable "
        "(empty snapshot of the committed schema); RESTORE recovers it"
    ),
    tags=("table-format", "deterministic"),
)
def tx_table_delete_all_restore_counts(spark, sf_dir):
    """The failure mode the empty-commit fix closed, as driver evidence:
    a DELETE WHERE that matches every row commits a version with NO data
    dirs — snapshot() must return an empty DataFrame of the committed
    schema (not an unreadable UNABLE_TO_INFER_SCHEMA error), and RESTORE
    must bring the full table back as a new audited commit. The final
    per-type counts equal the plain batch scan; the empty version's
    count (necessarily 0) is carried as a column so the read path is
    exercised inside the checked result."""
    from ..scratch import scratch_unique
    from ..sources.txlog import TxTable

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("event_id", "event_type", "value")
    )
    t = TxTable(spark, scratch_unique(spark, "txdelall"))
    v_data = t.append(ev)
    t.delete_range("event_id", 0, 1 << 62)  # removes every row
    n_empty = t.snapshot().count()  # readable, schema-stable, 0 rows
    t.restore(v_data)
    return (
        t.snapshot()
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .withColumn(
            "n_at_empty_version", F.lit(n_empty).cast("bigint")
        )
    )
