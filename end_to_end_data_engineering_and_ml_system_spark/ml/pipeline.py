"""Feature/ML pipeline (SURVEY.md §2.11) — fully distributed.

The reference fits its scaler by collecting the table to the driver
(preprocess_cicids2017.py:262-304, M9) and runs inference via ``toPandas``
per micro-batch (stream_anomaly_detector.py:212-303, M2). Here:

- **Standardizer**: fit = one distributed aggregate producing a 1-row stats
  frame (decimal sums → order-independent); apply = that row collected to
  double literals in one projection. Matches the reference's semantics
  exactly: population stddev (ddof=0) with the zero-std→1.0 guard
  (preprocess_cicids2017.py:280).
- **Feature alignment** (M3): one projection onto the model's declared
  feature order.

Scoring is the autoencoder's per-row reconstruction MSE
(``ml/training.py``: ``mlp_reconstruction_scores``), one ``mapInPandas``
pass with the model in the closure; nothing collects to the driver.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(28,10)"


def fit_standardizer(
    df: DataFrame, cols: Sequence[str], spread: bool = True
) -> DataFrame:
    """One-row stats frame with mean_<c> and std_<c> (population, zero-guarded)
    for each feature column. Exact decimal sums make the fit reproducible
    under any partitioning — which is also what makes the spread below safe:
    the per-row decimal casts+adds are the expensive part of the fit, and on
    a single-row-group fixture scan they would all run in ONE task (guide
    §2.5). Project to the feature columns, then hash-spread on their joint
    xxhash64 (deterministic, high-cardinality) so the fit aggregate uses
    every core; no-op on well-split inputs.

    ``spread=False`` skips that repartition: for a SINGLE light column the
    exchange costs more than the partial aggregate it parallelizes
    (r16 A/B: etl_end_to_end −16% with it off, stream_flow_scoring neutral,
    while the 4-column lineitem fit is 2.7× FASTER with it on — the spread
    pays for multi-column decimal work, not a lone cast+add; same decision
    rule as r15's tokenize-spread rejections)."""
    from ..sources.catalog import spread_for_compute

    df = df.select(*cols)
    if spread:
        df = spread_for_compute(df, F.xxhash64(*cols))
    aggs: list[Column] = []
    for c in cols:
        x = F.col(c).cast("double")
        mean = F.sum(x.cast(DEC)).cast("double") / F.count(x)
        # squares need the wider integral range: DEC holds 18 integer
        # digits, so |x| > 1e9 would overflow (same width as the quadratic
        # terms in pairwise_correlations)
        msq = F.sum((x * x).cast("decimal(38,10)")).cast("double") / F.count(x)
        aggs.append(mean.alias(f"mean_{c}"))
        aggs.append(msq.alias(f"msq_{c}"))
    stats = df.agg(*aggs)
    derived = [
        *[F.col(f"mean_{c}") for c in cols],
        *[
            F.when(
                F.col(f"msq_{c}") - F.col(f"mean_{c}") * F.col(f"mean_{c}")
                <= F.lit(0.0),
                F.lit(1.0),
            )
            .otherwise(
                F.sqrt(F.col(f"msq_{c}") - F.col(f"mean_{c}") * F.col(f"mean_{c}"))
            )
            .alias(f"std_{c}")
            for c in cols
        ],
    ]
    return stats.select(*derived)


def align_features(
    df: DataFrame,
    expected_cols: Sequence[str],
    fill: float = 0.0,
) -> DataFrame:
    """Feature-dimension alignment (M3): project onto the model's declared
    feature schema in its exact order — extra columns dropped, missing
    columns filled with ``fill`` — so inference never sees a shape mismatch
    (reference introspects the Keras input_shape and pads/trims ad hoc,
    stream_anomaly_detector.py:237-261; here the schema is declared and the
    alignment is one projection). Every output column is double.

    The projection is one ``selectExpr`` call: a Column chain per feature
    costs several Python→JVM round trips each, which dominated per-batch
    plan building in the detect loop."""
    present = set(df.columns)
    fill_sql = _double_sql(fill)
    return df.selectExpr(
        *[
            f"CAST({_quote(c)} AS DOUBLE) AS {_quote(c)}"
            if c in present
            else f"{fill_sql} AS {_quote(c)}"
            for c in expected_cols
        ]
    )


def apply_standardizer_literal(
    df: DataFrame, stats_row, cols: Sequence[str], prefix: str = "z_"
) -> DataFrame:
    """Z-score with the 1-row stats frame collected to literals.

    Literals rather than a broadcast cross join with the stats frame: the
    join would embed the full stats *plan* (which itself embeds the
    training branch) into every downstream tree, and with ~64 features
    Catalyst analysis of the duplicated subtrees dominates wall time
    (measured minutes on the reference-width 65-column input vs seconds
    with literals). Collecting one row of scalars is not a data-path
    collect.

    ``stats_row`` is a ``Row`` or mapping with ``mean_<c>``/``std_<c>``
    entries (floats or Decimals). Like :func:`align_features`, the
    projection is built in one ``selectExpr`` call; each statistic becomes
    an exact double literal, so the result is bit-identical to
    ``(x - mean) / std`` in IEEE doubles."""
    zcols = [
        f"(CAST({_quote(c)} AS DOUBLE) - {_double_sql(stats_row[f'mean_{c}'])})"
        f" / {_double_sql(stats_row[f'std_{c}'])} AS {_quote(prefix + c)}"
        for c in cols
    ]
    return df.selectExpr("*", *zcols)


def _quote(name: str) -> str:
    """``name`` as a SQL identifier, so dots, spaces and backticks in it are
    taken literally rather than as struct paths or syntax."""
    return "`" + name.replace("`", "``") + "`"


def _double_sql(x) -> str:
    """``x`` as a SQL double literal that parses back to the same bits:
    ``repr`` of a float round-trips exactly; NaN and the infinities have no
    literal syntax and go through a string cast."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{x!r}' AS DOUBLE)"


def pairwise_correlations(df, cols):
    """Pearson correlation matrix in ONE distributed pass, long format
    (feat_x, feat_y, corr), upper triangle.

    All moments (Σx, Σx², Σxy) accumulate through exact decimals — sums of
    doubles are order-dependent, and a correlation that changes with the
    partitioning is not reproducible at 100 TB (see functions/numeric.py).
    The final corr arithmetic runs in double over those exact sums, so any
    engine computing the same formula gets the same bits. Products ride
    DECIMAL(38,10): quadratic terms need the wider integral range.
    Assumes no nulls in ``cols`` (fixture contract; COUNT(*) denominator).

    Spread before the moment battery: k features mean k(k+1)/2 decimal
    products per row — the same multi-column-decimal shape whose fit
    spread measured 2.7× (fit_standardizer), and on a 3-task fixture scan
    the whole battery ran nearly single-threaded (r16 A/B: 4.17 → 1.06 s,
    results bit-identical — exact decimal sums are partition-independent).
    Guarded: no-op on well-split inputs."""
    from pyspark.sql import functions as F

    from ..sources.catalog import spread_for_compute

    df = spread_for_compute(df.select(*cols), F.xxhash64(*cols))
    aggs = [F.count("*").alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast("double").cast("decimal(28,10)")).alias(f"s_{c}"))
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            name = f"sp_{a}__{b}"
            pairs.append((a, b, name))
            aggs.append(
                F.sum(
                    (F.col(a).cast("double") * F.col(b).cast("double")).cast(
                        "decimal(38,10)"
                    )
                ).alias(name)
            )
    m = df.agg(*aggs)

    def var_term(c):
        return (
            F.col("n").cast("double") * F.col(f"sp_{c}__{c}").cast("double")
            - F.col(f"s_{c}").cast("double") * F.col(f"s_{c}").cast("double")
        )

    rows = []
    for a, b, name in pairs:
        if a == b:
            continue
        num = (
            F.col("n").cast("double") * F.col(name).cast("double")
            - F.col(f"s_{a}").cast("double") * F.col(f"s_{b}").cast("double")
        )
        den = var_term(a) * var_term(b)
        rows.append(
            F.struct(
                F.lit(a).alias("feat_x"),
                F.lit(b).alias("feat_y"),
                # zero-variance (constant) feature: correlation undefined —
                # NULL, never an ANSI DIVIDE_BY_ZERO that kills the job
                F.when(den > 0, num / F.sqrt(den)).alias("corr"),
            )
        )
    return m.select(F.explode(F.array(*rows)).alias("r")).select(
        "r.feat_x", "r.feat_y", "r.corr"
    )
