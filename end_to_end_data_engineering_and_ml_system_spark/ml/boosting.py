"""Distributed gradient-boosted stumps — the boosting trainer family,
alongside the linear/MLP autoencoders and k-means.

LS-Boost (Friedman 2001, "Greedy Function Approximation", Algorithm 2)
with depth-1 regression trees over BUCKETIZED integer features — the
public XGBoost/LightGBM histogram idea reduced to its distributed core:

- features are exact integers bucketized once by exact integer arithmetic
  (``(x - min) * B div (max - min + 1)``, identical in Spark SQL and
  DuckDB), so candidate thresholds are the B bucket boundaries;
- each boosting round needs exactly ONE distributed aggregation: the
  (feature, bucket) histogram of residual sums — ``#features × B`` rows —
  with per-row residual contributions cast to DECIMAL(28,10) before the
  shuffle-sum, so the histogram is accumulation-order independent
  (NOTES.md determinism rules; same device as every other trainer here);
- the driver scans the tiny histogram for the best split (prefix sums in
  exact decimal, gain = S_L²/n_L + S_R²/n_R as doubles in a fixed
  order, ties → smallest feature then smallest bucket) and appends one
  stump; model state on the driver is O(rounds) — the documented
  parameter-server exception to the no-collect rule;
- predictions stay IN-PLAN: f_m(x) is a fixed expression tree
  (f0 + Σ ν·(bucket ≤ t ? γ_L : γ_R)) rebuilt from the stump list each
  round — no per-row Python, no prediction column materialized.

Training SSE is non-increasing by construction (adding the LS-fit stump
scaled by 0 < ν < 2 reduces each leaf's SSE by n·γ²·ν·(2−ν) ≥ 0) — the
pytest invariant, mirroring the monotone-loss guarantees of the other
trainers."""

from __future__ import annotations

from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(28,10)"


@dataclass(frozen=True)
class Stump:
    feature: str
    threshold_bucket: int  # go left when bucket <= threshold
    gamma_l: float
    gamma_r: float
    gain: float


@dataclass
class GbdtFitResult:
    f0: float
    stumps: list[Stump]
    sses: list[float]  # training SSE per round, BEFORE adding that stump
    learning_rate: float
    bucket_stats: dict[str, tuple[int, int]]  # feature -> (min, max)
    n_buckets: int

    def prediction_expr(self, upto: int | None = None) -> Column:
        """The in-plan scorer: f0 + Σ ν·stump(bucketized feature)."""
        pred: Column = F.lit(self.f0)
        for s in self.stumps[: len(self.stumps) if upto is None else upto]:
            mn, mx = self.bucket_stats[s.feature]
            b = bucket_expr(s.feature, mn, mx, self.n_buckets)
            pred = pred + F.lit(self.learning_rate) * F.when(
                b <= F.lit(s.threshold_bucket), F.lit(s.gamma_l)
            ).otherwise(F.lit(s.gamma_r))
        return pred


def bucket_expr(colname: str, mn: int, mx: int, n_buckets: int) -> Column:
    """Exact-integer equi-width bucket id in [0, n_buckets): mirrored by
    the oracle as ``(x - mn) * B // (mx - mn + 1)`` — integer division on
    integers, no float rounding anywhere."""
    return F.expr(
        f"(CAST({colname} AS BIGINT) - {mn}) * {n_buckets} "
        f"div ({mx} - {mn} + 1)"
    )


def fit_gbdt_stumps(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    rounds: int = 5,
    learning_rate: float = 0.5,
    n_buckets: int = 16,
) -> GbdtFitResult:
    """Fit ``rounds`` depth-1 LS-Boost trees. ``df`` must carry exact
    integer feature columns and an exact numeric label (use cents for
    money). One aggregation collects per-feature min/max; each round is
    one (feature, bucket) histogram aggregation."""
    feats = sorted(feature_cols)
    stats_row = df.agg(
        *[F.min(c).cast("long").alias(f"mn_{c}") for c in feats],
        *[F.max(c).cast("long").alias(f"mx_{c}") for c in feats],
        F.sum(F.col(label_col).cast(DEC)).cast("double").alias("sy"),
        F.count("*").cast("long").alias("n"),
    ).first()
    n = int(stats_row["n"])
    if n == 0:
        raise ValueError("empty training frame")
    bucket_stats = {
        c: (int(stats_row[f"mn_{c}"]), int(stats_row[f"mx_{c}"]))
        for c in feats
    }
    f0 = float(stats_row["sy"]) / n  # one double division of exact sums

    result = GbdtFitResult(
        f0=f0,
        stumps=[],
        sses=[],
        learning_rate=learning_rate,
        bucket_stats=bucket_stats,
        n_buckets=n_buckets,
    )
    for _ in range(rounds):
        pred = result.prediction_expr()
        resid = F.col(label_col).cast("double") - pred
        # ONE aggregation: per (feature, bucket) decimal-exact residual
        # sums + counts + the global SSE for the loss curve, via an
        # unpivoted projection (#features rows per input row, map-side
        # combined — the histogram trick, not a per-feature pass)
        stack_expr = ", ".join(
            f"'{c}', (CAST({c} AS BIGINT) - {bucket_stats[c][0]})"
            f" * {n_buckets} div ({bucket_stats[c][1]} - {bucket_stats[c][0]} + 1)"
            for c in feats
        )
        hist_rows = (
            df.select(
                resid.alias("__r"),
                F.expr(
                    f"stack({len(feats)}, {stack_expr}) AS (feature, bucket)"
                ),
            )
            .groupBy("feature", "bucket")
            .agg(
                F.sum(F.col("__r").cast(DEC)).alias("s"),
                F.sum((F.col("__r") * F.col("__r")).cast(DEC))
                .cast("double")
                .alias("ss"),
                F.count("*").cast("long").alias("cnt"),
            )
            .collect()
        )
        # SSE: every feature column sees every row once, so divide by the
        # number of features; decimal shuffle-sums made each group exact,
        # and the driver folds the ~F×B group values in sorted order so
        # the curve is independent of collect() arrival order
        sse = (
            sum(
                r["ss"]
                for r in sorted(
                    hist_rows, key=lambda r: (r["feature"], r["bucket"])
                )
            )
            / len(feats)
        )
        result.sses.append(sse)
        # driver-side best split over the tiny histogram: exact decimal
        # prefix sums, double gain in one fixed expression order
        best: Stump | None = None
        for c in feats:
            rows = sorted(
                (r for r in hist_rows if r["feature"] == c),
                key=lambda r: r["bucket"],
            )
            tot_s = sum((Decimal(str(r["s"])) for r in rows), Decimal(0))
            tot_n = sum(r["cnt"] for r in rows)
            run_s, run_n = Decimal(0), 0
            for r in rows[:-1]:  # a split must leave both sides non-empty
                run_s += Decimal(str(r["s"]))
                run_n += r["cnt"]
                rem_s, rem_n = tot_s - run_s, tot_n - run_n
                if run_n == 0 or rem_n == 0:
                    continue
                sl, sr = float(run_s), float(rem_s)
                gain = sl * sl / run_n + sr * sr / rem_n
                cand = Stump(
                    feature=c,
                    threshold_bucket=int(r["bucket"]),
                    gamma_l=sl / run_n,
                    gamma_r=sr / rem_n,
                    gain=gain,
                )
                if (
                    best is None
                    or cand.gain > best.gain
                    or (
                        cand.gain == best.gain
                        and (cand.feature, cand.threshold_bucket)
                        < (best.feature, best.threshold_bucket)
                    )
                ):
                    best = cand
        if best is None:  # degenerate: no splittable feature
            break
        result.stumps.append(best)
    return result
