"""Scalar function layer (SURVEY.md §2.9).

The reference's label-mapping Python UDF (preprocess_cicids2017.py:38-63,
170, 188) is re-expressed as a native when/contains chain — Catalyst can
optimize it and it never leaves the JVM. The prediction envelope functions
(confidence, threshold classification — stream_anomaly_detector.py:283-296)
are plain column expressions.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def canonical_label(
    col: Column | str,
    keyword_classes: Mapping[str, Sequence[str]],
    default: str = "other",
) -> Column:
    """Map a raw label to its canonical class by case-insensitive substring
    match, first match wins (ref: F5/F6/M1). Pure when/contains chain — no
    Python UDF."""
    if not keyword_classes:
        raise ValueError("canonical_label: keyword_classes must be non-empty")
    c = F.lower(F.trim(F.col(col) if isinstance(col, str) else col))
    expr: Column | None = None
    for cls, keywords in keyword_classes.items():
        if not keywords:
            # F.when(None, ...) is a TypeError deep in Catalyst — fail at
            # the API boundary with the class name instead
            raise ValueError(
                f"canonical_label: class {cls!r} has no keywords"
            )
        cond = None
        for kw in keywords:
            k = c.contains(kw.lower())
            cond = k if cond is None else (cond | k)
        expr = F.when(cond, F.lit(cls)) if expr is None else expr.when(cond, F.lit(cls))
    return expr.otherwise(F.lit(default))


def confidence(score: Column | str) -> Column:
    """``1 / (1 + |score|)`` in (0, 1] (ref: F11,
    stream_anomaly_detector.py:285,291)."""
    s = F.col(score) if isinstance(score, str) else score
    return F.lit(1.0) / (F.lit(1.0) + F.abs(s))


def classify_by_threshold(
    score: Column | str,
    threshold: float,
    above: str = "anomaly",
    below: str = "normal",
) -> Column:
    """Threshold classification (ref: F12/M5,
    stream_anomaly_detector.py:283-291; thresholds config/settings.py:33-35)."""
    s = F.col(score) if isinstance(score, str) else score
    return F.when(s > F.lit(threshold), F.lit(above)).otherwise(F.lit(below))


def trimmed_mean_cents_udaf():
    """Grouped-aggregate pandas UDF (the declared UDAF surface, SURVEY
    §2.11): 10–90% trimmed mean over integer cents.  Arrow ships each
    group's column to one vectorized numpy computation — the shape for
    custom aggregates the built-ins can't express.  Determinism: the
    trim bounds interpolate between integers (numpy linear interpolation,
    same formula as the oracle's quantile_cont), membership of integer
    values against a strictly-between-integers bound is float-robust, and
    the kept values sum as exact int64 with one final double division."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType (not type hints): this module uses
    # ``from __future__ import annotations``, which stringifies hints and
    # defeats pandas_udf's signature inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean_cents(cents):
        import numpy as np

        v = cents.to_numpy(dtype="int64")
        if v.size == 0:
            return float("nan")
        lo = np.percentile(v, 10)
        hi = np.percentile(v, 90)
        kept = v[(v >= lo) & (v <= hi)]
        if kept.size == 0:
            return float("nan")
        return float(int(kept.sum()) / kept.size)

    return trimmed_mean_cents
