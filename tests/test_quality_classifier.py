"""The round-5 robust-monitoring query: median/MAD outlier hours over
event-time buckets, checked against a numpy reference."""

from __future__ import annotations

import numpy as np
import pytest

from .conftest import SF_CORRECT


def test_mad_outlier_matches_numpy(spark):
    from end_to_end_data_engineering_and_ml_system_spark.plans.queries_quality import (  # noqa: E501
        events_mad_outlier_hours,
    )

    out = events_mad_outlier_hours(spark, SF_CORRECT).collect()
    counts = np.array([r["n_events"] for r in out], dtype=float)
    med = np.median(counts)
    mad = np.median(np.abs(counts - med))
    flagged = {r["hour"] for r in out if r["is_outlier"] == 1}
    expect = {
        r["hour"]
        for r, c in zip(out, counts)
        if abs(c - med) > 3 * 1.4826 * mad
    }
    assert flagged == expect
    row = out[0]
    assert row["median_events"] == pytest.approx(med)
    assert row["mad"] == pytest.approx(mad)
