"""Invariant tests for the non-oracle ML ops: feature alignment, the
literal standardizer, the detect ingest path and correlations."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table


def test_align_features_trims_pads_and_orders(spark, sf_dir):
    from end_to_end_data_engineering_and_ml_system_spark.ml.pipeline import align_features

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_tax"
    )
    out = align_features(li, ["l_extendedprice", "l_quantity", "l_missing"])
    assert out.columns == ["l_extendedprice", "l_quantity", "l_missing"]
    assert out.schema["l_missing"].dataType.typeName() == "double"
    assert out.filter("l_missing != 0.0").count() == 0
    # an int fill still yields a double column ("casts everything double")
    out = align_features(li, ["l_quantity", "l_missing"], fill=-1)
    assert [f.dataType.typeName() for f in out.schema] == ["double", "double"]
    assert out.filter("l_missing != -1.0").count() == 0
    out = align_features(li, ["l_missing"], fill=float("nan"))
    assert out.filter("isnan(l_missing)").count() == li.count()


# names Spark would otherwise read as a struct path, split, or unquote
ODD_NAMES = ["fwd.pkts", "flow bytes", "bytes/s", "odd`name"]


def test_align_and_standardize_take_names_literally(spark):
    from end_to_end_data_engineering_and_ml_system_spark.ml.pipeline import (
        align_features,
        apply_standardizer_literal,
    )

    schema = ", ".join(f"`{c.replace('`', '``')}` int" for c in ODD_NAMES)
    df = spark.createDataFrame([(1, 2, 3, 4), (5, 6, 7, 8)], schema)
    order = ["bytes/s", "missing.col", "fwd.pkts", "flow bytes", "odd`name"]
    aligned = align_features(df, order)
    assert aligned.columns == order
    assert {f.dataType.typeName() for f in aligned.schema} == {"double"}
    assert aligned.collect() == [(3.0, 0.0, 1.0, 2.0, 4.0), (7.0, 0.0, 5.0, 6.0, 8.0)]

    stats = {}
    for c in ODD_NAMES:
        stats[f"mean_{c}"], stats[f"std_{c}"] = 1.0, 2.0
    z = apply_standardizer_literal(df, stats, ODD_NAMES, prefix="z.")
    assert z.columns == [*ODD_NAMES, *[f"z.{c}" for c in ODD_NAMES]]
    assert z.select(*[F.col(f"`z.{c.replace('`', '``')}`") for c in ODD_NAMES]).collect() == [
        (0.0, 0.5, 1.0, 1.5),
        (2.0, 2.5, 3.0, 3.5),
    ]


def _bits(a):
    import numpy as np

    return np.ascontiguousarray(a, dtype=np.float64).view(np.int64)


def test_apply_standardizer_literal_is_bit_identical_to_numpy(spark):
    """64 features, stats at the edges of the double range: each z-score
    must equal numpy's ``(x - mean) / std`` bit for bit, whether the stats
    come as floats in a dict or as Decimals in a Row."""
    from decimal import Decimal

    import numpy as np
    import pandas as pd
    from pyspark.sql import Row

    from end_to_end_data_engineering_and_ml_system_spark.ml.pipeline import (
        apply_standardizer_literal,
    )

    rng = np.random.default_rng(7)
    n, d = 40, 64
    cols = [f"f{i}" for i in range(d)]
    x = rng.normal(0.0, 1.0, (n, d)) * 10.0 ** rng.integers(-300, 300, d)
    edge = [-3.5, 5e-324, -5e-324, 2.2250738585072014e-308, 1e300, -1e300,
            0.1, -1 / 3, 123456789.123456789, -0.0]
    mean = rng.normal(0.0, 1.0, d) * 10.0 ** rng.integers(-20, 20, d)
    std = np.abs(rng.normal(1.0, 1.0, d)) + 1e-3
    mean[: len(edge)] = edge
    std[len(edge) : 2 * len(edge)] = [abs(v) or 1.0 for v in edge]
    std[2 * len(edge)] = -2.0
    pdf = pd.DataFrame(x, columns=cols)
    pdf.insert(0, "rid", np.arange(n))
    df = spark.createDataFrame(pdf)
    with np.errstate(over="ignore"):  # a subnormal std overflows to inf
        want = _bits((x - mean) / std)

    as_floats = {f"mean_{c}": float(m) for c, m in zip(cols, mean)}
    as_floats.update({f"std_{c}": float(s) for c, s in zip(cols, std)})
    as_decimals = Row(**{k: Decimal(v) for k, v in as_floats.items()})
    for stats in (as_floats, as_decimals):
        z = apply_standardizer_literal(df, stats, cols)
        assert z.columns == ["rid", *cols, *[f"z_{c}" for c in cols]]
        got = z.orderBy("rid").select(*[f"z_{c}" for c in cols]).toPandas()
        assert (_bits(got.to_numpy()) == want).all()
    # non-finite stats have no SQL literal and still come out as doubles
    inf = float("inf")
    edges = {"mean_f1": -inf, "std_f1": 1.0, "mean_f2": 0.0, "std_f2": inf,
             "mean_f3": float("nan"), "std_f3": 1.0}
    got = apply_standardizer_literal(df, edges, ["f1", "f2", "f3"]).orderBy("rid")
    got = got.select("z_f1", "z_f2", "z_f3").toPandas().to_numpy()
    assert (_bits(got[:, :2]) == _bits((x[:, 1:3] - [-inf, 0.0]) / [1.0, inf])).all()
    assert np.isnan(got[:, 2]).all()
    # a Decimal that is not exactly a double rounds like float() does
    row = Row(mean_f0=Decimal("0.1000000000000000000001"), std_f0=Decimal(3))
    got = apply_standardizer_literal(df, row, ["f0"]).orderBy("rid").select("z_f0")
    assert (_bits(got.toPandas()["z_f0"]) == _bits((x[:, 0] - 0.1) / 3.0)).all()


def test_detect_path_on_reference_traffic_csv(spark):
    """The reference's own simulator feed (data_example/network_traffic.csv:
    65 pre-scaled feature columns, no labels) through the engine's detect
    ingest path: permissive CSV read -> feature alignment -> autoencoder
    fit and per-row reconstruction scoring. Pins the §3.1 contract on real
    reference data."""
    import os

    import numpy as np
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.ml.pipeline import (
        align_features,
    )
    from end_to_end_data_engineering_and_ml_system_spark.ml.training import (
        fit_mlp_autoencoder,
        mlp_reconstruction_scores,
    )
    from end_to_end_data_engineering_and_ml_system_spark.sources.files import (
        read_csv_permissive,
    )

    from pyspark.sql.types import DoubleType, StructField, StructType

    path = "/root/reference/data_example/network_traffic.csv"
    if not os.path.exists(path):
        pytest.skip("reference example data not present")
    header = spark.read.option("header", True).csv(path).columns
    schema = StructType([StructField(c, DoubleType(), True) for c in header])
    raw = read_csv_permissive(spark, path, schema)
    # the simulator feed carries 64 features + a string Label column
    feats = [
        c for c in raw.columns if not c.startswith("_corrupt") and c != "Label"
    ]
    assert len(feats) == 64
    aligned = align_features(raw, feats)  # casts everything double, ordered
    aligned = aligned.select(
        F.monotonically_increasing_id().alias("rid"),
        F.array(*[F.col(f"`{c}`") for c in feats]).alias("features"),
    )
    model = fit_mlp_autoencoder(aligned, dim=64, epochs=5)
    scored = mlp_reconstruction_scores(aligned, model, "rid").toPandas()
    assert len(scored) == raw.count() == 16
    assert (np.isfinite(scored["recon_mse"]) & (scored["recon_mse"] >= 0)).all()


def test_pairwise_correlations_constant_feature_null_not_crash(spark):
    """A zero-variance (constant) feature has undefined correlation: must
    yield NULL — not an ANSI DIVIDE_BY_ZERO (Spark 4's default mode) that
    kills the whole matrix."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_and_ml_system_spark.ml.pipeline import (
        pairwise_correlations,
    )

    df = spark.range(20).select(
        F.col("id").cast("double").alias("a"),
        (F.col("id") * 2).cast("double").alias("b"),
        F.lit(7.0).alias("c"),  # constant
    )
    rows = {(r["feat_x"], r["feat_y"]): r["corr"]
            for r in pairwise_correlations(df, ["a", "b", "c"]).collect()}
    assert abs(rows[("a", "b")] - 1.0) < 1e-9
    assert rows[("a", "c")] is None
    assert rows[("b", "c")] is None
