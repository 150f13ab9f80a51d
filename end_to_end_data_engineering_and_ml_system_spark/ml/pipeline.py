"""Feature/ML pipeline (SURVEY.md §2.11) — fully distributed.

The reference fits its scaler by collecting the table to the driver
(preprocess_cicids2017.py:262-304, M9) and runs inference via ``toPandas``
per micro-batch (stream_anomaly_detector.py:212-303, M2). Here:

- **Standardizer**: fit = one distributed aggregate producing a 1-row stats
  frame (decimal sums → order-independent); apply = broadcast cross join +
  column expressions. Matches the reference's semantics exactly: population
  stddev (ddof=0) with the zero-std→1.0 guard (preprocess_cicids2017.py:280).
- **Anomaly score**: mean squared z-score across features — the
  autoencoder-MSE-shaped scalar (M5/A6) as a pure column expression.
- **PCA reconstruction scorer** (M7 parity): MLlib Pipeline (assembler →
  scaler → PCA). Since PCA components are orthonormal, reconstruction error
  = ||z||² − ||proj||² — no matrix multiply, just two squared norms.
- **Batched model inference** (M2 replacement): ``mapInPandas`` — the model
  loads once per partition, executors score Arrow batches; nothing ever
  collects to the driver.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

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
        msq = F.sum((x * x).cast(DEC)).cast("double") / F.count(x)
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


def apply_standardizer(
    df: DataFrame, stats: DataFrame, cols: Sequence[str], prefix: str = "z_"
) -> DataFrame:
    """Append z-scored columns via a broadcast cross join with the 1-row
    stats frame (no driver round-trip; the reference's M9 distributed)."""
    out = df.crossJoin(F.broadcast(stats))
    zcols = [
        ((F.col(c).cast("double") - F.col(f"mean_{c}")) / F.col(f"std_{c}")).alias(
            f"{prefix}{c}"
        )
        for c in cols
    ]
    return out.select(*df.columns, *zcols)


def mse_score(zcols: Sequence[str]) -> Column:
    """Mean squared value across standardized features — the reconstruction-
    MSE-shaped anomaly score (M5: per-row MSE vs threshold)."""
    total = None
    for c in zcols:
        sq = F.col(c) * F.col(c)
        total = sq if total is None else total + sq
    return total / F.lit(float(len(zcols)))


def score_and_route_literal(
    df: DataFrame,
    stats_row,
    cols: Sequence[str],
    threshold: float = 2.0,
) -> DataFrame:
    """Full scoring envelope: standardize → MSE score → threshold prediction
    → confidence (the scored_flows contract: FIXTURES.md §4;
    stream_anomaly_detector.py:278-302), with the 1-row stats pre-collected
    to literals (see :func:`apply_standardizer_literal` for when and why)."""
    from ..functions.scalars import classify_by_threshold, confidence

    z = apply_standardizer_literal(df, stats_row, cols)
    zcols = [f"z_{c}" for c in cols]
    scored = z.withColumn("anomaly_score", mse_score(zcols))
    return scored.withColumn(
        "prediction", classify_by_threshold("anomaly_score", threshold)
    ).withColumn("confidence", confidence("anomaly_score"))


def fit_pca_pipeline(df: DataFrame, cols: Sequence[str], k: int):
    """The shared VectorAssembler → StandardScaler(withMean) → PCA fit.
    Both M7 scoring paths (the Vector-pipeline scorer and the serialized-
    weights trainer) consume ONE fitted model from here — previously each
    ran its own identical fit, doubling the treeAggregate passes and
    resting on the two fits being bit-identical (they are, on a fixed
    partitioning, but nothing needs that assumption now)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import PCA, StandardScaler, VectorAssembler

    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=list(cols), outputCol="features"),
            StandardScaler(
                inputCol="features",
                outputCol="scaled",
                withMean=True,
                withStd=True,
            ),
            PCA(k=k, inputCol="scaled", outputCol="pc"),
        ]
    )
    return pipe.fit(df)


def pca_reconstruction_scores(
    df: DataFrame, cols: Sequence[str], k: int, id_col: str, model=None
) -> DataFrame:
    """MLlib PCA reconstruction-error scorer — the Spark-native autoencoder
    analog (M7): error = ||z||² − ||PCAᵀz||² (components orthonormal), per
    row, divided by dim to match the MSE shape. Pass a pre-fitted ``model``
    (from :func:`fit_pca_pipeline`) to skip the fit."""
    from pyspark.ml.functions import vector_to_array

    if model is None:
        model = fit_pca_pipeline(df, cols, k)
    out = model.transform(df)

    def arr_sq_norm(c: Column) -> Column:
        return F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )

    z = vector_to_array("scaled")
    p = vector_to_array("pc")
    err = (arr_sq_norm(z) - arr_sq_norm(p)) / F.lit(float(len(cols)))
    # tiny negatives can appear from float cancellation; clamp at 0
    return out.select(
        F.col(id_col),
        F.greatest(err, F.lit(0.0)).alias("recon_error"),
    )


def batched_inference(
    df: DataFrame,
    cols: Sequence[str],
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Arrow-batched model inference via ``mapInPandas`` (M2 done right):
    the 'model' (a seeded linear scorer standing in for any pickled/keras
    model) is constructed once per partition, executors stream batches, the
    driver never sees data. Swap ``make_model``/``score`` for a real model
    load (e.g. mlflow.pyfunc.load_model) without changing the plan shape."""
    import numpy as np

    feature_cols = list(cols)
    schema = f"{id_col} bigint, model_score double"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        # per-partition model init — the pattern that replaces per-batch
        # driver-side model.predict (stream_anomaly_detector.py:262-276)
        rng = np.random.RandomState(seed)
        w = rng.uniform(-1.0, 1.0, size=len(feature_cols))
        for pdf in batches:
            x = pdf[feature_cols].to_numpy(dtype="float64")
            logits = np.tanh(x) @ w  # squash so raw-scale features can't saturate
            score = 1.0 / (1.0 + np.exp(-logits))
            yield pd.DataFrame({id_col: pdf[id_col], "model_score": score})

    return df.select(id_col, *feature_cols).mapInPandas(run, schema=schema)


def train_serialized_autoencoder(
    df: DataFrame, cols: Sequence[str], k: int = 2, model=None
) -> bytes:
    """Fit a linear autoencoder (PCA weights — the closed-form optimum for
    a linear encoder/decoder) DISTRIBUTED, then serialize the weights to
    bytes: the artifact a model registry (e.g. MLflow) would store, and
    what the reference persists as a Keras .h5 (train_autoencoder.py:34-51,
    240-269). Only the (dim×k) weight matrix and the scaler stats leave the
    cluster — never the data. Pass a pre-fitted ``model`` (from
    :func:`fit_pca_pipeline`) to serialize without re-fitting."""
    import pickle

    import numpy as np

    if model is None:
        model = fit_pca_pipeline(df, cols, k)
    scaler, pca = model.stages[1], model.stages[2]
    payload = {
        "cols": list(cols),
        "mean": np.array(scaler.mean.toArray(), dtype="float64"),
        "std": np.array(scaler.std.toArray(), dtype="float64"),
        "w": np.array(pca.pc.toArray(), dtype="float64"),  # (dim, k), orthonormal
    }
    return pickle.dumps(payload, protocol=4)


def serialized_model_inference(
    df: DataFrame, model_bytes: bytes, id_col: str
) -> DataFrame:
    """End-to-end M2 replacement: a SERIALIZED model rides a Spark broadcast,
    each executor partition deserializes it once, Arrow batches stream
    through numpy scoring (reference: per-micro-batch driver-side
    model.predict, stream_anomaly_detector.py:212-303). Swapping the pickle
    for keras.models.load_model(bytes) changes only the closure body — the
    plan shape, broadcast, and batch flow are identical.

    Score = 1 / (1 + reconstruction_mse) ∈ (0, 1], deterministic."""
    import pickle

    import numpy as np

    cols = pickle.loads(model_bytes)["cols"]
    bc = df.sparkSession.sparkContext.broadcast(model_bytes)
    schema = f"{id_col} bigint, model_score double"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        m = pickle.loads(bc.value)  # once per partition, not per batch
        mean, std, w = m["mean"], np.where(m["std"] == 0, 1.0, m["std"]), m["w"]
        for pdf in batches:
            x = pdf[m["cols"]].to_numpy(dtype="float64")
            z = (x - mean) / std
            # orthonormal W: reconstruction error = ||z||^2 - ||zW||^2
            err = np.maximum(
                (z * z).sum(axis=1) - ((z @ w) ** 2).sum(axis=1), 0.0
            ) / float(len(m["cols"]))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "model_score": 1.0 / (1.0 + err)}
            )

    return df.select(id_col, *cols).mapInPandas(run, schema=schema)


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


def inference_with_fallback(
    df: DataFrame,
    cols: Sequence[str],
    id_col: str,
    seed: int = 42,
    poison_col: str | None = None,
) -> DataFrame:
    """M4: per-batch inference errors mark the batch's rows normal with
    score 0.0 instead of failing the stream (stream_anomaly_detector.py:
    266-276). ``poison_col`` (tests only) injects a failure when any row
    has it set."""
    import numpy as np

    feature_cols = list(cols)
    schema = f"{id_col} bigint, model_score double, inference_ok boolean"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        rng = np.random.RandomState(seed)
        w = rng.uniform(-1.0, 1.0, size=len(feature_cols))
        for pdf in batches:
            try:
                if poison_col is not None and bool(pdf[poison_col].any()):
                    raise RuntimeError("injected inference failure")
                x = pdf[feature_cols].to_numpy(dtype="float64")
                logits = np.tanh(x) @ w
                score = 1.0 / (1.0 + np.exp(-logits))
                ok = True
            except Exception:
                score = np.zeros(len(pdf))
                ok = False
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "model_score": score,
                    "inference_ok": ok,
                }
            )

    keep = [id_col, *feature_cols] + ([poison_col] if poison_col else [])
    return df.select(*dict.fromkeys(keep)).mapInPandas(run, schema=schema)


def apply_standardizer_literal(
    df: DataFrame, stats_row, cols: Sequence[str], prefix: str = "z_"
) -> DataFrame:
    """Z-score with the 1-row stats frame collected to literals.

    Same math as ``apply_standardizer``; use this when the feature count is
    large or the frame fans out to several consumers: the crossJoin variant
    embeds the full stats *plan* (which itself embeds the training branch)
    into every downstream tree, and with ~64 features Catalyst analysis of
    the duplicated subtrees dominates wall time (measured minutes on the
    reference-width 65-column input vs seconds with literals). Collecting
    one row of scalars is not a data-path collect.

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
