"""Cleaning / projection operators (SURVEY.md §2.2).

Re-expresses the reference's batch-ETL cleaning stage
(/root/reference/scripts/preprocess_cicids2017.py:66-260) Spark-first:

- name sanitization is a single ``toDF`` pass, not a ``withColumnRenamed``
  loop (each rename builds a new projection node — O(n²) analysis time);
- dirty-value → null rewrites are expressions over all columns at once, not
  one filter+count job per column (the reference runs ~79 jobs there,
  preprocess_cicids2017.py:152-162);
- instrumentation counts are a single-pass conditional aggregate (one job)
  rather than N ``df.filter(...).count()`` actions — at 100 TB each extra
  action is a full re-scan.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SANITIZE_RE = re.compile(r"[^0-9A-Za-z_]+")


def sanitize_name(name: str) -> str:
    """Normalize one column name to ``[0-9A-Za-z_]`` (ref: P1/P16,
    preprocess_cicids2017.py:66-78): collapse illegal runs to ``_``, strip
    edge underscores, guard leading digits."""
    out = _SANITIZE_RE.sub("_", name.strip())
    out = re.sub(r"_+", "_", out).strip("_")
    if not out:
        out = "col"
    if out[0].isdigit():
        out = f"c_{out}"
    return out


def sanitize_columns(df: DataFrame) -> DataFrame:
    """Sanitize all column names in one projection, uniquifying collisions
    with ``_1``/``_2`` suffixes (ref: preprocess_cicids2017.py:117-137)."""
    taken: set[str] = set()
    counters: dict[str, int] = {}
    new_names: list[str] = []
    for c in df.columns:
        base = sanitize_name(c)
        name = base
        # the generated suffix may itself collide with a LATER sanitized
        # name (["a b", "a_b", "a_b_1"] would otherwise emit two a_b_1) —
        # probe until genuinely fresh
        while name in taken:
            counters[base] = counters.get(base, 0) + 1
            name = f"{base}_{counters[base]}"
        taken.add(name)
        new_names.append(name)
    return df.toDF(*new_names)


def find_column(df: DataFrame, target: str) -> str | None:
    """Case/punctuation-insensitive column resolution (ref: P2/F14,
    preprocess_cicids2017.py:172-179, 212-219)."""
    want = _fold_name(target)
    for c in df.columns:
        if _fold_name(c) == want:
            return c
    return None


def _fold_name(name: str) -> str:
    """Lowercase alphanumerics only — so a raw spelling ("Down/Up Ratio")
    resolves against its sanitized form ("Down_Up_Ratio")."""
    return "".join(ch for ch in name.lower() if ch.isalnum())


def drop_columns_fuzzy(df: DataFrame, names: Iterable[str]) -> DataFrame:
    """Drop columns resolved fuzzily against actual names (ref: P3,
    preprocess_cicids2017.py:195-229)."""
    resolved = [found for n in names if (found := find_column(df, n))]
    return df.drop(*resolved) if resolved else df


def select_first_occurrence(df: DataFrame) -> DataFrame:
    """Keep the first occurrence of each duplicate column name (ref: P5,
    stream_anomaly_detector.py:193-201). Duplicate names can't be referenced
    directly, so rename positionally to unique temporaries first."""
    tmp = [f"__c{i}" for i in range(len(df.columns))]
    keep: list[tuple[str, str]] = []
    seen: set[str] = set()
    for t, c in zip(tmp, df.columns):
        if c not in seen:
            seen.add(c)
            keep.append((t, c))
    return df.toDF(*tmp).select(
        *[F.col(t).alias(c) for t, c in keep]
    )


def replace_values_with_null(
    df: DataFrame, cols: Sequence[str], values: Sequence[str]
) -> DataFrame:
    """``when(col.isin(values), NULL).otherwise(col)`` over many columns in a
    single projection (ref: P7, preprocess_cicids2017.py:151-162 — the
    Infinity→null rewrite)."""
    vals = list(values)
    return df.select(
        *[
            F.when(F.col(c).isin(vals), F.lit(None)).otherwise(F.col(c)).alias(c)
            if c in set(cols)
            else F.col(c)
            for c in df.columns
        ]
    )


def conditional_counts(df: DataFrame, conds: Mapping[str, Column]) -> DataFrame:
    """One-row DataFrame counting rows satisfying each named condition, in a
    single pass (ref: A3 — replaces the reference's N filter+count jobs,
    preprocess_cicids2017.py:152-162)."""
    return df.agg(
        *[
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).alias(name)
            for name, cond in conds.items()
        ]
    )


def exact_dedup(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """Full-row or keyed dedup (ref: P10, preprocess_cicids2017.py:146-149).
    At scale prefer keyed dedup: full-row dedup shuffles every column."""
    return df.dropDuplicates(list(keys)) if keys else df.dropDuplicates()


def dedup_keep_best(
    df: DataFrame,
    key_cols: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keyed dedup keeping the best row per key (P10 at pipeline scale:
    near-dup groups keep their canonical representative — longest text,
    newest version, highest score). ``row_number`` over a deterministic
    ordering; ties must be broken by a unique column in ``order_by`` for
    reproducibility."""
    from pyspark.sql import Window

    if "__rn" in df.columns:
        # withColumn would silently REPLACE the caller's column, and the
        # final drop would then destroy it
        raise ValueError(
            "dedup_keep_best: input already has a __rn column; rename it"
        )
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
