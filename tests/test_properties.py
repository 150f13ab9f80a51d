"""Property-based tests (hypothesis): invariants that example tests can't
pin down — name-sanitize uniqueness, first-match label semantics, as-of
join vs a naive per-row reference, partitioning-invariance of the
decimal-exact scaler, salted-join equivalence under arbitrary skew."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.functions.scalars import (
    canonical_label,
)
from end_to_end_data_engineering_and_ml_system_spark.ml.pipeline import (
    fit_standardizer,
)
from end_to_end_data_engineering_and_ml_system_spark.operators.asof import asof_join
from end_to_end_data_engineering_and_ml_system_spark.operators.cleaning import (
    sanitize_columns,
    sanitize_name,
)
from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
    salted_join,
)

SLOW = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

name_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=1, max_size=24
)


@given(st.lists(name_st, min_size=1, max_size=12))
@settings(max_examples=50, deadline=None)
def test_sanitize_name_is_identifier_and_idempotent(names):
    for n in names:
        s = sanitize_name(n)
        assert s, f"empty sanitized name for {n!r}"
        assert all(c.isalnum() or c == "_" for c in s)
        assert not s[0].isdigit()
        assert sanitize_name(s) == s  # idempotent


@given(st.lists(name_st, min_size=1, max_size=10, unique=True))
@SLOW
def test_sanitize_columns_unique_and_stable(spark, raw_names):
    df = spark.createDataFrame(
        [tuple("x" for _ in raw_names)], schema=list(raw_names)
    )
    out = sanitize_columns(df)
    assert len(set(out.columns)) == len(out.columns)  # collisions uniquified
    # re-sanitizing sanitized names is a no-op
    assert sanitize_columns(out).columns == out.columns


LABELS = {
    "BENIGN": ["benign"],
    "DDoS": ["ddos"],
    "DoS": ["dos", "hulk"],
    "Bot": ["bot"],
}


def _py_label(raw: str) -> str:
    low = raw.strip().lower()
    for cls, kws in LABELS.items():
        if any(k in low for k in kws):
            return cls
    return "other"


@given(st.lists(name_st, min_size=1, max_size=60))
@SLOW
def test_canonical_label_matches_python_reference(spark, raws):
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = {
        (r["raw"], r["lbl"])
        for r in df.select(
            "raw", canonical_label("raw", LABELS).alias("lbl")
        ).collect()
    }
    want = {(r, _py_label(r)) for r in raws}
    # set-compare tolerates duplicate raw values
    assert got == want


def _py_map_label_reference(lbl):
    """Verbatim-semantics mirror of the reference map_label_simple
    (preprocess_cicids2017.py:38-63)."""
    if lbl is None:
        return "Other"
    low = lbl.strip().lower()
    if low == "benign":
        return "BENIGN"
    if any(t in low for t in ["ddos", "distributed", "dos", "hulk", "goldeneye",
                              "slowloris", "slowhttptest"]):
        return "DDoS" if "ddos" in low else "DoS"
    if "portscan" in low or "port scan" in low:
        return "PortScan"
    if "bot" in low:
        return "Bot"
    if any(t in low for t in ["patator", "brute", "bruteforce", "brute-force"]):
        return "BruteForce"
    if any(t in low for t in ["web attack", "xss", "sql", "injection"]):
        return "WebAttack"
    return lbl


@given(st.lists(st.one_of(st.none(), name_st), min_size=1, max_size=60))
@SLOW
def test_map_label_reference_matches_python_port(spark, raws):
    from end_to_end_data_engineering_and_ml_system_spark.operators.flows_etl import (
        map_label_reference,
    )

    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = {
        (r["raw"], r["lbl"])
        for r in df.select("raw", map_label_reference("raw").alias("lbl")).collect()
    }
    want = {(r, _py_map_label_reference(r)) for r in raws}
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=40
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(-99, 99)),
        min_size=1,
        max_size=40,
    ),
)
@SLOW
def test_asof_join_matches_naive_reference(spark, left_rows, right_rows):
    # uniquify right on (key, time): as-of semantics need one value per time
    rmap = {}
    for k, t, v in right_rows:
        rmap[(k, t)] = v
    right_rows = [(k, t, v) for (k, t), v in rmap.items()]

    left = spark.createDataFrame(left_rows, "k int, t int")
    right = spark.createDataFrame(right_rows, "k int, rt int, v int")
    out = asof_join(left, right, key="k", left_time="t", right_time="rt",
                    value_cols=["v"])
    got = {(r["k"], r["t"], r["v"]) for r in out.collect()}

    want = set()
    for k, t in left_rows:
        best = None
        for rk, rt, v in right_rows:
            if rk == k and rt <= t and (best is None or rt > best[0]):
                best = (rt, v)
        want.add((k, t, best[1] if best else None))
    # duplicates in left collapse identically on both sides (set compare)
    assert got == want


@given(st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=2, max_size=50))
@example(xs=[2.0e9, 2.1e9, 2.2e9])  # squares past DECIMAL(28,10)'s range
@SLOW
def test_fit_standardizer_partitioning_invariant(spark, xs):
    """The decimal-sum fit must be bit-identical under any partitioning —
    the property that makes the scaler reproducible on a cluster."""
    rows = [(float(x),) for x in xs]
    one = fit_standardizer(
        spark.createDataFrame(rows, "x double").coalesce(1), ["x"]
    ).first()
    many = fit_standardizer(
        spark.createDataFrame(rows, "x double").repartition(7), ["x"]
    ).first()
    assert one["mean_x"] == many["mean_x"]  # exact, not approx
    assert one["std_x"] == many["std_x"]
    ref_mean = sum(xs) / len(xs)
    assert math.isclose(one["mean_x"], ref_mean, rel_tol=1e-9, abs_tol=1e-6)


@given(
    st.lists(st.integers(0, 2), min_size=1, max_size=80),
    st.integers(2, 8),
)
@SLOW
def test_salted_join_equivalent_under_any_skew(spark, keys, buckets):
    left = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k int, payload int"
    )
    right = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k int, tag string")
    got = salted_join(left, right, "k", salt_buckets=buckets)
    want = left.join(right, "k")
    assert got.count() == want.count()
    assert (
        got.agg(F.sum("payload")).first()[0] == want.agg(F.sum("payload")).first()[0]
    )


@given(
    st.lists(
        st.tuples(
            st.integers(0, 120),  # seconds offset
            st.integers(0, 2),    # type index
            st.integers(-100, 100),
        ),
        min_size=1,
        max_size=60,
    )
)
@SLOW
def test_tumbling_window_agg_matches_duckdb_on_random_data(spark, rows):
    """The windowed-aggregation semantics (A8) hold on arbitrary event
    layouts, not just the fixture: 5s tumbling counts + integer sums match
    DuckDB's floor-bucket formulation exactly."""
    import duckdb
    import pandas as pd

    from tests.oracle import compare

    base = 1_700_000_000
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime([base + s for s, _, _ in rows], unit="s"),
            "event_type": [f"t{i}" for _, i, _ in rows],
            "value": [v for _, _, v in rows],
        }
    )
    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.groupBy(F.window("ts", "5 seconds").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n", "total")
    )
    con = duckdb.connect()
    con.register("ev", pdf)
    want = con.execute(
        """
        SELECT to_timestamp(floor(epoch(ts) / 5) * 5) AS bucket_start,
               event_type, COUNT(*) AS n, SUM(value) AS total
        FROM ev GROUP BY 1, 2
        """
    ).df()
    errs = compare(got, want)
    assert not errs, errs


@given(
    st.lists(st.integers(0, 3600), min_size=1, max_size=30),
    st.lists(st.integers(0, 3600), min_size=1, max_size=30),
    st.integers(0, 600),
    st.integers(0, 600),
)
@SLOW
def test_banded_range_join_matches_naive_reference(
    spark, left_secs, right_secs, lo, up
):
    """Band replication + exact filter == naive O(n^2) range join for
    arbitrary timestamp layouts and window widths (incl. zero-width edges)."""
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        banded_range_join,
    )

    if lo + up == 0:
        lo = 1  # operator rejects empty windows by contract
    left = spark.createDataFrame(
        [(i, s) for i, s in enumerate(left_secs)], "lid int, sec int"
    ).select("lid", F.timestamp_seconds(F.col("sec") + 1_700_000_000).alias("lts"))
    right = spark.createDataFrame(
        [(j, s) for j, s in enumerate(right_secs)], "rid int, sec int"
    ).select("rid", F.timestamp_seconds(F.col("sec") + 1_700_000_000).alias("rts"))
    got = {
        (r.lid, r.rid)
        for r in banded_range_join(
            left, right, "lts", "rts",
            lower=f"{lo} seconds", upper=f"{up} seconds",
        ).collect()
    }
    want = {
        (i, j)
        for i, ls in enumerate(left_secs)
        for j, rs in enumerate(right_secs)
        if ls - lo <= rs <= ls + up
    }
    assert got == want


@given(
    st.lists(
        st.one_of(
            st.integers(-(2**31), 2**31),
            st.text(
                alphabet=st.characters(min_codepoint=33, max_codepoint=0x024F),
                min_size=0,
                max_size=20,
            ),
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hash_uniform_matches_duckdb_bit_for_bit(spark, keys):
    """The engine-portability contract of deterministic sampling: Spark's
    hash_uniform must equal DuckDB's md5-prefix formula exactly, for ints
    and unicode strings alike (md5 runs over UTF-8 bytes in both)."""
    import duckdb

    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        hash_uniform,
    )

    df = spark.createDataFrame([(str(k),) for k in keys], ["k"])
    got = {
        r["k"]: r["u"]
        for r in df.select("k", hash_uniform("k").alias("u")).collect()
    }
    con = duckdb.connect()
    for k in keys:
        want = con.execute(
            "SELECT CAST(concat('0x', substr(md5(?), 1, 8)) AS BIGINT)"
            " / 4294967296.0",
            [str(k)],
        ).fetchone()[0]
        assert got[str(k)] == want, (k, got[str(k)], want)


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=30
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(-99, 99)),
        min_size=1,
        max_size=30,
    ),
    st.integers(0, 50),
)
@SLOW
def test_asof_tolerance_matches_naive_reference(
    spark, left_rows, right_rows, tol
):
    import datetime

    base = datetime.datetime(2024, 1, 1)

    def ts(s):
        return base + datetime.timedelta(seconds=s)

    rmap = {}
    for k, t, v in right_rows:
        rmap[(k, t)] = v
    right_rows = [(k, t, v) for (k, t), v in rmap.items()]

    left = spark.createDataFrame(
        [(k, ts(t)) for k, t in left_rows], "k int, t timestamp"
    )
    right = spark.createDataFrame(
        [(k, ts(t), v) for k, t, v in right_rows], "k int, rt timestamp, v int"
    )
    out = asof_join(
        left, right, key="k", left_time="t", right_time="rt",
        value_cols=["v"], tolerance=f"{tol} seconds",
    )
    got = {(r["k"], r["t"], r["v"]) for r in out.collect()}

    want = set()
    for k, t in left_rows:
        best = None
        for rk, rt, v in right_rows:
            if rk == k and rt <= t and (best is None or rt > best[0]):
                best = (rt, v)
        match = best[1] if best is not None and best[0] >= t - tol else None
        want.add((k, ts(t), match))
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(-5, 5), st.integers(0, 3)),
        min_size=0,
        max_size=12,
    ),
    st.lists(
        st.tuples(st.integers(0, 8), st.one_of(st.none(), st.integers(-5, 5))),
        min_size=0,
        max_size=12,
    ),
)
@SLOW
def test_merge_upsert_matches_naive_reference(spark, t_rows, s_rows):
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        merge_upsert,
    )

    # unique keys per side (MERGE's precondition, like any upsert target)
    t_rows = list({k: (k, v, w) for k, v, w in t_rows}.values())
    s_rows = list({k: (k, v) for k, v in s_rows}.values())
    target = spark.createDataFrame(
        t_rows, "k int, v int, w int"
    ) if t_rows else spark.createDataFrame([], "k int, v int, w int")
    source = spark.createDataFrame(
        s_rows, "k int, v int"
    ) if s_rows else spark.createDataFrame([], "k int, v int")
    got = {
        r["k"]: (r["v"], r["w"], r["action"])
        for r in merge_upsert(target, source, ["k"]).collect()
    }
    tm = {k: (v, w) for k, v, w in t_rows}
    sm = dict(s_rows)
    want = {}
    for k in set(tm) | set(sm):
        if k in tm and k in sm:
            sv = sm[k] if sm[k] is not None else tm[k][0]  # NULL-patch
            want[k] = (sv, tm[k][1], "update")
        elif k in sm:
            want[k] = (sm[k], None, "insert")
        else:
            want[k] = (tm[k][0], tm[k][1], "carryover")
    assert got == want


@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    st.integers(2, 4),
)
@SLOW
def test_duplicate_ngram_windows_matches_naive_reference(spark, docs, n):
    from end_to_end_data_engineering_and_ml_system_spark.operators.text import (
        duplicate_ngram_windows,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_windows"], r["dup_windows"])
        for r in duplicate_ngram_windows(df, "doc_id", "text", n=n).collect()
    }
    # naive reference: every length-n window; duplicated iff the same
    # window text appears in any OTHER document
    wins = {
        i: [tuple(toks[j : j + n]) for j in range(len(toks) - n + 1)]
        for i, toks in enumerate(docs)
    }
    want = {}
    for i, ws in wins.items():
        if not ws:
            continue
        dup = sum(
            1
            for w in ws
            if any(w in set(wo) for io, wo in wins.items() if io != i)
        )
        want[i] = (len(ws), dup)
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.floats(0.0, 300.0, allow_nan=False), st.booleans()
        ),
        min_size=1,
        max_size=60,
    ).filter(lambda rows: any(a for _, a in rows) and any(not a for _, a in rows))
)
@SLOW
def test_population_stability_matches_numpy_reference(spark, rows):
    import numpy as np

    from end_to_end_data_engineering_and_ml_system_spark.operators.aggregations import (
        population_stability,
    )

    df = spark.createDataFrame(rows, "value double, a boolean")
    got = {
        r["bin"]: (r["n_a"], r["n_b"], r["psi_term"])
        for r in population_stability(
            df, "value", F.col("a"), bin_width=25.0, n_bins=9
        ).collect()
    }
    bins = [min(int(v // 25.0), 8) for v, _ in rows]
    n_a = {b: 0 for b in set(bins)}
    n_b = dict(n_a)
    for b, (_, a) in zip(bins, rows):
        (n_a if a else n_b)[b] += 1
    ta, tb = sum(n_a.values()), sum(n_b.values())
    for b in n_a:
        sa = (n_a[b] + 1.0) / (ta + 9.0)
        sb = (n_b[b] + 1.0) / (tb + 9.0)
        want = (sa - sb) * np.log(sa / sb)
        ga, gb, gt = got[b]
        assert (ga, gb) == (n_a[b], n_b[b])
        assert abs(gt - want) < 1e-12
    assert set(got) == set(n_a)
