"""Relational operators: joins, windows, set ops, sampling (SURVEY.md §2.3,
§2.5, §2.7, §2.8).

The reference has no joins (flows are denormalized; SURVEY §2.3) — the join
surface here is the engine's own, built on Spark's join machinery with
scale-aware strategy selection:

- **broadcast** small dimensions (``F.broadcast``) so a 100 TB fact table
  never shuffles for a kB-sized dim;
- equi-joins on high-cardinality keys rely on sort-merge + AQE (skew-join
  splitting enabled in the session factory);
- semi/anti joins instead of ``IN``-subquery collects.

Window functions (§2.5): top-N per key via ``row_number`` over a bounded
partition — the distributed replacement for the dashboard's driver-side
sort+head (streamlit_dashboard.py:93-101,217-231).
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Join a fact table to a small dimension with an explicit broadcast hint
    (stream-static enrichment pattern; at 100 TB the dim must never be the
    shuffle side)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Rows of ``left`` with a match in ``right`` (EXISTS)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """Rows of ``left`` without a match in ``right`` (NOT EXISTS)."""
    return left.join(right, on=on, how="left_anti")


def top_n_per_key(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    n: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-N rows per key via ``row_number`` — requires a total order
    (callers must include a unique tiebreaker in ``order_by`` or results are
    nondeterministic under retries/partitioning changes)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n)
    )


OrderSpec = Sequence[tuple[str, str]]  # [(column_name, "asc"|"desc"), ...]


def _sort_cols(order_specs: OrderSpec) -> list[Column]:
    return [
        F.col(name).desc() if direction == "desc" else F.col(name).asc()
        for name, direction in order_specs
    ]


def _check_fresh_cols(df: DataFrame, names: Sequence[str], caller: str) -> None:
    """Internal working columns and rank outputs are added with
    ``withColumn``, which silently REPLACES an existing column — a caller
    whose frame already carries the name would lose that data (or get it
    dropped with the scratch column). Raise instead."""
    clash = [n for n in names if n in df.columns]
    if clash:
        raise ValueError(
            f"{caller}: input already has column(s) {clash}; rename them "
            "or pass a different output name"
        )


# Persisted intermediates created by the distributed-rank family. The cache
# is REQUIRED for correctness (the offsets-collect job and the later output
# job must see identical range boundaries / identical top-k sets), but its
# lifetime is the session unless someone frees it — disk blocks of a
# MEMORY_AND_DISK handle are NOT reclaimed by memory-pressure eviction.
# Harnesses that build many queries per session (bench.py, the gate tools,
# the determinism suite) call ``release_rank_caches()`` between queries,
# after each output has materialized.
#
# Tracking is PER THREAD behind a lock: the thread is the unit of query
# interleaving, so a concurrent consumer (another harness thread building
# query B while query A's output is not yet materialized) can no longer
# have its range-shuffle cache flushed early by A's release — early
# unpersist forces recomputation with re-sampled range boundaries, which
# silently yields wrong ranks. Entries key on the Thread OBJECT, not
# ``get_ident()`` — CPython recycles idents after a thread exits, and a
# recycled ident would let a new worker drain a dead thread's entries
# whose outputs another thread may not have materialized yet. Handles a
# thread abandons without releasing are swept by
# ``release_rank_caches(all_threads=True)`` at session teardown (the
# DataFrame handles themselves are tiny; the executor blocks are what
# must be freed).
_HANDLES_LOCK = threading.Lock()
_PERSISTED_HANDLES: list[tuple[threading.Thread, DataFrame]] = []


def _track_persist(df: DataFrame) -> DataFrame:
    df.persist()
    with _HANDLES_LOCK:
        _PERSISTED_HANDLES.append((threading.current_thread(), df))
    return df


def release_rank_caches(
    blocking: bool = False,
    all_threads: bool = False,
    drain_dead: bool = False,
) -> int:
    """Unpersist every intermediate cached by ``_ranged_by`` /
    ``bounded_ranked_topk`` on THIS thread since the last call (pass
    ``all_threads=True`` only at session teardown, when no query can
    still be in flight anywhere). Safe only AFTER the queries built from
    them have materialized their output (unpersisting earlier forces the
    output job to recompute the range shuffle, whose sampled boundaries
    are not guaranteed to reproduce). Returns the number of handles
    released. ``blocking=True`` waits for the executor-side block
    removal — use inside timing harnesses so async cleanup from one pass
    can't bleed into the next pass's measured window.

    ``drain_dead=True`` additionally drains entries whose owner thread has
    exited — the leak-bound for long-lived multi-threaded consumers whose
    workers come and go without a teardown sweep. It is OPT-IN, not the
    default, because "owner thread is dead" does not imply "output
    materialized": a worker may build a query (persisting its range
    shuffle), hand the un-collected DataFrame to another thread, and exit —
    draining then would force the output job to recompute the range shuffle
    with re-sampled boundaries, silently yielding wrong ranks (the same
    hazard the Thread-object keying exists to prevent). Pass it only where
    the calling architecture never hands un-materialized rank DataFrames
    across threads."""
    me = threading.current_thread()
    with _HANDLES_LOCK:
        if all_threads:
            drained = [df for _, df in _PERSISTED_HANDLES]
            _PERSISTED_HANDLES.clear()
        else:
            def _drainable(t: threading.Thread) -> bool:
                return t is me or (drain_dead and not t.is_alive())

            drained = [df for t, df in _PERSISTED_HANDLES if _drainable(t)]
            _PERSISTED_HANDLES[:] = [
                e for e in _PERSISTED_HANDLES if not _drainable(e[0])
            ]
    n = 0
    for df in drained:
        try:
            df.unpersist(blocking=blocking)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def dead_thread_rank_handles() -> int:
    """Count tracked handles whose owner thread has EXITED without
    releasing them — the forgotten-release leak class (a worker built a
    rank query, never called :func:`release_rank_caches`, and died).
    Read-only: drains nothing, so it is safe to call at any time. Live
    threads' handles are never counted — a query may still be in
    flight on them."""
    me = threading.current_thread()
    with _HANDLES_LOCK:
        return sum(
            1
            for t, _ in _PERSISTED_HANDLES
            if t is not me and not t.is_alive()
        )


def _ranged_by(df: DataFrame, order_specs: OrderSpec) -> DataFrame:
    """Shared first stage of the distributed rank / running-sum family:
    range-repartition on the order keys (each partition holds a disjoint
    key range) and tag rows with their partition id. The result is
    PERSISTED (MEMORY_AND_DISK) so the bounded offsets-collect job and
    the output job see identical range boundaries; the handle is tracked
    so harnesses can free it between queries (``release_rank_caches``)."""
    _check_fresh_cols(df, ["__pid"], "_ranged_by")
    spark = df.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = df.repartitionByRange(p, *_sort_cols(order_specs)).withColumn(
        "__pid", F.spark_partition_id()
    )
    return _track_persist(ranged)


def _global_rank(
    df: DataFrame, order_specs: OrderSpec, out: str
) -> tuple[DataFrame, int]:
    """Exact global ``row_number`` WITHOUT a single-partition window.

    Plan: range-repartition on the order keys (``_ranged_by``), rank
    locally within each range partition (a partitionBy window — fully
    parallel), then add per-partition prefix offsets from one
    O(num_partitions)-row collect — bounded by cluster width, never by
    data size — joined back as a broadcast.

    ``order_specs`` must form a TOTAL order (include a unique tiebreak
    column); ranks are then row_number-identical under any partitioning.
    Returns ``(ranked_df, total_row_count)``.
    """
    _check_fresh_cols(df, [out], "_global_rank")
    ranged = _ranged_by(df, order_specs)
    counts = sorted(
        ranged.groupBy("__pid").count().collect(), key=lambda r: r["__pid"]
    )
    offs, acc = [], 0
    for r in counts:
        offs.append((int(r["__pid"]), acc))
        acc += int(r["count"])
    off_df = ranged.sparkSession.createDataFrame(
        offs or [], "__pid int, __off long"
    )
    local = Window.partitionBy("__pid").orderBy(*_sort_cols(order_specs))
    ranked = (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(
            out, F.row_number().over(local).cast("long") + F.col("__off")
        )
        .drop("__pid", "__off")
    )
    return ranked, acc


def global_row_number(
    df: DataFrame, order_specs: OrderSpec, out: str = "rn"
) -> DataFrame:
    """Distributed replacement for ``row_number() OVER (ORDER BY ...)``:
    identical values, no WindowExec single-partition stage (see
    ``_global_rank``). Use whenever the ranked input scales with the data;
    a bare global window moves the ENTIRE input through one reducer and
    dies at 100x."""
    ranked, _ = _global_rank(df, order_specs, out)
    return ranked


def global_ntile(
    df: DataFrame, n_buckets: int, order_specs: OrderSpec, out: str = "bucket"
) -> DataFrame:
    """Distributed replacement for ``NTILE(n) OVER (ORDER BY ...)`` —
    exact NTILE semantics (first ``total mod n`` buckets get the extra
    row) computed from the distributed global rank with pure integer
    arithmetic (``DIV``), so bucket membership is bit-identical to the
    single-window form on any engine and any partitioning."""
    _check_fresh_cols(df, [out, "__grn"], "global_ntile")
    ranked, total = _global_rank(df, order_specs, "__grn")
    q, r = divmod(total, n_buckets)
    qq = max(q, 1)  # guard the unused branch when total < n_buckets
    thresh = r * (q + 1)
    bucket = F.when(
        F.col("__grn") <= F.lit(thresh),
        F.expr(f"(__grn + {q}) DIV {q + 1}"),
    ).otherwise(F.lit(r) + F.expr(f"(__grn - {thresh} + {qq - 1}) DIV {qq}"))
    return ranked.withColumn(out, bucket.cast("int")).drop("__grn")


def global_running_sum(
    df: DataFrame,
    order_specs: OrderSpec,
    value_col: str,
    out: str = "running_sum",
) -> DataFrame:
    """Distributed cumulative sum over a global order — the
    ``_ranged_prefix`` construction with per-partition value sums as the
    offsets. ``value_col`` must be integer-typed (exact, order-free sums;
    float cumsums are not cross-engine deterministic — NOTES rule 3).
    NULL semantics match ``SUM() OVER (ORDER BY ...)`` exactly: NULL
    values are skipped, and a row with no non-NULL value at or before it
    anywhere in the global order gets NULL (the per-partition offsets
    collect carries a non-NULL count alongside the sum, so an all-NULL
    or zero-sum prefix is never misread). Replaces the window form when
    the input scales with the data."""
    _check_fresh_cols(df, [out], "global_running_sum")
    vtype = dict(df.dtypes).get(value_col, "")
    if vtype not in ("tinyint", "smallint", "int", "bigint"):
        # int(float_sum) below would TRUNCATE the per-partition offsets —
        # silently wrong running sums, not merely nondeterministic ones
        raise ValueError(
            f"global_running_sum needs an integer value column, got "
            f"{value_col}: {vtype or 'missing'} (float cumsums are not "
            "cross-engine deterministic and the exact offset arithmetic "
            "would truncate)"
        )
    ranged = _ranged_by(df, order_specs)
    parts = sorted(
        ranged.groupBy("__pid")
        .agg(
            F.sum(F.col(value_col)).alias("__s"),
            F.count(F.col(value_col)).alias("__c"),  # non-NULL count
        )
        .collect(),
        key=lambda r: r["__pid"],
    )
    offs, acc, seen = [], 0, 0
    for r in parts:
        offs.append((int(r["__pid"]), acc, seen > 0))
        acc += int(r["__s"] or 0)
        seen += int(r["__c"])
    off_df = ranged.sparkSession.createDataFrame(
        offs or [], "__pid int, __off long, __seen boolean"
    )
    local = (
        Window.partitionBy("__pid")
        .orderBy(*_sort_cols(order_specs))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lsum = F.sum(F.col(value_col)).over(local)
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(
            out,
            # NULL local prefix (no value yet in this partition): fall
            # back to the prior partitions' sum — unless nothing before
            # this partition held a value either, which the window form
            # surfaces as NULL
            F.when(
                lsum.isNull() & ~F.col("__seen"), F.lit(None).cast("long")
            ).otherwise(
                F.coalesce(lsum.cast("long"), F.lit(0)) + F.col("__off")
            ),
        )
        .drop("__pid", "__off", "__seen")
    )


# Hard ceiling for bounded_ranked_topk: the rank recovery is an O(k^2)
# broadcast self-join (k=5000 -> 25M comparisons, probed fine; k=10^6 would
# be 10^12 — use global_row_number for large k, it is O(n log n) + O(P)).
BOUNDED_TOPK_MAX_K = 10_000


def bounded_ranked_topk(
    df: DataFrame,
    order_specs: OrderSpec,
    k: int,
    out: str = "rn",
    on_null: str = "drop",
) -> DataFrame:
    """Top-``k`` rows with exact global rank values 1..k, warning-free.

    ``orderBy().limit(k)`` compiles to a distributed
    TakeOrderedAndProject, so only ``k`` rows ever leave the scan; ranks
    over those survivors are then recovered by a broadcast self-join
    inequality count (rank = 1 + |rows strictly ahead|) — O(k^2) pairs
    with constant k, no WindowExec at all. ``k`` is capped at
    ``BOUNDED_TOPK_MAX_K`` (the recovery is quadratic in k; callers that
    need a large-k global rank want ``global_row_number`` instead).

    ``order_specs`` must form a total order; rows holding NULL in ANY
    order column are EXCLUDED before ranking (the lexicographic
    strictly-before predicate is NULL-unsafe — a NULL key would silently
    take rank 1). On NULL-free keys ranks equal ``row_number`` over the
    same global order. ``on_null="strict"`` raises instead of dropping
    (one extra count job) — opt in where fewer-than-k results must mean
    "small input", never "dirty keys".

    The k-row top set is PERSISTED before the self-join: both join
    branches reference it, and without the cache each branch re-executes
    the entire upstream plan (for a ranker over a full corpus scoring
    pass, measured 2x the query).
    The handle is tracked for ``release_rank_caches``."""
    if k > BOUNDED_TOPK_MAX_K:
        raise ValueError(
            f"bounded_ranked_topk k={k} exceeds BOUNDED_TOPK_MAX_K="
            f"{BOUNDED_TOPK_MAX_K} (O(k^2) rank recovery); use "
            "global_row_number for large-k global ranks"
        )
    _check_fresh_cols(df, [out], "bounded_ranked_topk")
    if on_null not in ("drop", "strict"):
        raise ValueError("bounded_ranked_topk: on_null must be 'drop' or 'strict'")
    keys_ok = F.lit(True)
    for name, _ in order_specs:
        keys_ok = keys_ok & F.col(name).isNotNull()
    if on_null == "strict":
        n_bad = df.filter(~keys_ok).count()
        if n_bad:
            cols = [name for name, _ in order_specs]
            raise ValueError(
                f"bounded_ranked_topk: {n_bad} rows hold NULL in an order "
                f"column {cols} and would be silently dropped from the "
                "ranking (on_null='strict'); clean the keys upstream or "
                "rank with on_null='drop'"
            )
    top = df.filter(keys_ok).orderBy(*_sort_cols(order_specs)).limit(k)
    _track_persist(top)
    a, b = top.alias("__rk_a"), top.alias("__rk_b")
    before = F.lit(False)
    eqs = F.lit(True)
    for name, direction in order_specs:
        av, bv = F.col(f"__rk_a.{name}"), F.col(f"__rk_b.{name}")
        lt = (bv > av) if direction == "desc" else (bv < av)
        before = before | (eqs & lt)
        eqs = eqs & (bv == av)
    first_key = order_specs[0][0]
    return (
        a.join(F.broadcast(b), before, "left")
        .groupBy(*[F.col(f"__rk_a.{c}").alias(c) for c in top.columns])
        .agg(
            (F.count(F.col(f"__rk_b.{first_key}")) + F.lit(1))
            .cast("long")
            .alias(out)
        )
    )


def seeded_split(
    df: DataFrame, weights: Sequence[float], seed: int = 42
) -> list[DataFrame]:
    """Seeded random split (ref: R1, preprocess_cicids2017.py:240). The split
    is reproducible for a fixed partitioning; invariant testing checks the
    partition property (sizes sum to total, no overlap), not exact membership."""
    return df.randomSplit(list(weights), seed=seed)


def capped_sample(
    df: DataFrame, cap: int, total: int | None = None, seed: int = 42
) -> DataFrame:
    """Bernoulli sample down to ~``cap`` rows when the input exceeds it
    (ref: R2, preprocess_cicids2017.py:264-273). Pass ``total`` if already
    known to avoid an extra count job."""
    n = total if total is not None else df.count()
    if n <= cap:
        return df
    return df.sample(withReplacement=False, fraction=cap / n, seed=seed)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``) — the class-balancing
    primitive for training-data pipelines (downsample the dominant class,
    keep the rare ones). One scan, no shuffle; strata absent from
    ``fractions`` are dropped, fraction 1.0 keeps a stratum whole."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def hash_uniform(col: Column | str, salt: str = "") -> Column:
    """Deterministic uniform in [0,1) keyed on a column — engine-portable.

    ``randomSplit``/``sample`` are seeded but engine- and partitioning-
    specific: no other system can reproduce the membership. This uses the
    first 8 hex chars of ``md5(salt || key)`` as a 32-bit integer, so ANY
    engine reproduces the exact same sample — the DuckDB mirror is
    ``CAST(concat('0x', substr(md5(salt || x), 1, 8)) AS BIGINT) / 4294967296.0``.
    At 100 TB this is also the property that makes train/test membership
    stable across re-runs, repartitions, and engine migrations. Pure
    projection: no shuffle, stays in whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") / F.lit(4294967296.0)


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keyed Bernoulli sample with engine-portable membership (R2's
    reproducible form): a row survives iff ``hash_uniform(key) < fraction``."""
    return df.filter(hash_uniform(key_col, salt) < fraction)


def deterministic_split(
    df: DataFrame, key_col: str, fractions: dict, salt: str = ""
) -> DataFrame:
    """Label every row with a split name by cumulative hash ranges
    (R1's reproducible form). ``fractions`` maps label -> fraction and must
    sum to 1.0; iteration order defines the ranges, so use the same order in
    the oracle. Returns ``df`` plus a ``split`` column — one projection, no
    shuffle, membership decided row-locally at any scale."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    u = hash_uniform(key_col, salt)
    expr = None
    hi = 0.0
    labels = list(fractions)
    for label in labels[:-1]:
        # round the cumulative bound: 0.8+0.1 floats to 0.9000000000000001,
        # which would diverge from an oracle's literal 0.9
        hi = round(hi + fractions[label], 12)
        cond = u < F.lit(hi)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    expr = F.lit(labels[0]) if expr is None else expr.otherwise(labels[-1])
    return df.withColumn("split", expr)


def weighted_corpus_mix(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weights: dict,
    default_weight: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Mix corpora by per-source sampling weights — the dataset-mixture
    primitive of a training-data pipeline (e.g. downweight crawl dupes,
    keep curated sources whole). Deterministic keyed membership, so the
    mixture is reproducible across runs and engines. One projection+filter;
    the weight lookup is a literal CASE chain, no join."""
    w = None
    for src, frac in weights.items():
        cond = F.col(group_col) == src
        w = F.when(cond, frac) if w is None else w.when(cond, frac)
    w = F.lit(default_weight) if w is None else w.otherwise(default_weight)
    return df.filter(hash_uniform(key_col, salt) < w)


_INTERVAL_SECONDS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def _interval_to_seconds(spec: str) -> int:
    """'7 days' / '90 seconds' → seconds. Interval specs are operator
    config (literals), so driver-side parsing costs nothing."""
    qty, unit = spec.strip().split()
    return int(qty) * _INTERVAL_SECONDS[unit.lower()]


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "0 seconds",
    equi_keys: Sequence[str] = (),
) -> DataFrame:
    """Scalable range join: rows where ``right_ts ∈ [left_ts - lower,
    left_ts + upper]`` (optionally AND-ed with ``equi_keys``), executed as
    an EQUI-join on coarse time bands instead of the O(|L|·|R|)
    broadcast-nested-loop Spark picks for a pure range predicate.

    The standard banding (bucketed interval join) trick: band width =
    lower + upper, so a left row's window overlaps at most 2 bands — left
    rows are replicated into exactly those, right rows land in one. The
    band is part of the join key, so the work shuffles and partitions like
    any equi-join (AQE skew-split applies), which is what keeps range
    joins tractable at 100 TB; the exact predicate filters after the band
    match. ``lower``/``upper`` are interval strings like ``'7 days'``."""
    _check_fresh_cols(left, ["__band"], "banded_range_join(left)")
    _check_fresh_cols(right, ["__band"], "banded_range_join(right)")
    width = _interval_to_seconds(lower) + _interval_to_seconds(upper)
    if width <= 0:
        raise ValueError("banded_range_join needs a nonzero [lower, upper] window")
    lo_s, up_s = _interval_to_seconds(lower), _interval_to_seconds(upper)
    l_epoch = F.unix_timestamp(F.col(left_ts))
    r_epoch = F.unix_timestamp(F.col(right_ts))
    lt = left.withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.floor((l_epoch - lo_s) / width), F.floor((l_epoch + up_s) / width)
            )
        ),
    )
    rt = right.withColumn("__band", F.floor(r_epoch / width))
    cond = [lt["__band"] == rt["__band"]]
    for k in equi_keys:
        cond.append(lt[k] == rt[k])
    r_ts, l_ts = rt[right_ts], lt[left_ts]
    joined = lt.join(rt, cond).filter(
        (r_ts >= l_ts - F.expr(f"INTERVAL {lower}"))
        & (r_ts <= l_ts + F.expr(f"INTERVAL {upper}"))
    )
    keep = [lt[c] for c in left.columns] + [
        rt[c] for c in right.columns if c not in set(equi_keys)
    ]
    return joined.select(*keep)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt_buckets: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Skew-safe equi-join: hot keys on the big side are spread across
    ``salt_buckets`` shuffle partitions by a random salt; the small side is
    replicated once per bucket so every salted row still meets its match.

    Use when one join key dominates (AQE's skew-join split helps at the
    partition level; salting fixes the single-hot-key case it can't).
    Result is identical to ``left.join(right, on, how)`` for inner/left
    joins only: the salt-replicated right side would emit each unmatched
    right row ``salt_buckets`` times under right/full-outer, so those are
    rejected."""
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: "
            "replicating the right side breaks right/full-outer semantics"
        )
    _check_fresh_cols(left, ["__salt"], "salted_join(left)")
    _check_fresh_cols(right, ["__salt"], "salted_join(right)")
    spark = left.sparkSession
    salted_l = left.withColumn(
        "__salt", (F.rand(seed) * salt_buckets).cast("int")
    )
    salts = spark.range(salt_buckets).select(F.col("id").cast("int").alias("__salt"))
    salted_r = right.crossJoin(F.broadcast(salts))
    return salted_l.join(salted_r, [on, "__salt"], how).drop("__salt")


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    action_col: str = "action",
) -> DataFrame:
    """MERGE INTO semantics (lakehouse upsert) as one full-outer join:
    matched rows take the source version (``'update'``), source-only rows
    are ``'insert'``, target-only rows carry over unchanged
    (``'carryover'``). Returns the merged table plus ``action_col``.

    The merged schema is the UNION of both schemas in target-column order
    (a MERGE must never drop a target column just because the patch batch
    doesn't carry it): columns present in both sides resolve source-wins
    via ``coalesce``, target-only columns carry the target value (NULL on
    inserts), source-only columns the source value (NULL on carryovers).
    Declarative, so Catalyst prunes unused ones. The one shuffle is the
    full-outer exchange on the key; on a real lakehouse table bucketed by
    the merge key (see ``partitioned.bucketed_join``) the target side's
    exchange disappears entirely — the canonical CDC-apply shape at
    100 TB."""
    s_cols = set(source.columns)
    t_cols = set(target.columns)
    _check_fresh_cols(target, ["__t_present", "__s_present"], "merge_upsert")
    _check_fresh_cols(source, ["__t_present", "__s_present"], "merge_upsert")
    # side presence is decided by a non-nullable indicator, NOT by key
    # nullability: a target row whose merge key is NULL never matches
    # (NULL <> NULL) but IS present — keying the action off t_key.isNull()
    # would mislabel it 'insert'
    t = target.withColumn("__t_present", F.lit(True)).alias("__t")
    s = source.withColumn("__s_present", F.lit(True)).alias("__s")
    cond = [F.col(f"__t.{k}") == F.col(f"__s.{k}") for k in key_cols]
    joined = t.join(s, cond, "full_outer")
    action = (
        F.when(F.col("__t.__t_present").isNull(), F.lit("insert"))
        .when(F.col("__s.__s_present").isNull(), F.lit("carryover"))
        .otherwise(F.lit("update"))
    )

    def merged(c: str):
        if c in key_cols or (c in s_cols and c in t_cols):
            return F.coalesce(F.col(f"__s.{c}"), F.col(f"__t.{c}")).alias(c)
        side = "__s" if c in s_cols else "__t"
        return F.col(f"{side}.{c}").alias(c)

    out_cols = list(target.columns) + [
        c for c in source.columns if c not in t_cols
    ]
    return joined.select(
        *[merged(c) for c in out_cols], action.alias(action_col)
    )
