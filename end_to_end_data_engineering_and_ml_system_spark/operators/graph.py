"""Connected components over a DataFrame edge list, for the dedup
transitive closure.

``connected_components`` labels every node with the minimum node id it
can reach; ``dedup_cluster_labels`` turns near-dup pairs into a cluster id
and a canonical flag per row. The reference has no graph step (its dedup
surface is pairwise only), so this module belongs to the dedup family, not
to reference parity. A label is a node id (no arithmetic), so labels are
bit-identical across partitionings and engines.

Algorithm: iterative min-label propagation ("hash-to-min", Rastogi et al.,
"Finding Connected Components in Map-Reduce in Logarithmic Rounds", ICDE'13
— simplified to the small-diameter case). Each round every node takes the
minimum component label among itself and its neighbors; the loop stops
when a round leaves the label fingerprint unchanged. Rounds needed = graph
diameter, and near-dup graphs are unions of near-cliques (the verify step
keeps only pairs above the similarity threshold), so 2-3 rounds in practice;
``max_iters`` bounds the worst case.

Scale notes (100 TB):
- The edge list is repartitioned ONCE on the join key and persisted; every
  round's propagation join then reuses that exchange instead of reshuffling
  the (large) edge set per round. Only the (small, one-row-per-node) label
  table moves each round.
- Each round ends in ``localCheckpoint(eager=True)``: iterated self-joins
  otherwise stack Catalyst plans superlinearly (same pathology measured in
  flows_etl.py — see NOTES.md). On a real cluster with unreliable executors
  prefer ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()``; local
  checkpoints trade fault tolerance for speed, which is the right call in
  local mode.
- The convergence probe is an order-independent label fingerprint observed
  on the round's own materialization job (``_cut_fp``) — zero extra actions
  per round, never a full collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _cut(df: DataFrame, reliable: bool) -> DataFrame:
    """Lineage cut between rounds. ``reliable=False`` uses localCheckpoint —
    fast, but blocks die with their executor; on a real cluster pass
    ``reliable=True`` (requires ``spark.sparkContext.setCheckpointDir``)
    so a lost executor replays from the checkpoint store instead of
    recomputing the whole iteration history."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _resolve_reliable(df: DataFrame, reliable: bool | None) -> bool:
    """``reliable_checkpoints=None`` (the default everywhere) auto-detects:
    if the session has a checkpoint dir configured
    (``spark.sparkContext.setCheckpointDir``), lineage cuts go through the
    reliable checkpoint store — so the production entry points
    (``dedup_cluster_labels``, the dedup-cluster queries) become
    executor-loss-safe by setting one session-level conf, with no parameter
    threading at the call sites. Explicit True/False still overrides."""
    if reliable is not None:
        return reliable
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


_OBS_TIMEOUT_S = 30.0


def _observed_row(obs: Observation, cut: DataFrame, *aggs) -> dict:
    """Read an Observation's metrics AFTER the observed dataset's eager
    checkpoint has materialized, guarded against a hang: metrics firing
    during ``Dataset.checkpoint``/``localCheckpoint`` is QueryExecution-
    listener behavior, not a documented contract, so a future Spark that
    stops firing them there would make ``obs.get`` block forever — every
    convergence loop would hang instead of erroring. The action is already
    complete when this is called, so any real wait means the listener never
    fired; after a generous timeout, degrade to the old two-job shape (one
    direct 1-row aggregate over the already-cut table) instead of hanging.
    A daemon thread (not a ThreadPoolExecutor) does the blocking read: a
    pool's shutdown would join the hung reader forever — exactly the hang
    this guard exists to break."""
    import threading

    box: list = []
    t = threading.Thread(target=lambda: box.append(obs.get), daemon=True)
    t.start()
    t.join(_OBS_TIMEOUT_S)
    if box:
        return box[0]
    return cut.agg(*aggs).first().asDict()


def _cut_fp(df: DataFrame, reliable: bool) -> tuple[DataFrame, object]:
    """Lineage-cut an ``(id, comp)`` label table and return
    ``(cut_df, fingerprint)`` where the fingerprint is the order-independent
    multiset hash-sum the convergence loop compares — computed as an
    OBSERVED metric of the same job that materializes the cut, instead of a
    separate 1-row aggregate action afterwards. One job per round instead
    of two (observations fire under both localCheckpoint and reliable
    checkpoint on Spark 4.x — probed, and pinned by
    tests/test_graph.py::test_observed_fingerprint_matches_direct_aggregate).
    ``_observed_row`` guards the read with a timeout + direct-aggregate
    fallback in case that listener behavior ever changes."""
    obs = Observation()
    fp = F.sum(F.xxhash64("id", "comp").cast("decimal(38,0)")).alias("h")
    cut = _cut(df.observe(obs, fp), reliable)
    fp_direct = F.sum(F.xxhash64("id", "comp").cast("decimal(38,0)")).alias(
        "h"
    )
    return cut, _observed_row(obs, cut, fp_direct)["h"]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
    assume_distinct: bool = False,
    reliable_checkpoints: bool | None = None,
) -> DataFrame:
    """Return ``(id, comp)`` where ``comp`` is the minimum node id reachable
    from ``id`` — a deterministic, engine-independent component label.

    Only nodes that appear in at least one edge are returned; callers give
    isolated nodes their own id via ``coalesce`` after a left join (see
    ``doc_dedup_clusters`` in plans/queries.py).

    Rounds needed = graph diameter, which is 1-2 for near-dup graphs (the
    verify step emits near-cliques). Raises if ``max_iters`` rounds pass
    without reaching the fixpoint rather than returning silently-wrong
    labels — a graph deep enough to trip this (a 25-hop path) is not a
    dedup graph, and wants an O(log n)-round formulation (large-star /
    small-star contraction) rather than a bigger ``max_iters``.
    """
    reliable = _resolve_reliable(edges, reliable_checkpoints)
    # materialize the pair list ONCE before symmetrizing: a union of two
    # selects over `edges` would recompute the (expensive) upstream pair
    # pipeline per branch — measured ~2x the LSH-verify cost on the dedup path
    base = _cut(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
        reliable,
    )
    sym = base.union(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # duplicate edges multiply every round's join fan-out, so dedup by
    # default; callers whose pairs are already unique with src < dst (the
    # near-dup verify output) skip the extra shuffle via assume_distinct
    if not assume_distinct:
        sym = sym.distinct()
    e = sym.repartition("dst").persist(StorageLevel.MEMORY_AND_DISK)
    # fold the first propagation round into initialization:
    # comp_0(x) = min(x, min neighbor) — cliques (the common near-dup case)
    # are already converged here, so the loop usually runs once to confirm.
    # The convergence fingerprint (order-independent multiset hash-sum of
    # the labels — works for ANY id type: the old decimal-sum probe cast
    # string ids to NULL, summed to NULL every round, and None == None
    # declared convergence after ONE round with silently-wrong labels)
    # rides each cut's materialization job via observe() (_cut_fp), so a
    # round costs one job, not cut + separate 1-row aggregate. Labels only
    # ever decrease (min is monotone), so fingerprint-unchanged IS the
    # fixpoint (hash-collision odds negligible).
    labels, prev = _cut_fp(
        e.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(F.col("src").alias("id"), F.least("src", "mn").alias("comp")),
        reliable,
    )
    converged = False
    for _ in range(max_iters):
        neighbor_labels = e.join(
            labels.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "comp")
        labels, cur = _cut_fp(
            labels.union(neighbor_labels)
            .groupBy("id")
            .agg(F.min("comp").alias("comp")),
            reliable,
        )
        if cur == prev:
            converged = True
            break
        prev = cur
    e.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "the graph's diameter exceeds the dedup-shaped assumption"
        )
    return labels


def dedup_cluster_labels(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_left: str = "id1",
    pair_right: str = "id2",
    reliable_checkpoints: bool | None = None,
) -> DataFrame:
    """Label every row of ``df`` with its near-dup cluster id (singletons get
    their own id) and whether it is the cluster's canonical representative
    (the minimum id — the same keep-lowest rule as ``doc_fingerprints``).

    ``reliable_checkpoints=None`` auto-detects a configured session
    checkpoint dir (see ``_resolve_reliable``) — set
    ``spark.sparkContext.setCheckpointDir(...)`` once and every lineage cut
    in the dedup-cluster family survives executor loss."""
    clash = {"comp", "cluster_id", "is_canonical"} & set(df.columns)
    if clash:
        raise ValueError(
            f"dedup_cluster_labels: df already has column(s) {sorted(clash)} "
            "— these names are produced by the labeling (an existing 'comp' "
            "makes the join ambiguous; the others would be shadowed)"
        )
    # verify-step pairs are unique with id1 < id2: symmetrization cannot
    # collide, so the dedup shuffle is skipped
    comp = connected_components(
        pairs,
        pair_left,
        pair_right,
        assume_distinct=True,
        reliable_checkpoints=reliable_checkpoints,
    )
    return (
        df.join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce("comp", F.col(id_col)))
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
        .drop("comp")
    )
