"""Distributed graph algorithms over DataFrame edge lists.

The family: connected components (two formulations) for the dedup
transitive closure, PageRank (uniform / weighted / personalized) for
importance and random-walk-with-restart recommendations, synchronous
label propagation for density-based communities, and multi-source BFS
for k-hop neighborhoods. The reference has no graph step at all (its
dedup surface is pairwise only), so this module is part of the LLM-data
extension surface, not reference parity. Shared contracts: the edge list
is hash-partitioned once and persisted (only per-node state moves per
round), per-round lineage cuts with reliable-checkpoint auto-detect, and
every cross-engine-compared number is either a pure integer (CC / LPA /
BFS) or a 1e-12-grid quantized sum (PageRank) — bit-identical across
partitionings and engines.

Algorithm: iterative min-label propagation ("hash-to-min", Rastogi et al.,
"Finding Connected Components in Map-Reduce in Logarithmic Rounds", ICDE'13
— simplified to the small-diameter case). Each round every node takes the
minimum component label among itself and its neighbors; convergence is a
driver-side emptiness check on the changed set. Rounds needed = graph
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
    dedup graph, and wants the O(log n)-round formulation instead
    (:func:`connected_components_stars`) rather than a bigger ``max_iters``.
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
    # fixpoint (hash-collision odds negligible — same device as
    # connected_components_stars' edge-set signature).
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


def connected_components_stars(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
    reliable_checkpoints: bool | None = None,
) -> DataFrame:
    """Connected components in O(log n) rounds via alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the general-graph formulation for diameters the
    propagation variant refuses (:func:`connected_components` raises past
    ``max_iters`` rounds; this converges logarithmically even on paths).

    Round shapes: each half-round is one groupBy (min per node) + one join
    back — the same cost class as a propagation round, but the edge set
    itself contracts toward stars, so the number of rounds is logarithmic
    in component size instead of linear in diameter. Each half-round ends
    in a lineage cut. Returns ``(id, comp)`` with comp = component minimum,
    identical to :func:`connected_components`.
    """
    reliable = _resolve_reliable(edges, reliable_checkpoints)

    def _cut_sig(ed: DataFrame):
        # multiset fingerprint for convergence: count + order-independent
        # hash sum (exact equality of canonical edge sets is what stability
        # means here; hash collision odds are negligible and the final
        # labels are exact regardless — stars only ever contract further).
        # Observed on the cut's own materialization job (same device as
        # _cut_fp): no separate aggregate action per round. _observed_row
        # guards the read with the timeout + direct-aggregate fallback.
        obs = Observation()
        cut = _cut(
            ed.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
            ),
            reliable,
        )
        row = _observed_row(
            obs,
            cut,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        )
        return cut, (row["n"], row["h"])

    # canonical directed pairs (big, small): a > b, no self-loops, deduped
    e, sig = _cut_sig(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
    )
    converged = False
    for _ in range(max_iters):
        # ---- large-star: every node links its LARGER neighbors to its min
        adj = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = adj.groupBy("a").agg(F.min("b").alias("m"))
        mins = mins.select("a", F.least("a", "m").alias("m"))
        e = _cut(
            adj.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct(),
            reliable,
        )
        # ---- small-star: every node links its smaller neighbors (and
        # itself) to the smallest of them; edges are (big, small) already
        mins2 = e.groupBy("a").agg(F.min("b").alias("m"))
        joined = e.join(mins2, "a")
        e, new_sig = _cut_sig(
            joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(joined.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"star contraction did not stabilize in {max_iters} rounds"
        )
    # stable state is a forest of stars (child, root); roots label themselves
    children = e.select(F.col("a").alias("id"), F.col("b").alias("comp"))
    roots = e.select(F.col("b").alias("id")).distinct().withColumn(
        "comp", F.col("id")
    )
    labeled = children.union(roots).distinct()
    # nodes whose every edge was a self-loop were filtered out before the
    # contraction ever saw them — re-attach as their own singleton
    # components, so the return really is identical to
    # connected_components (which keeps them)
    self_only = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
        .join(labeled.select("id"), "id", "left_anti")
        .withColumn("comp", F.col("id"))
    )
    return labeled.union(self_only)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    weight: str | None = None,
    teleport: list[int] | None = None,
    assume_distinct: bool = False,
    assume_symmetric: bool = False,
    reliable_checkpoints: bool | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, returning
    ``(id, rank)`` for every node that appears in an edge.

    ``weight``: optional integer edge-weight column — contributions become
    d·r(u)·w(u→v)/W_out(u) (weighted out-degree normalization; weights
    must be exact integers so W_out stays an exact shuffle sum).

    ``teleport``: optional seed-node list → PERSONALIZED PageRank (Jeh &
    Widom 2003): the (1-d) restart mass and the dangling mass land
    uniformly on the seeds instead of on all N nodes, so ranks measure
    proximity to the seed set — the random-walk-with-restart
    recommendation primitive ("related items" from a co-purchase graph).

    The classic formulation (Page et al. 1999; the public Pregel/GraphX
    shape re-expressed on the DataFrame API):

        r_{t+1}(v) = (1-d)/N  +  d·(Σ_{u dangling} r_t(u))/N
                              +  Σ_{u→v} d·r_t(u)/outdeg(u)

    with dangling mass (nodes with no out-edges) redistributed uniformly,
    so each iteration conserves total rank mass at exactly 1.

    Determinism contract: every per-edge contribution and every dangling
    term is quantized onto the 1e-12 integer grid as a LONG before the
    shuffle-sum, so the grouped sums are order-free exact integers and the
    resulting ranks are bit-identical across partitionings AND across
    engines — a DuckDB oracle unrolling the same arithmetic hash-matches
    (see plans/queries_graph_retrieval.py). Floating-point ops happen only
    pointwise, in a fixed expression order mirrored by the oracle SQL.

    Scale notes (100 TB):
    - the out-degree is folded into the edge table by a ``src``-keyed
      window over ONE exchange (replacing groupBy + join + repartition —
      three exchanges of the edge set become one, guide §2.4; the window's
      partitioning property is exactly the hash-partitioning the loop's
      joins need), and that table is persisted; only the one-row-per-node
      rank table moves per iteration,
    - iteration 1 never joins the rank table at all: the initial ranks ARE
      the restart distribution, a pointwise expression of ``src``, so the
      first round's contributions are projected straight off the edge
      table (bit-identical doubles — the same expression tree evaluates on
      literals instead of a materialized column), saving one O(nodes)
      join+shuffle per call and the initial rank materialization,
    - per-iteration lineage cuts via :func:`_cut` (reliable checkpoints
      auto-detected, as for connected components) keep the plan flat,
    - the dangling aggregate is a 1-row DataFrame broadcast into the
      update — never a driver round-trip inside the loop; the only
      driver scalar is N (plus the seed-presence count), collected in one
      aggregate before the loop.
    """
    reliable = _resolve_reliable(edges, reliable_checkpoints)
    if weight:
        raw = edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).alias("w"),
        )
        if not assume_distinct:
            # parallel edges in a weighted multigraph SUM their support:
            # a distinct() over (src, dst, w) would collapse equal-weight
            # duplicates but keep unequal-weight ones — same multigraph,
            # different answers depending on the duplicate weights
            raw = raw.groupBy("src", "dst").agg(F.sum("w").alias("w"))
        # fail fast on weights the arithmetic can't honor: NULL/zero/
        # negative weights NULL the per-edge contribution (non-ANSI
        # division), the grouped sum DROPS it, and that node's rank mass
        # silently vanishes; fractional weights would be silently
        # truncated by the long cast the exact-sum contract requires
        bad = raw.agg(
            F.sum(
                F.when(
                    F.col("w").isNull()
                    | (F.col("w") <= 0)
                    | (F.col("w").cast("long") != F.col("w")),
                    1,
                ).otherwise(0)
            )
        ).first()[0]
        if bad:
            raise ValueError(
                f"pagerank: {bad} edges carry NULL/non-positive/fractional "
                "weights (after parallel-edge summing) — weights must be "
                "exact positive integers"
            )
        e = raw.select("src", "dst", F.col("w").cast("long").alias("w"))
    else:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if not assume_distinct:
            e = e.distinct()
    # out-normalizer (edge count for uniform, exact integer weight sum for
    # weighted) folded into the edge table by a src-keyed WINDOW: one
    # exchange builds the degree-annotated, src-hash-partitioned table the
    # loop joins — the old groupBy + join-back + repartition("src") spent
    # three exchanges of the edge set on the same result (guide §2.4). The
    # window's local sort is per-partition and spillable; outdeg values are
    # identical exact longs either way. This is the ONE persisted edge-set
    # cache (the old separate `e` persist fed only the degree build).
    from pyspark.sql.window import Window

    ew = e.select(
        "src",
        "dst",
        *(["w"] if weight else []),
        (F.sum("w") if weight else F.count("*"))
        .over(Window.partitionBy("src"))
        .cast("long")
        .alias("outdeg"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # assume_symmetric: caller guarantees the edge set carries BOTH
    # directions of every edge, so the src and dst sets coincide
    # (undirected graphs built as both-direction edges — the co-purchase
    # family). Then the node set is the src set (skips the union+distinct
    # over 2x the edges), no dangling node can exist (skips the anti-join
    # probe AND the per-iteration redistribution machinery), and every
    # node receives contributions each iteration (skips the per-iteration
    # nodes left-join in the loop) — so `nodes` is never materialized as
    # its own cache; N comes from one distinct-count over the edge cache.
    if assume_symmetric:
        nodes = None
        node_ids = ew.select(F.col("src").alias("id")).distinct()
    else:
        nodes = (
            ew.select(F.col("src").alias("id"))
            .union(ew.select(F.col("dst").alias("id")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        node_ids = nodes
    if teleport is not None:
        seeds = sorted(set(teleport))
        if not seeds:
            ew.unpersist()
            if nodes is not None:
                nodes.unpersist()
            raise ValueError(
                "pagerank: teleport seed list is empty (the restart "
                "distribution would be 1/0 — every rank NULL)"
            )
    # N and the teleport-seed presence count in ONE aggregate job (the only
    # driver scalars, both O(1) rows, both before the loop)
    probe = node_ids.agg(
        F.count("*").alias("n"),
        *(
            [
                F.count(
                    F.when(F.col("id").isin(seeds), F.lit(1))
                ).alias("present")
            ]
            if teleport is not None
            else []
        ),
    ).first()
    n = probe["n"]
    if n == 0:
        ew.unpersist()
        if nodes is not None:
            nodes.unpersist()
        raise ValueError("pagerank: empty edge list (no nodes)")
    if teleport is not None and probe["present"] != len(seeds):
        ew.unpersist()
        if nodes is not None:
            nodes.unpersist()
        raise ValueError(
            f"pagerank: {len(seeds) - probe['present']} teleport seed(s) "
            "are not nodes of the graph — their restart mass would be "
            "silently lost (all seeds absent -> all-zero ranks)"
        )
    # dangling node set is static across iterations — compute it once; a
    # symmetric graph (every dst is also a src) has none, and then the
    # whole redistribution term is exactly 0.0 every iteration (the oracle
    # agrees: COALESCE(SUM over empty), 0) — skip its per-iteration
    # aggregate + broadcast entirely. ONE left join builds both the
    # dangling set and the flagged node table the loop needs (the flag
    # lets each iteration's dangling-mass sum ride the cut's own
    # materialization as an observed metric — see the loop).
    if assume_symmetric:
        dangling = None
        nodes_f = None
        has_dangling = False
    else:
        nodes_f = (
            nodes.join(
                ew.select(F.col("src").alias("id"))
                .distinct()
                .withColumn("__has_out", F.lit(True)),
                "id",
                "left",
            )
            .select("id", F.col("__has_out").isNull().alias("__dang"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        dangling = nodes_f.filter(F.col("__dang")).select("id")
        has_dangling = not dangling.isEmpty()

    q_grid = F.lit(1e12)
    d_lit = F.lit(damping)
    nf = F.lit(float(n))

    # restart distribution: uniform over N, or uniform over the seed set.
    # Initial ranks follow the restart distribution too (1/N or 1/|S| on
    # seeds, 0 elsewhere) — the standard PPR initialization. It is a
    # POINTWISE expression of the node id, so iteration 1 evaluates it
    # directly on the edge table's src column instead of joining a
    # materialized rank table (same expression tree -> identical doubles).
    def _restart(idc):
        if teleport is None:
            return F.lit(1.0) / nf
        sf_ = F.lit(float(len(seeds)))
        ind = F.when(idc.isin(seeds), F.lit(1.0)).otherwise(F.lit(0.0))
        return (F.lit(1.0) / sf_) * ind

    if teleport is None:
        base = (F.lit(1.0) - d_lit) / nf
        dang_of = lambda dqc: (dqc.cast("double") / nf) / q_grid  # noqa: E731
    else:
        sf_ = F.lit(float(len(seeds)))
        ind = F.when(F.col("id").isin(seeds), F.lit(1.0)).otherwise(
            F.lit(0.0)
        )
        base = ((F.lit(1.0) - d_lit) / sf_) * ind
        dang_of = lambda dqc: (  # noqa: E731
            (dqc.cast("double") / sf_) / q_grid
        ) * ind

    # Dangling-mass fold (guide §2.4 — the _cut_fp device): with a dangling
    # term every iteration cuts anyway, and the cut's materialization sees
    # every rank row — so the NEXT iteration's dangling-rank sum rides that
    # job as an observed metric over the __dang-flagged rows instead of a
    # per-iteration join+aggregate+broadcast over the rank table. The sum
    # is the exact same long either way (identical round/cast ops, exact
    # integer addition), so the ranks are bit-identical; iteration 1's term
    # comes from the restart distribution (a pointwise expression of id),
    # one 1-row aggregate over the static dangling set before the loop.
    dq_next = 0
    dq_metric = None
    if has_dangling and iters > 0:
        dq_metric = F.sum(
            F.when(
                F.col("__dang"),
                F.round(d_lit * F.col("rank") * q_grid).cast("long"),
            )
        ).alias("dq")
        dq_next = (
            dangling.select(_restart(F.col("id")).alias("rank"))
            .agg(
                F.coalesce(
                    F.sum(
                        F.round(d_lit * F.col("rank") * q_grid).cast("long")
                    ),
                    F.lit(0).cast("long"),
                ).alias("dq")
            )
            .first()["dq"]
        )

    r = None  # rank table from the previous iteration; None = restart dist
    for it in range(iters):
        rank_col = _restart(F.col("src")) if r is None else F.col("rank")
        contrib_num = (
            (d_lit * rank_col * F.col("w")) if weight else (d_lit * rank_col)
        )
        src_side = (
            ew
            if r is None
            else ew.join(
                r.select("id", "rank").withColumnRenamed("id", "src"), "src"
            )
        )
        contrib = src_side.select(
            F.col("dst").alias("id"),
            F.round(contrib_num / F.col("outdeg") * q_grid)
            .cast("long")
            .alias("q"),
        )
        qs = contrib.groupBy("id").agg(F.sum("q").alias("qs"))
        # symmetric graphs (both directions present, so src and dst sets
        # coincide): every node is some edge's dst and receives at least
        # one contribution row, so qs's key set IS the node set and the
        # left join below would be a per-iteration no-op shuffle — skip it
        if assume_symmetric:
            upd = qs
        elif has_dangling:
            upd = nodes_f.join(qs, "id", "left")  # carries __dang
        else:
            upd = nodes.join(qs, "id", "left")
        dq_col = (
            F.lit(int(dq_next)).cast("long")
            if has_dangling
            else F.lit(0).cast("long")
        )
        r = upd.select(
            "id",
            (
                base
                + dang_of(dq_col)
                + F.coalesce(F.col("qs"), F.lit(0).cast("long")).cast(
                    "double"
                )
                / q_grid
            ).alias("rank"),
            *(["__dang"] if has_dangling else []),
        )
        # Lineage policy: with a dangling term the rank table's dangling
        # sum must materialize before the next iteration's expressions can
        # be built (the dq literal) — cut every iteration, with the sum
        # observed on the cut. Without dangling the chain is LINEAR over
        # persisted inputs, so a cut every 4th iteration bounds plan depth
        # while skipping the per-iteration materialization job (measured
        # ~2x on the 3-iteration bench query). The LAST iteration always
        # cuts: callers run several actions over the returned table
        # (top-k, mass checks), which must not re-run the whole chain.
        if has_dangling:
            obs = Observation()
            r = _cut(r.observe(obs, dq_metric), reliable)
            if it + 1 < iters:  # last iteration's sum has no consumer
                v = _observed_row(obs, r, dq_metric)["dq"]
                dq_next = 0 if v is None else int(v)
        elif (it + 1) % 4 == 0 or it == iters - 1:
            r = _cut(r, reliable)
    if r is None:  # iters == 0: the ranks ARE the restart distribution
        r = _cut(
            node_ids.select("id", _restart(F.col("id")).alias("rank")),
            reliable,
        )
    elif has_dangling:
        r = r.select("id", "rank")  # drop the internal flag
    for cached in (ew, nodes, nodes_f):
        if cached is not None:
            cached.unpersist()
    return r


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    assume_distinct: bool = False,
    reliable_checkpoints: bool | None = None,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for community
    detection, returning ``(id, lbl)`` after ``iters`` rounds.

    Where connected components answers "what is REACHABLE" (any path merges
    groups), LPA answers "where is the DENSITY": each round every node
    adopts the most frequent label among its OUT-neighbors (labels are
    joined on ``dst`` and grouped by ``src``), so thin bridges between
    dense regions do not merge them. On a directed edge list the in- and
    out-neighbor formulations differ — callers wanting the classic
    undirected semantics must pass a SYMMETRIC edge list (both (u,v) and
    (v,u)), as the registered co-purchase queries do; the two formulations
    then coincide. The classic algorithm breaks
    ties randomly and iterates to (unstable) convergence; this variant is
    the deterministic formulation suited to a reproducible pipeline — a
    FIXED iteration count with ties broken by the smallest label, making
    the result pure integer arithmetic: exactly portable across engines
    (the oracle unrolls the same rounds) and partitionings.

    Scale notes: same contract as :func:`pagerank` — the edge list is
    hash-partitioned once and persisted; per round only the one-row-per-
    node label table moves (join → per-(node,label) count → top-1 window
    keyed BY NODE, never global); lineage cut per round."""
    reliable = _resolve_reliable(edges, reliable_checkpoints)
    from pyspark.sql.window import Window

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    e = e.repartition("dst").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    w = Window.partitionBy("id").orderBy(
        F.col("c").desc(), F.col("lbl").asc()
    )
    # round 1 is folded: the initial labels are the identity (lbl(v) = v),
    # so joining them onto the edge list is a no-op — round 1's
    # per-(node, label) counts are exactly e grouped by (src, dst). Skips
    # the initial identity-label materialization AND one O(edges) join
    # (same device as pagerank's restart-distribution fold; pure integer
    # counts, so the result is bit-identical).
    labels = None
    for _ in range(iters):
        if labels is None:
            counts = e.groupBy(
                F.col("src").alias("id"), F.col("dst").alias("lbl")
            ).agg(F.count("*").alias("c"))
        else:
            counts = (
                e.join(labels.withColumnRenamed("id", "dst"), "dst")
                .groupBy(F.col("src").alias("id"), "lbl")
                .agg(F.count("*").alias("c"))
            )
        top = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", F.col("lbl").alias("new_lbl"))
        )
        labels = _cut(
            nodes.join(top, "id", "left").select(
                "id", F.coalesce("new_lbl", F.col("id")).alias("lbl")
            ),
            reliable,
        )
    if labels is None:  # iters == 0: identity labels
        labels = _cut(nodes.select("id", F.col("id").alias("lbl")), reliable)
    for cached in (e, nodes):
        cached.unpersist()
    return labels


def bfs_levels(
    edges: DataFrame,
    seeds: list[int],
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
    assume_distinct: bool = False,
    reliable_checkpoints: bool | None = None,
) -> DataFrame:
    """Multi-source BFS: ``(id, hop)`` = minimum number of edges from any
    seed, for every node within ``max_hops`` (unreached nodes are absent —
    callers left-join if they want them). Pure integer min-propagation
    (the CC loop with +1), so the result is exactly portable; a fixed
    ``max_hops`` keeps it oracle-unrollable and bounds the rounds the way
    a production "k-hop neighborhood" query does."""
    reliable = _resolve_reliable(edges, reliable_checkpoints)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    e = e.repartition("src").persist(StorageLevel.MEMORY_AND_DISK)
    spark = edges.sparkSession
    dist = _cut(
        spark.createDataFrame(
            [(int(s), 0) for s in sorted(set(seeds))], "id long, hop int"
        ),
        reliable,
    )
    for _ in range(max_hops):
        nxt = (
            e.join(dist.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"), (F.col("hop") + 1).alias("hop")
            )
        )
        dist = _cut(
            dist.union(nxt).groupBy("id").agg(F.min("hop").alias("hop")),
            reliable,
        )
    e.unpersist()
    return dist
