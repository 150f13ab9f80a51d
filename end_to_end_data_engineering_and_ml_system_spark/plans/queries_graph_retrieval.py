"""Graph ranking, full-text retrieval, and column-profiling queries.

Round-7 surface growth on top of the SURVEY.md §2 parity set — three
capability families a 100 TB data platform is expected to carry that the
reference (a flow-scoring pipeline; it has no graph, retrieval, or
data-profiling surface at all) does not:

- **PageRank** (Page et al. 1999) over graphs DERIVED from the relational
  tables — the iterative-propagation workload class (GraphX/Pregel shape) the
  connected-components dedup step opened, generalized to weighted importance.
  Both queries are oracle-checked bit-exactly: every shuffle-summed term is
  quantized onto an integer grid first (operators/graph.py:pagerank), so a
  DuckDB oracle that unrolls the same arithmetic hash-matches.
- **BM25 top-k retrieval** (Robertson & Zaragoza 2009; the Lucene-default
  ranking function) over the same `documents` table the
  inverted-index/posting-stats queries already profile.
- **Deequ-style column profiling** (Schelter et al., VLDB 2018: completeness
  / distinctness / compliance / entropy as a declarative constraint suite) —
  the data-quality metrics layer run before any corpus enters training.

Determinism contract (NOTES.md rules): cross-engine-compared doubles are
either bit-identical by construction (PageRank's quantized sums; single
divisions of exact integers) or fixed-expression pointwise math rounded to 6
decimals where a libm `ln` is involved (the established logprob
convention; sub-ulp libm variation is absorbed by the rounding).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.numeric import DEC
from ..operators.graph import pagerank
from ..sources.catalog import load_table
from .registry import register

# ---------------------------------------------------------------------------
# PageRank: oracle builder
# ---------------------------------------------------------------------------

_PR_DAMP = "CAST(0.85 AS DOUBLE)"
_Q = "1e12"


def _pagerank_oracle_ctes(
    edges_cte: str,
    iters: int,
    weighted: bool = False,
    ppr_top_degree_seed: bool = False,
) -> str:
    """Unroll ``iters`` PageRank iterations as chained CTEs mirroring
    operators/graph.py:pagerank term for term: per-edge contributions and
    dangling mass are ROUND(x*1e12)::BIGINT quantized before the order-free
    integer SUM, and every floating-point op appears in exactly the order
    the Spark expression tree evaluates it — so final ranks are
    bit-identical, not merely close.

    ``weighted``: the edge CTE exposes an integer ``w`` column; the
    out-normalizer becomes SUM(w) and contributions d·r·w/W_out.
    ``ppr_top_degree_seed``: personalized variant with a single seed — the
    highest-out-degree node (ties → smallest id); restart and dangling
    mass land on the seed only, matching pagerank(teleport=[seed])."""
    # AS MATERIALIZED everywhere a CTE is referenced more than once: each
    # r{k} is read twice (contribution + dangling term), so inlining would
    # re-evaluate the whole iteration chain — and the edge-building join
    # under it — O(2^iters) times (measured: sf0.1 nation oracle went from
    # minutes + a disk-spill blowup to milliseconds)
    outd_expr = (
        "CAST(SUM(w) AS BIGINT)" if weighted else "CAST(COUNT(*) AS BIGINT)"
    )
    parts = [
        f"edges AS MATERIALIZED ({edges_cte})",
        "nodes AS MATERIALIZED"
        " (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        "outd AS MATERIALIZED"
        f" (SELECT src, {outd_expr} AS outdeg"
        "  FROM edges GROUP BY 1)",
    ]
    num = (
        f"{_PR_DAMP} * p.rank * e.w" if weighted else f"{_PR_DAMP} * p.rank"
    )
    if ppr_top_degree_seed:
        parts.append(
            "seed AS MATERIALIZED"
            " (SELECT src AS sid FROM outd ORDER BY outdeg DESC, src"
            "  LIMIT 1)"
        )

        def ind(alias: str) -> str:
            return (
                f"(CASE WHEN {alias}.id = seed.sid THEN CAST(1.0 AS DOUBLE)"
                " ELSE CAST(0.0 AS DOUBLE) END)"
            )

        parts.append(
            "r0 AS MATERIALIZED"
            " (SELECT id,"
            f" (CAST(1.0 AS DOUBLE) / 1) * {ind('nodes')} AS rank"
            "  FROM nodes CROSS JOIN seed)"
        )
    else:
        parts.append(
            "r0 AS MATERIALIZED"
            " (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS rank"
            "  FROM nodes CROSS JOIN nn)"
        )
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"""c{k} AS (
            SELECT e.dst AS id,
                   SUM(CAST(ROUND({num} / o.outdeg * {_Q})
                            AS BIGINT)) AS qs
            FROM edges e
            JOIN r{p} p ON e.src = p.id
            JOIN outd o ON e.src = o.src
            GROUP BY 1)"""
        )
        parts.append(
            f"""g{k} AS (
            SELECT COALESCE(SUM(CAST(ROUND({_PR_DAMP} * p.rank * {_Q})
                                     AS BIGINT)), 0) AS dq
            FROM r{p} p LEFT JOIN outd o ON p.id = o.src
            WHERE o.src IS NULL)"""
        )
        if ppr_top_degree_seed:
            parts.append(
                f"""r{k} AS MATERIALIZED (
            SELECT n.id,
                   ((CAST(1.0 AS DOUBLE) - {_PR_DAMP}) / 1) * {ind('n')}
                   + ((CAST(g{k}.dq AS DOUBLE) / 1) / {_Q}) * {ind('n')}
                   + CAST(COALESCE(c{k}.qs, 0) AS DOUBLE) / {_Q} AS rank
            FROM nodes n
            LEFT JOIN c{k} ON c{k}.id = n.id
            CROSS JOIN g{k} CROSS JOIN nn CROSS JOIN seed)"""
            )
        else:
            parts.append(
                f"""r{k} AS MATERIALIZED (
            SELECT n.id,
                   (CAST(1.0 AS DOUBLE) - {_PR_DAMP}) / nn.n
                   + (CAST(g{k}.dq AS DOUBLE) / nn.n) / {_Q}
                   + CAST(COALESCE(c{k}.qs, 0) AS DOUBLE) / {_Q} AS rank
            FROM nodes n
            LEFT JOIN c{k} ON c{k}.id = n.id
            CROSS JOIN g{k} CROSS JOIN nn)"""
            )
    return "WITH " + ",\n".join(parts)


_NATION_EDGES_SQL = """
    SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
                    CAST(c.c_nationkey AS BIGINT) AS dst
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE s.s_nationkey <> c.c_nationkey
"""


@register(
    "nation_trade_pagerank",
    oracle=_pagerank_oracle_ctes(_NATION_EDGES_SQL, 3)
    + """
        SELECT r3.id AS nationkey, n.n_name AS nation, r3.rank AS pagerank
        FROM r3 JOIN nation n ON n.n_nationkey = r3.id
        ORDER BY pagerank DESC, nationkey
    """,
    description=(
        "PageRank over the supplier-nation → customer-nation trade graph "
        "(3 quantized-exact iterations, dangling mass redistributed)"
    ),
    tags=("graph", "pagerank", "join", "deterministic"),
)
def nation_trade_pagerank(spark, sf_dir):
    """Which nations does trade flow INTO? Directed edges supplier-nation →
    customer-nation (one per distinct trading pair), ranked by fixed-point
    importance. The interesting part is the contract, not the 25-node graph:
    the ranks coming back are bit-identical to the unrolled oracle because
    the operator quantizes every shuffle-summed term (see
    operators/graph.py:pagerank) — the same graph code runs unchanged on a
    billion-edge web/link graph, where the edge list is the 100 TB side and
    the rank table is the small per-node state."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    edges = (
        # supplier/customer scale with SF (1B/15B rows at 100 TB): no
        # forced broadcast — AQE sizes the joins (nation keeps its hint)
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
        .distinct()
    )
    r = pagerank(edges, iters=3, damping=0.85, assume_distinct=True)
    return (
        r.join(
            F.broadcast(nation),
            r.id == nation.n_nationkey,
        )
        .select(
            F.col("id").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.col("rank").alias("pagerank"),
        )
        .orderBy(F.col("pagerank").desc(), "nationkey")
    )


# Max distinct parts per basket admitted to the co-purchase self-join: the
# pair count is quadratic in basket size, so one pathological 100k-part
# basket would emit 10^10 pairs — the same k^2 flood dedup.py caps with
# cap_bucket_size. TPC-H baskets hold <= 7 parts, so the guard is inert on
# the fixtures (results identical, oracle carries the same predicate); at
# 100 TB it bounds the edge build at |basket| <= MAX * MAX pairs per order.
_MAX_BASKET = 64

_COPURCHASE_EDGES_SQL = f"""
    WITH po AS (SELECT DISTINCT l_orderkey AS okey,
                       CAST(l_partkey AS BIGINT) AS part
                FROM lineitem),
         ok AS (SELECT okey FROM po
                GROUP BY 1 HAVING COUNT(*) <= {_MAX_BASKET})
    SELECT a.part AS src, b.part AS dst
    FROM po a
    JOIN ok ON a.okey = ok.okey
    JOIN po b ON a.okey = b.okey AND a.part <> b.part
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
"""


@register(
    "part_copurchase_pagerank_topk",
    oracle=_pagerank_oracle_ctes(_COPURCHASE_EDGES_SQL, 3)
    + """
        SELECT id AS partkey, rank AS pagerank
        FROM r3
        ORDER BY pagerank DESC, partkey
        LIMIT 20
    """,
    bench=True,
    description=(
        "top-20 parts by PageRank over the co-purchase graph (symmetric "
        "support≥2 edges; 3 quantized-exact iterations)"
    ),
    tags=("graph", "pagerank", "analytics", "association", "deterministic"),
)
def part_copurchase_pagerank_topk(spark, sf_dir):
    """Item-importance ranking over the co-purchase graph — the
    market-basket lift query's global sibling (lift scores PAIRS, PageRank
    scores NODES through the whole graph's structure). Edges are symmetric
    (both directions survive the support floor together), so the graph has
    no dangling nodes; the operator still carries the dangling term because
    the oracle unrolls it too. One distinct-basket self-join builds the edge
    list — guarded by the max-basket cap (copurchase_edges_from_baskets:
    baskets over 64 distinct parts are dropped before the join, bounding
    the quadratic pair blowup; inert on TPC-H's <= 7-part baskets) —
    then pagerank() touches only (edge ⋈ rank) per iteration with the
    edge list hash-partitioned once."""
    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_partkey").cast("long").alias("part"),
    )  # no .distinct(): the basket collect_set dedups parts per order
    edges = copurchase_edges_from_baskets(po, keep_weight=False)
    r = pagerank(
        edges,
        iters=3,
        damping=0.85,
        assume_distinct=True,
        assume_symmetric=True,
    )
    return (
        r.select(F.col("id").alias("partkey"), F.col("rank").alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "partkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BM25 top-k retrieval
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "merge", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _eq_term(t: str):
    """Single-argument element predicate for F.filter (arity matters: a
    two-arg lambda would be called with (element, index))."""
    return lambda w: w == F.lit(t)

_BM25_TF_COLS_SQL = ",\n               ".join(
    f"len(list_filter(toks, w -> w = '{t}')) AS tf{i}"
    for i, t in enumerate(_BM25_TERMS)
)
# the >=1-term match predicate, derived from the SAME constant as the tf
# columns (a hardcoded "tf0 + tf1 + tf2" would silently drop docs matching
# only the new term if _BM25_TERMS ever grew)
_BM25_MATCH_SQL = (
    " + ".join(f"d.tf{i}" for i in range(len(_BM25_TERMS))) + " > 0"
)
_BM25_DF_COLS_SQL = ",\n               ".join(
    f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
    for i in range(len(_BM25_TERMS))
)
# one score term per query term, mirrored exactly by the Spark expression
# tree below: idf uses the engine's own ln over identical double inputs and
# the final fixed-order 3-term sum is rounded to 6 decimals (the logprob/libm
# convention), everything else is pointwise double math over exact integers
_BM25_TERM_SQL = " + ".join(
    f"""(ln(CAST(1.0 AS DOUBLE)
            + (CAST(s.n AS DOUBLE) - s.df{i} + CAST(0.5 AS DOUBLE))
              / (s.df{i} + CAST(0.5 AS DOUBLE)))
        * (d.tf{i} * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        / (d.tf{i} + CAST(1.2 AS DOUBLE)
                     * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
                        + CAST(0.75 AS DOUBLE) * d.dl
                          / (CAST(s.sdl AS DOUBLE) / s.n))))"""
    for i in range(len(_BM25_TERMS))
)


def _bm25_doc_stats(spark, sf_dir):
    """The shared BM25 inputs: the persisted per-doc frame ``d``
    (doc_id, dl, tf0..tfk — id + 4 longs) and the collected corpus stats
    row (n, sdl, df0..dfk).

    ``d`` is spread before the tokenize + per-term array filters (guide
    §2.5 — single-tasked on a one-row-group scan otherwise) and PERSISTED
    (tracked, released by the harnesses): the stats aggregate, the scoring
    projection, and the PRF consumer's dl lookups are separate actions over
    the same frame, and without the cache each re-runs the full tokenize
    pass — the expensive part of the query. At corpus scale the cache is
    ~40 bytes/doc vs a second full text scan."""
    from ..operators.relational import _track_persist
    from ..operators.text import _spread_text, tokens

    docs = _spread_text(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    ).select("doc_id", tokens("text").alias("toks"))
    d = _track_persist(
        docs.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            # NB: a two-parameter lambda would make F.filter pass the array
            # INDEX as the second argument — the closure must capture the
            # term via an outer factory, not a default parameter
            *[
                F.size(F.filter("toks", _eq_term(t))).cast("long").alias(f"tf{i}")
                for i, t in enumerate(_BM25_TERMS)
            ],
        )
    )
    stats = d.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("sdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    ).first()
    if not stats["n"]:
        raise ValueError(
            "BM25 needs a non-empty document corpus (avg doc length is "
            "undefined on 0 docs)"
        )
    return d, stats


def _bm25_scored_from(d, stats):
    """Assemble the scored frame from the shared per-doc frame + stats row
    (see ``_bm25_doc_stats``): a pure projection, no further data passes."""
    n, sdl = int(stats["n"]), int(stats["sdl"])
    score = None
    for i in range(len(_BM25_TERMS)):
        df = int(stats[f"df{i}"])
        idf = F.log(
            F.lit(1.0)
            + (F.lit(float(n)) - F.lit(float(df)) + F.lit(0.5))
            / (F.lit(float(df)) + F.lit(0.5))
        )
        term = (
            idf
            * (F.col(f"tf{i}") * (F.lit(1.2) + F.lit(1.0)))
            / (
                F.col(f"tf{i}")
                + F.lit(1.2)
                * (
                    (F.lit(1.0) - F.lit(0.75))
                    + F.lit(0.75) * F.col("dl") / F.lit(sdl / n)
                )
            )
        )
        score = term if score is None else score + term
    match = None
    for i in range(len(_BM25_TERMS)):
        match = F.col(f"tf{i}") if match is None else match + F.col(f"tf{i}")
    return d.filter(match > 0).select(
        "doc_id", "dl", F.round(score, 6).alias("bm25")
    )


def _bm25_scored(spark, sf_dir):
    """Shared scoring pass for the BM25 queries: one projection computes
    per-doc length and per-term tf (array filter — no explode), one
    aggregate collects the corpus stats to literals, and the returned frame
    carries a rounded ``bm25`` column over the docs matching ≥1 term."""
    d, stats = _bm25_doc_stats(spark, sf_dir)
    return _bm25_scored_from(d, stats)


@register(
    "bm25_topk_docs",
    oracle=rf"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\s+'),
                               tk -> tk <> '') AS toks
            FROM documents
        ),
        d AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               {_BM25_TF_COLS_SQL}
            FROM t
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(dl) AS BIGINT) AS sdl,
               {_BM25_DF_COLS_SQL}
            FROM d
        )
        SELECT d.doc_id, d.dl AS n_tokens,
               ROUND({_BM25_TERM_SQL}, 6) AS bm25
        FROM d CROSS JOIN s
        WHERE {_BM25_MATCH_SQL}
        ORDER BY bm25 DESC, d.doc_id
        LIMIT 10
    """,
    bench=True,
    description=(
        "BM25 top-10 document retrieval for a fixed 3-term query "
        "(Lucene-default k1=1.2 b=0.75; corpus stats from one pass)"
    ),
    tags=("text", "retrieval", "llm-data", "deterministic"),
)
def bm25_topk_docs(spark, sf_dir):
    """Lexical retrieval over the corpus: BM25(doc, q) for a fixed query,
    top-10. Term frequencies come from an array filter inside ONE projection
    (no explode, no shuffle — the per-doc token array is walked once per
    term inside codegen); the corpus statistics (N, Σdl, per-term document
    frequencies) are ONE aggregate collected to literals (the documented
    scalar-stats pattern), so the scoring pass is a pure projection over a
    single scan and the only wide op is the global top-10. At 100 TB the
    same plan holds: stats are a byte-sized broadcast, scoring is
    embarrassingly parallel, and TakeOrdered keeps the top-k without a full
    sort."""
    return (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", F.col("dl").alias("n_tokens"), "bm25")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Deequ-style column profiling
# ---------------------------------------------------------------------------


@register(
    "events_column_profile",
    oracle="""
        WITH base AS (
            SELECT
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(COUNT(user_id) AS BIGINT) AS nn_user,
                CAST(COUNT(value) AS BIGINT) AS nn_value,
                CAST(COUNT(DISTINCT event_type) AS BIGINT) AS d_type,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS d_user,
                CAST(SUM(CASE WHEN value >= 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_nonneg,
                MIN(value) AS min_v,
                MAX(value) AS max_v,
                CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
                    / COUNT(value) AS mean_v
            FROM events
        ),
        ent AS (
            SELECT ROUND(-CAST(SUM(CAST(
                       (CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
                       AS DECIMAL(28,10))) AS DOUBLE), 6) AS h
            FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c,
                         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n
                  FROM events WHERE event_type IS NOT NULL GROUP BY 1)
        )
        SELECT metric, value FROM (
            SELECT 'size' AS metric, CAST(n AS DOUBLE) AS value FROM base
            UNION ALL SELECT 'completeness_user_id',
                CAST(nn_user AS DOUBLE) / n FROM base
            UNION ALL SELECT 'completeness_value',
                CAST(nn_value AS DOUBLE) / n FROM base
            UNION ALL SELECT 'distinctness_event_type',
                CAST(d_type AS DOUBLE) / n FROM base
            UNION ALL SELECT 'distinctness_user_id',
                CAST(d_user AS DOUBLE) / n FROM base
            UNION ALL SELECT 'compliance_value_nonneg',
                CAST(n_nonneg AS DOUBLE) / n FROM base
            UNION ALL SELECT 'min_value', min_v FROM base
            UNION ALL SELECT 'max_value', max_v FROM base
            UNION ALL SELECT 'mean_value', mean_v FROM base
            UNION ALL SELECT 'entropy_event_type', h FROM ent
        )
    """,
    description=(
        "Deequ-style declarative column profile of events: completeness, "
        "distinctness, compliance, min/max/mean, category entropy"
    ),
    tags=("quality", "monitoring", "profiling", "deterministic"),
)
def events_column_profile(spark, sf_dir):
    """The constraint-suite metrics layer (the public AWS Deequ idea,
    Schelter et al. VLDB 2018) as ONE tall (metric, value) frame: the
    scalar block is one full-scan aggregate unpivoted in-plan (no
    per-metric rescans — Deequ's own core trick; the two exact distinct
    counts run as separate single-distinct aggregates, see the inline
    note), and the category entropy
    adds one grouped aggregate whose per-category p·ln p terms go through
    the decimal-exact sum so the result is accumulation-order independent.
    Feed the output to the txlog metrics table and the MAD-outlier monitor
    for Deequ's anomaly-detection-on-metric-history loop (both already in
    the registry: stream_merge_into_tx_table, events_mad_outlier_hours)."""
    events = load_table(spark, sf_dir, "events")
    # the two distinct counts run as separate single-distinct aggregates:
    # two countDistincts in ONE agg compile to an Expand whose branch
    # order follows JVM-global expression ids (nondeterministic plan TEXT
    # across session histories — a snapshot flake), and the Expand
    # triples the scanned rows anyway; two shuffle-on-one-column aggs are
    # both deterministic and cheaper
    base0 = events.agg(
        F.count("*").cast("long").alias("n"),
        F.count("user_id").cast("long").alias("nn_user"),
        F.count("value").cast("long").alias("nn_value"),
        F.sum((F.col("value") >= 0).cast("long")).alias("n_nonneg"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        (
            F.sum(F.col("value").cast(DEC)).cast("double")
            / F.count("value")
        ).alias("mean_v"),
    )
    dt = events.agg(
        F.countDistinct("event_type").cast("long").alias("d_type")
    )
    du = events.agg(F.countDistinct("user_id").cast("long").alias("d_user"))
    base = base0.crossJoin(F.broadcast(dt)).crossJoin(F.broadcast(du))
    tall = base.select(
        F.expr(
            """stack(9,
              'size', CAST(n AS DOUBLE),
              'completeness_user_id', CAST(nn_user AS DOUBLE) / n,
              'completeness_value', CAST(nn_value AS DOUBLE) / n,
              'distinctness_event_type', CAST(d_type AS DOUBLE) / n,
              'distinctness_user_id', CAST(d_user AS DOUBLE) / n,
              'compliance_value_nonneg', CAST(n_nonneg AS DOUBLE) / n,
              'min_value', min_v,
              'max_value', max_v,
              'mean_value', mean_v) AS (metric, value)"""
        )
    )
    from pyspark.sql.window import Window

    cat = (
        events.filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn(
            "n",
            F.sum("c").over(Window.partitionBy()).cast("long"),
        )
    )
    p = F.col("c").cast("double") / F.col("n")
    ent = cat.agg(
        F.round(
            -F.sum((p * F.log(p)).cast(DEC)).cast("double"), 6
        ).alias("value")
    ).select(F.lit("entropy_event_type").alias("metric"), "value")
    return tall.unionByName(ent)


# ---------------------------------------------------------------------------
# Bigram-LM perplexity proxy
# ---------------------------------------------------------------------------


@register(
    "doc_bigram_logprob",
    oracle=r"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\s+'),
                               tk -> tk <> '') AS toks
            FROM documents
        ),
        v AS (
            SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
            FROM (SELECT unnest(toks) AS tok FROM t)
        ),
        bi AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i])) AS w1,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i+1])) AS w2
            FROM t WHERE len(toks) >= 2
        ),
        g AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS m
              FROM bi GROUP BY 1, 2, 3),
        w AS (
            SELECT doc_id, m,
                   CAST(SUM(m) OVER (PARTITION BY w1, w2) AS BIGINT) AS c2,
                   CAST(SUM(m) OVER (PARTITION BY w1) AS BIGINT) AS c1
            FROM g
        )
        SELECT doc_id,
               CAST(SUM(m) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(m AS DECIMAL(9,0))
                        * CAST(ln(CAST(c1 + v.v AS DOUBLE))
                               - ln(CAST(c2 + 1 AS DOUBLE))
                               AS DECIMAL(28,10))) AS DOUBLE)
                   / SUM(m) AS avg_neg_logprob
        FROM w CROSS JOIN v
        GROUP BY doc_id
    """,
    description=(
        "perplexity-proxy under the corpus's own add-one-smoothed bigram "
        "LM: per-doc mean -ln p(w2|w1), decimal-exact accumulation"
    ),
    tags=("text", "quality", "corpus", "llm-data"),
)
def doc_bigram_logprob(spark, sf_dir):
    """The CCNet-style LM quality filter one order up from
    doc_unigram_logprob: score each doc by mean -ln p(w2|w1) under the
    corpus's own add-one-smoothed bigram model (low = predictable
    boilerplate, high = incoherent token soup — both tails get cut in a
    real corpus pipeline).

    Plan shape mirrors the unigram query's single-scan trick: the
    (doc, w1, w2)-grain reduce collapses repeats map-side, then TWO count
    windows over the same grain turn it into the conditional-probability
    table in place (c2 over the bigram key, c1 over the context key — no
    self-joins, no second corpus scan); the vocabulary size is a 1-row
    aggregate collected to a literal. The per-doc mean uses the
    decimal-exact sum, so the score is accumulation-order independent."""
    from pyspark.sql.window import Window

    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    vocab = int(
        # explode_outer + isNotNull: see dedup.exploded_shingles (guard device)
        toks.select(F.explode_outer("toks").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .agg(F.countDistinct("tok"))
        .first()[0]
    )
    sz = F.size("toks")
    pairs = (
        toks.filter(sz >= 2)
        .select(
            "doc_id",
            F.explode_outer(
                F.arrays_zip(
                    F.slice("toks", 1, sz - 1).alias("w1"),
                    F.slice("toks", 2, sz - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .filter(F.col("p").isNotNull())
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    g = pairs.groupBy("doc_id", "w1", "w2").agg(
        F.count("*").cast("long").alias("m")
    )
    c2 = F.sum("m").over(Window.partitionBy("w1", "w2")).cast("long")
    c1 = F.sum("m").over(Window.partitionBy("w1")).cast("long")
    term = F.log((c1 + F.lit(vocab)).cast("double")) - F.log(
        (c2 + F.lit(1)).cast("double")
    )
    flagged = g.select(
        "doc_id",
        "m",
        (F.col("m").cast("decimal(9,0)") * term.cast(DEC)).alias("__t"),
    )
    return flagged.groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"),
        (F.sum("__t").cast("double") / F.sum("m")).alias("avg_neg_logprob"),
    )


# ---------------------------------------------------------------------------
# Label-propagation communities
# ---------------------------------------------------------------------------


def _lpa_oracle_ctes(edges_cte: str, iters: int) -> str:
    """Unroll ``iters`` synchronous LPA rounds mirroring
    operators/graph.py:label_propagation — pure integer arithmetic (counts
    + smallest-label tie-break), so no rounding conventions are needed at
    all. Label tables are MATERIALIZED (each is read twice: next round's
    count join + the carry-forward COALESCE)."""
    parts = [
        f"edges AS MATERIALIZED ({edges_cte})",
        "nodes AS MATERIALIZED"
        " (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nodes)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"""n{k} AS (
            SELECT e.src AS id, l.lbl, COUNT(*) AS c
            FROM edges e JOIN l{p} l ON e.dst = l.id
            GROUP BY 1, 2)"""
        )
        parts.append(
            f"""p{k} AS (
            SELECT id, lbl FROM (
                SELECT id, lbl, ROW_NUMBER() OVER (
                    PARTITION BY id ORDER BY c DESC, lbl ASC) AS rn
                FROM n{k})
            WHERE rn = 1)"""
        )
        parts.append(
            f"""l{k} AS MATERIALIZED (
            SELECT n.id, COALESCE(p.lbl, n.id) AS lbl
            FROM nodes n LEFT JOIN p{k} p ON p.id = n.id)"""
        )
    return "WITH " + ",\n".join(parts)


@register(
    "copurchase_label_communities",
    oracle=_lpa_oracle_ctes(_COPURCHASE_EDGES_SQL, 2)
    + """
        SELECT lbl AS community_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM l2
        GROUP BY 1
        HAVING COUNT(*) >= 2
        ORDER BY n_members DESC, community_id
        LIMIT 20
    """,
    description=(
        "top-20 co-purchase communities by synchronous label propagation "
        "(2 rounds, smallest-label ties — pure integer determinism)"
    ),
    tags=("graph", "community", "analytics", "deterministic"),
)
def copurchase_label_communities(spark, sf_dir):
    """Density-based item communities over the same co-purchase graph the
    PageRank query ranks: LPA keeps dense clusters separate even when a
    thin bridge connects them (where connected components would merge —
    the two queries together cover both graph-clustering semantics this
    engine offers). Two synchronous rounds, deterministic tie-break; the
    result is the size histogram of non-singleton communities."""
    from ..operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_partkey").cast("long").alias("part"),
    )  # no .distinct(): the basket collect_set dedups parts per order
    edges = copurchase_edges_from_baskets(po, keep_weight=False)
    lbl = label_propagation(edges, iters=2, assume_distinct=True)
    return (
        lbl.groupBy(F.col("lbl").alias("community_id"))
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") >= 2)
        .orderBy(F.col("n_members").desc(), "community_id")
        .limit(20)
    )


_COPURCHASE_WEDGES_SQL = f"""
    WITH po AS (SELECT DISTINCT l_orderkey AS okey,
                       CAST(l_partkey AS BIGINT) AS part
                FROM lineitem),
         ok AS (SELECT okey FROM po
                GROUP BY 1 HAVING COUNT(*) <= {_MAX_BASKET})
    SELECT a.part AS src, b.part AS dst, CAST(COUNT(*) AS BIGINT) AS w
    FROM po a
    JOIN ok ON a.okey = ok.okey
    JOIN po b ON a.okey = b.okey AND a.part <> b.part
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
"""


def cap_baskets(po, max_basket: int = _MAX_BASKET):
    """The k^2 guard, shared by every within-basket self-join (edges,
    lift, Jaccard): drop baskets holding more than ``max_basket``
    distinct parts via a semi-join against the size-filtered basket list
    — one extra grouped count on the narrow (okey, part) projection, no
    extra scan of the fact table."""
    sized = (
        po.groupBy("okey")
        .agg(F.count("*").alias("__bs"))
        .filter(F.col("__bs") <= max_basket)
        .select("okey")
    )
    return po.join(sized, "okey", "left_semi")


def copurchase_edges_from_baskets(
    po, keep_weight: bool, max_basket: int = _MAX_BASKET
):
    """Support>=2 co-purchase edges from a ``(okey, part)`` basket table,
    with the k^2 guard: pair output per order is bounded by max_basket^2 at
    any data scale.

    Shape: ONE ``collect_set`` aggregation builds each order's part-set
    array, then ordered pairs are generated as an array expression and
    exploded. Exactly equivalent to the previous distinct → grouped-count
    cap → semi-join → self-join pipeline (collect_set dedups parts within
    the order; ``size(parts) <= max_basket`` is the same guard; the pair
    count per (src, dst) is the same number of orders containing both),
    but with TWO exchanges instead of four — the distinct's (okey, part)
    exchange, the cap's count exchange and the self-join's okey exchange
    collapse into the single collect_set exchange (guide §2.4). The input
    no longer needs a ``.distinct()``. NULL okeys are filtered to mirror
    the old equi-join, which never matched them.

    Only CANONICAL (src < dst) pairs are generated and shuffled; the
    symmetric mirror is a union AFTER the support-count aggregation, over
    the (tiny, support-filtered) edge table. Support counts are direction-
    independent, so the edge set is identical — but the pair explode and
    the (src, dst) count exchange carry HALF the rows (guide §2.3: shuffle
    fewer bytes; r15 A/B −16% on the build)."""
    baskets = (
        po.filter(F.col("okey").isNotNull())
        .groupBy("okey")
        .agg(F.collect_set("part").alias("__parts"))
        .filter(F.size("__parts") <= max_basket)
    )
    pairs = F.flatten(
        F.transform(
            "__parts",
            lambda x: F.filter(
                F.transform(
                    "__parts",
                    lambda y: F.struct(x.alias("src"), y.alias("dst")),
                ),
                lambda p: p["src"] < p["dst"],
            ),
        )
    )
    half = (
        baskets.select(F.explode(pairs).alias("p"))
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
        .filter(F.col("w") >= 2)
    )
    e = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return e if keep_weight else e.select("src", "dst")


def _copurchase_edges(spark, sf_dir, keep_weight: bool):
    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_partkey").cast("long").alias("part"),
    )  # no .distinct(): the basket collect_set dedups parts per order
    return copurchase_edges_from_baskets(po, keep_weight)


@register(
    "part_copurchase_pagerank_weighted",
    oracle=_pagerank_oracle_ctes(_COPURCHASE_WEDGES_SQL, 3, weighted=True)
    + """
        SELECT id AS partkey, rank AS pagerank
        FROM r3
        ORDER BY pagerank DESC, partkey
        LIMIT 20
    """,
    description=(
        "top-20 parts by WEIGHTED PageRank (edge weight = co-purchase "
        "support; contributions d·r·w/W_out, exact-integer normalizers)"
    ),
    tags=("graph", "pagerank", "analytics", "deterministic"),
)
def part_copurchase_pagerank_weighted(spark, sf_dir):
    """The weighted sibling of part_copurchase_pagerank_topk: a pair
    bought together in 10 baskets should pull 5x the rank mass of a pair
    bought together in 2, so the edge weight is the co-purchase support
    and each node's contribution is split w/W_out instead of 1/outdeg.
    Weights stay exact integers end to end (W_out is an exact shuffle
    sum), so the quantized-iteration determinism contract is unchanged."""
    from ..operators.graph import pagerank

    edges = _copurchase_edges(spark, sf_dir, keep_weight=True)
    r = pagerank(
        edges, iters=3, weight="w", assume_distinct=True,
        assume_symmetric=True,
    )
    return (
        r.select(F.col("id").alias("partkey"), F.col("rank").alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "partkey")
        .limit(20)
    )


@register(
    "related_parts_ppr",
    oracle=_pagerank_oracle_ctes(
        _COPURCHASE_EDGES_SQL, 3, ppr_top_degree_seed=True
    )
    + """
        SELECT seed.sid AS seed_part, r3.id AS partkey, r3.rank AS ppr
        FROM r3 CROSS JOIN seed
        WHERE r3.rank > 0
        ORDER BY ppr DESC, partkey
        LIMIT 10
    """,
    description=(
        "related parts by personalized PageRank from the busiest part "
        "(random-walk-with-restart over the co-purchase graph)"
    ),
    tags=("graph", "pagerank", "recommendation", "deterministic"),
)
def related_parts_ppr(spark, sf_dir):
    """Recommendation by graph proximity — the 'related items' mechanism
    next to part_copurchase_lift (direct pair statistics): personalized
    PageRank restarts every walk at the seed part, so rank measures
    multi-hop closeness in the co-purchase graph, surfacing items related
    THROUGH shared neighbors even when never co-bought directly. Seed =
    the highest-out-degree part (deterministic: ties break to the
    smallest id), the busiest item in the catalog."""
    from ..operators.graph import pagerank

    edges = _copurchase_edges(spark, sf_dir, keep_weight=False)
    seed_row = (
        edges.groupBy("src")
        .agg(F.count("*").alias("outdeg"))
        .orderBy(F.col("outdeg").desc(), "src")
        .first()
    )
    if seed_row is None:
        raise ValueError("personalized PageRank needs a non-empty edge list")
    seed = int(seed_row["src"])
    r = pagerank(
        edges, iters=3, teleport=[seed], assume_distinct=True,
        assume_symmetric=True,
    )
    return (
        r.filter(F.col("rank") > 0)
        .select(
            F.lit(seed).cast("long").alias("seed_part"),
            F.col("id").alias("partkey"),
            F.col("rank").alias("ppr"),
        )
        .orderBy(F.col("ppr").desc(), "partkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Phrase search (positional matching)
# ---------------------------------------------------------------------------


@register(
    "top_phrase_docs",
    oracle=r"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\s+'),
                               tk -> tk <> '') AS toks
            FROM documents
        ),
        tri AS (
            SELECT doc_id,
                   list_transform(range(1, len(toks) - 1),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
                       AS tg
            FROM t WHERE len(toks) >= 3
        ),
        top1 AS (
            SELECT tg3 AS phrase FROM (
                SELECT unnest(tg) AS tg3 FROM tri
            ) GROUP BY 1
            ORDER BY COUNT(*) DESC, tg3 ASC
            LIMIT 1
        )
        SELECT tri.doc_id, top1.phrase,
               CAST(len(list_filter(tri.tg, g -> g = top1.phrase))
                    AS BIGINT) AS n_occurrences
        FROM tri CROSS JOIN top1
        WHERE len(list_filter(tri.tg, g -> g = top1.phrase)) > 0
        ORDER BY n_occurrences DESC, tri.doc_id
        LIMIT 10
    """,
    description=(
        "positional phrase search: docs ranked by occurrences of the "
        "corpus's most frequent word trigram (exact adjacency, not bag)"
    ),
    tags=("text", "retrieval", "deterministic"),
)
def top_phrase_docs(spark, sf_dir):
    """Exact-adjacency phrase matching — the capability a bag-of-words
    index (term_posting_stats, bm25) cannot express: occurrences of a
    3-token phrase, counted positionally. The phrase is data-driven (the
    corpus's most frequent trigram, ties lexicographic) so the query works
    at every scale factor; it is collected once as a scalar (the
    documented scalar-stats pattern) and the per-doc occurrence count is
    then an array filter inside one projection — same explode-free shape
    as the BM25 tf computation, so the matching pass is a single scan."""
    from ..operators.text import ngrams, tokens

    docs = load_table(spark, sf_dir, "documents")
    tri = docs.select(
        "doc_id", tokens("text").alias("toks")
    ).filter(F.size("toks") >= 3).select(
        "doc_id", ngrams(F.col("toks"), 3).alias("tg")
    )
    top = (
        # explode_outer + isNotNull: see dedup.exploded_shingles (guard device)
        tri.select(F.explode_outer("tg").alias("tg3"))
        .filter(F.col("tg3").isNotNull())
        .groupBy("tg3")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tg3").asc())
        .first()
    )
    if top is None:
        raise ValueError(
            "phrase search needs at least one document with >= 3 tokens"
        )
    phrase = top["tg3"]
    occ = F.size(F.filter("tg", _eq_term(phrase)))
    return (
        tri.select(
            "doc_id",
            F.lit(phrase).alias("phrase"),
            occ.cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") > 0)
        .orderBy(F.col("n_occurrences").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Directed-graph structure stats + metric-history drift
# ---------------------------------------------------------------------------


@register(
    "nation_trade_graph_stats",
    oracle="WITH edges AS MATERIALIZED ("
    + _NATION_EDGES_SQL
    + """),
        nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        base AS (
            SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
                   CAST(COUNT(*) AS BIGINT) AS n_edges,
                   CAST(SUM(CASE WHEN EXISTS (
                       SELECT 1 FROM edges r
                       WHERE r.src = e.dst AND r.dst = e.src)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_recip
            FROM edges e
        ),
        degs AS (
            SELECT CAST(MAX(od) AS BIGINT) AS max_outdeg
            FROM (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1)
        ),
        degi AS (
            SELECT CAST(MAX(idg) AS BIGINT) AS max_indeg
            FROM (SELECT dst, COUNT(*) AS idg FROM edges GROUP BY 1)
        )
        SELECT metric, value FROM (
            SELECT 'n_nodes' AS metric, CAST(n_nodes AS DOUBLE) AS value
            FROM base
            UNION ALL SELECT 'n_edges', CAST(n_edges AS DOUBLE) FROM base
            UNION ALL SELECT 'density',
                CAST(n_edges AS DOUBLE) / (n_nodes * (n_nodes - 1))
            FROM base
            UNION ALL SELECT 'reciprocity',
                CAST(n_recip AS DOUBLE) / n_edges FROM base
            UNION ALL SELECT 'avg_outdeg',
                CAST(n_edges AS DOUBLE) / n_nodes FROM base
            UNION ALL SELECT 'max_outdeg', CAST(max_outdeg AS DOUBLE)
            FROM degs
            UNION ALL SELECT 'max_indeg', CAST(max_indeg AS DOUBLE)
            FROM degi
        )
    """,
    description=(
        "directed-graph structure profile of the trade graph: density, "
        "reciprocity, degree extremes (exact counts, single divisions)"
    ),
    tags=("graph", "analytics", "profiling", "deterministic"),
)
def nation_trade_graph_stats(spark, sf_dir):
    """The graph-shape profile that decides which algorithm variant to run
    before an iterative job is launched at scale (dense → fewer rounds,
    reciprocal → symmetric fast paths, skewed degrees → salting): node and
    edge counts, density, reciprocity (share of edges whose reverse
    exists — a semi-join, not a full pairwise pass), degree extremes.
    Every value is an exact count or a single double division."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    edges = (
        # supplier/customer scale with SF (1B/15B rows at 100 TB): no
        # forced broadcast — AQE sizes the joins (nation keeps its hint)
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
        .distinct()
        .persist()
    )
    n_nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    if n_nodes < 2:
        edges.unpersist()
        raise ValueError(
            "graph stats need >= 2 nodes (density divides by n*(n-1))"
        )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    n_recip = edges.join(rev, ["src", "dst"], "left_semi").count()
    n_edges = edges.count()
    max_out = (
        edges.groupBy("src").count().agg(F.max("count")).first()[0]
    )
    max_in = edges.groupBy("dst").count().agg(F.max("count")).first()[0]
    edges.unpersist()
    rows = [
        ("n_nodes", float(n_nodes)),
        ("n_edges", float(n_edges)),
        ("density", n_edges / (n_nodes * (n_nodes - 1))),
        ("reciprocity", n_recip / n_edges),
        ("avg_outdeg", n_edges / n_nodes),
        ("max_outdeg", float(max_out)),
        ("max_indeg", float(max_in)),
    ]
    return spark.createDataFrame(rows, "metric string, value double")


@register(
    "events_daily_quality_drift",
    oracle="""
        WITH d AS (
            SELECT date_trunc('day', ts) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(*) - COUNT(user_id) AS BIGINT) AS n_null_user
            FROM events
            GROUP BY 1
        ),
        p AS (
            SELECT day, n_events, n_null_user,
                   CAST(FLOOR(CAST(n_null_user AS DOUBLE) * 1000000
                              / n_events) AS BIGINT) AS null_ppm
            FROM d
        ),
        s1 AS (SELECT CAST(2.0 * median(null_ppm) AS BIGINT) AS med2 FROM p),
        dd AS (
            SELECT p.*, med2, abs(2 * null_ppm - med2) AS d2
            FROM p, s1
        ),
        s2 AS (SELECT CAST(2.0 * median(d2) AS BIGINT) AS m4 FROM dd)
        SELECT day, n_events, null_ppm,
               CAST(med2 AS DOUBLE) / 2.0 AS median_ppm,
               CAST(m4 AS DOUBLE) / 4.0 AS mad_ppm,
               CAST(CASE WHEN 10000 * d2 > 22239 * m4 THEN 1 ELSE 0 END
                    AS INT) AS is_drifted
        FROM dd, s2
    """,
    description=(
        "Deequ-style anomaly detection on a metric HISTORY: daily "
        "user_id-completeness (ppm) vs median/MAD of all days"
    ),
    tags=("quality", "monitoring", "profiling", "timeseries", "deterministic"),
)
def events_daily_quality_drift(spark, sf_dir):
    """The anomaly-detection-on-metric-history loop Deequ runs on its
    metrics repository, inlined over the event log: the daily completeness
    of user_id (as an exact parts-per-million integer — FLOOR on both
    engines, the CBO-audit floor-semantics rule) compared against the
    robust center of its own history; a day drifts when
    |x−med| > 3·1.4826·MAD. Medians ride the dyadic trick from
    events_mad_outlier_hours (2·median of integers is an exact integer),
    so the flag is an exact integer comparison — no float thresholds."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    p = (
        events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (F.count("*") - F.count("user_id"))
            .cast("long")
            .alias("n_null_user"),
        )
        .withColumn(
            "null_ppm",
            F.floor(
                F.col("n_null_user").cast("double")
                * F.lit(1000000.0)
                / F.col("n_events")
            ).cast("long"),
        )
    )
    w = Window.partitionBy()
    dd = p.withColumn(
        "med2",
        (F.lit(2.0) * F.expr("median(null_ppm)").over(w)).cast("long"),
    ).withColumn("d2", F.abs(2 * F.col("null_ppm") - F.col("med2")))
    out = dd.withColumn(
        "m4", (F.lit(2.0) * F.expr("median(d2)").over(w)).cast("long")
    )
    return out.select(
        "day",
        "n_events",
        "null_ppm",
        (F.col("med2").cast("double") / F.lit(2.0)).alias("median_ppm"),
        (F.col("m4").cast("double") / F.lit(4.0)).alias("mad_ppm"),
        F.when(10000 * F.col("d2") > 22239 * F.col("m4"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_drifted"),
    )


def _bfs_oracle_ctes(edges_cte: str, max_hops: int) -> str:
    """Unroll multi-source BFS from the top-out-degree seed (ties →
    smallest id) — integer min-propagation, mirrored round for round."""
    parts = [
        f"edges AS MATERIALIZED ({edges_cte})",
        "outd AS MATERIALIZED"
        " (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg"
        "  FROM edges GROUP BY 1)",
        "seed AS MATERIALIZED"
        " (SELECT src AS sid FROM outd ORDER BY outdeg DESC, src LIMIT 1)",
        "d0 AS MATERIALIZED"
        " (SELECT sid AS id, 0 AS hop FROM seed)",
    ]
    for k in range(1, max_hops + 1):
        p = k - 1
        parts.append(
            f"""d{k} AS MATERIALIZED (
            SELECT id, CAST(MIN(hop) AS INT) AS hop FROM (
                SELECT id, hop FROM d{p}
                UNION ALL
                SELECT e.dst AS id, d.hop + 1 AS hop
                FROM edges e JOIN d{p} d ON e.src = d.id
            ) GROUP BY 1)"""
        )
    return "WITH " + ",\n".join(parts)


@register(
    "copurchase_bfs_hop_histogram",
    oracle=_bfs_oracle_ctes(_COPURCHASE_EDGES_SQL, 3)
    + """
        SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM d3
        GROUP BY 1
        ORDER BY hop
    """,
    description=(
        "k-hop neighborhood size: parts by BFS distance (≤3) from the "
        "busiest part in the co-purchase graph"
    ),
    tags=("graph", "traversal", "analytics", "deterministic"),
)
def copurchase_bfs_hop_histogram(spark, sf_dir):
    """How far does influence reach from the busiest item? Multi-round
    BFS (operators/graph.py:bfs_levels — the CC propagation loop with +1)
    from the top-out-degree part, histogrammed by hop. The 3-hop cap is
    the production 'k-hop neighborhood' shape: bounded rounds, bounded
    frontier, oracle-unrollable."""
    from ..operators.graph import bfs_levels

    edges = _copurchase_edges(spark, sf_dir, keep_weight=False)
    seed_row = (
        edges.groupBy("src")
        .agg(F.count("*").alias("outdeg"))
        .orderBy(F.col("outdeg").desc(), "src")
        .first()
    )
    if seed_row is None:
        raise ValueError("BFS needs a non-empty edge list to pick a seed")
    dist = bfs_levels(
        edges, [int(seed_row["src"])], max_hops=3, assume_distinct=True
    )
    return (
        dist.groupBy("hop")
        .agg(F.count("*").alias("n_parts"))
        .orderBy("hop")
    )


@register(
    "stream_copurchase_pagerank",
    oracle=_pagerank_oracle_ctes(_COPURCHASE_EDGES_SQL, 3)
    + """
        SELECT id AS partkey, rank AS pagerank
        FROM r3
        ORDER BY pagerank DESC, partkey
        LIMIT 20
    """,
    description=(
        "streaming graph accumulation → committed snapshot → PageRank: "
        "basket pairs arrive as micro-batches, MERGE into the txlog "
        "table, final ranks equal the batch computation (full oracle)"
    ),
    tags=("streaming", "graph", "pagerank", "table-format", "deterministic"),
)
def stream_copurchase_pagerank(spark, sf_dir):
    """The streaming shape of the graph family: (order, part) pairs
    arrive as micro-batches and MERGE into a transaction-log table (one
    auditable version per batch; the pair key dedups re-deliveries), and
    PageRank runs over the COMMITTED snapshot — so edges whose two
    endpoints arrived in different micro-batches are still discovered,
    because the self-join happens on the accumulated table, not inside a
    batch. Final top-20 is batch-split independent and shares the batch
    query's oracle verbatim — the stream == batch contract every
    streaming query in this registry keeps."""
    from ..operators.graph import pagerank
    from ..scratch import scratch_unique
    from ..sources.txlog import TxTable
    from ..streaming.pipeline import (
        lineitem_pairs_stream,
        run_merge_into_table,
    )

    table = TxTable(spark, scratch_unique(spark, "txcopurchase"))
    stream = lineitem_pairs_stream(spark, sf_dir).withColumn(
        "pair_key",
        F.concat_ws("|", F.col("okey").cast("string"), F.col("part")),
    )
    snap = run_merge_into_table(stream, table, "pair_key", ["okey", "part"])
    po = snap.select("okey", "part")
    edges = copurchase_edges_from_baskets(po, keep_weight=False)
    r = pagerank(
        edges,
        iters=3,
        damping=0.85,
        assume_distinct=True,
        assume_symmetric=True,
    )
    return (
        r.select(
            F.col("id").alias("partkey"), F.col("rank").alias("pagerank")
        )
        .orderBy(F.col("pagerank").desc(), "partkey")
        .limit(20)
    )


@register(
    "copurchase_community_modularity",
    oracle=_lpa_oracle_ctes(_COPURCHASE_EDGES_SQL, 2)
    + """,
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
        labeled AS (
            SELECT ls.lbl AS c_src, ld.lbl AS c_dst
            FROM edges e
            JOIN l2 ls ON ls.id = e.src
            JOIN l2 ld ON ld.id = e.dst
        ),
        per AS (
            SELECT c_src AS community_id,
                   CAST(SUM(CASE WHEN c_src = c_dst THEN 1 ELSE 0 END)
                        AS BIGINT) AS e_within,
                   CAST(COUNT(*) AS BIGINT) AS e_out
            FROM labeled
            GROUP BY 1
        ),
        e_in AS (
            SELECT c_dst AS community_id, CAST(COUNT(*) AS BIGINT) AS e_in
            FROM labeled GROUP BY 1
        )
        SELECT p.community_id, p.e_within, p.e_out,
               COALESCE(i.e_in, 0) AS e_in,
               CAST(p.e_within AS DOUBLE) / m.m
               - (CAST(p.e_out AS DOUBLE) / m.m)
                 * (CAST(COALESCE(i.e_in, 0) AS DOUBLE) / m.m)
                   AS modularity_term
        FROM per p
        LEFT JOIN e_in i ON i.community_id = p.community_id
        CROSS JOIN m
        ORDER BY e_within DESC, p.community_id
        LIMIT 20
    """,
    description=(
        "directed modularity terms of the LPA communities: within-edges "
        "vs degree-product expectation per community (exact counts)"
    ),
    tags=("graph", "community", "analytics", "deterministic"),
)
def copurchase_community_modularity(spark, sf_dir):
    """Did label propagation find real structure? The directed-modularity
    decomposition (Leicht & Newman 2008): each community contributes
    e_within/m − (out/m)·(in/m) — observed internal edges minus the
    random-graph expectation at the same degrees. Every input is an
    exact integer count over the labeled edge list (edges ⋈ labels on
    both endpoints — two hash joins against the small label table), so
    the terms are single fixed-order double expressions. Top-20 by
    internal mass."""
    from ..operators.graph import label_propagation

    edges = _copurchase_edges(spark, sf_dir, keep_weight=False)
    lbl = label_propagation(edges, iters=2, assume_distinct=True)
    # m rides the plan as a broadcast 1-row aggregate (the oracle's CROSS
    # JOIN m CTE) instead of a driver-side count action: the old
    # persist -> count -> unpersist triple unpersisted BEFORE the returned
    # lazy frame was ever evaluated, so the final evaluation recomputed the
    # whole edge build anyway and the cache bought nothing but the count —
    # the labels label_propagation returns are lineage-cut internally, so
    # no iteration work repeats either way
    m_df = edges.agg(F.count("*").cast("double").alias("__m"))
    ls = lbl.withColumnRenamed("id", "src").withColumnRenamed("lbl", "c_src")
    ld = lbl.withColumnRenamed("id", "dst").withColumnRenamed("lbl", "c_dst")
    labeled = edges.join(ls, "src").join(ld, "dst").select("c_src", "c_dst")
    per = labeled.groupBy(F.col("c_src").alias("community_id")).agg(
        F.sum((F.col("c_src") == F.col("c_dst")).cast("long"))
        .cast("long")
        .alias("e_within"),
        F.count("*").cast("long").alias("e_out"),
    )
    e_in = labeled.groupBy(F.col("c_dst").alias("community_id")).agg(
        F.count("*").cast("long").alias("e_in")
    )
    return (
        per.join(e_in, "community_id", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "community_id",
            "e_within",
            "e_out",
            F.coalesce("e_in", F.lit(0).cast("long")).alias("e_in"),
            (
                F.col("e_within").cast("double") / F.col("__m")
                - (F.col("e_out").cast("double") / F.col("__m"))
                * (
                    F.coalesce("e_in", F.lit(0).cast("long")).cast("double")
                    / F.col("__m")
                )
            ).alias("modularity_term"),
        )
        .orderBy(F.col("e_within").desc(), "community_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round 8: item-item basket similarity and pseudo-relevance-feedback query
# expansion
# ---------------------------------------------------------------------------


@register(
    "part_jaccard_copurchase_similarity",
    oracle=f"""
        -- item-item similarity the way recommender co-occurrence models
        -- compute it: Jaccard over basket SETS (|A∩B| / |A∪B|), support
        -- floor 3, top-20 — the set-overlap sibling of the lift query
        -- (lift normalizes by popularity product, Jaccard by union size).
        -- Baskets over {_MAX_BASKET} parts are dropped (the k^2 guard).
        WITH po0 AS (
            SELECT DISTINCT l_orderkey AS okey,
                   CAST(l_partkey AS BIGINT) AS part
            FROM lineitem
        ),
        ok AS (SELECT okey FROM po0
               GROUP BY 1 HAVING COUNT(*) <= {_MAX_BASKET}),
        po AS (SELECT po0.* FROM po0 JOIN ok ON po0.okey = ok.okey),
        pc AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_part
               FROM po GROUP BY 1),
        pairs AS (
            SELECT a.part AS part_a, b.part AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS n_both
            FROM po a JOIN po b
              ON a.okey = b.okey AND a.part < b.part
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        )
        SELECT part_a, part_b, n_both,
               CAST(n_both AS DOUBLE)
                   / CAST(ca.n_part + cb.n_part - n_both AS DOUBLE)
                   AS jaccard
        FROM pairs
        JOIN pc ca ON ca.part = pairs.part_a
        JOIN pc cb ON cb.part = pairs.part_b
        ORDER BY jaccard DESC, part_a, part_b
        LIMIT 20
    """,
    description=(
        "item-item basket-set Jaccard similarity: top-20 part pairs by "
        "|A∩B|/|A∪B| over orders (support floor 3, max-basket guard)"
    ),
    tags=("analytics", "association", "similarity", "deterministic"),
)
def part_jaccard_copurchase_similarity(spark, sf_dir):
    """The co-occurrence similarity a 'customers also bought' model serves:
    each part's basket set, pairwise intersection from the capped
    within-basket self-join (max-basket guard bounds the quadratic pair
    emission), Jaccard as ONE double division of exact integers — so the
    ordering is cross-engine stable. Same scan layout as the lift query;
    the two scores answer different questions (lift: dependence beyond
    popularity; Jaccard: set overlap) off one posting shape."""
    li = load_table(spark, sf_dir, "lineitem")
    po = cap_baskets(
        li.select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_partkey").cast("long").alias("part"),
        ).distinct()
    )
    pc = po.groupBy("part").agg(F.count("*").cast("bigint").alias("n_part"))
    a, b = po.alias("a"), po.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(
            F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
        .where(F.col("n_both") >= 3)
    )
    ca = pc.select(F.col("part").alias("part_a"), F.col("n_part").alias("na"))
    cb = pc.select(F.col("part").alias("part_b"), F.col("n_part").alias("nb"))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


_PRF_FEEDBACK_DEPTH = 3  # pseudo-relevant docs taken from the seed ranking
_PRF_EXPANSION_TERMS = 5  # expansion terms mined from the feedback docs
_PRF_SEED_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "query_expansion_prf_retrieval",
    bench=True,
    oracle=rf"""
        -- pseudo-relevance feedback (Rocchio/RM shape): run the seed BM25
        -- query, mine the top feedback docs for expansion terms (highest
        -- total tf, excluding seeds and terms in over half the corpus),
        -- re-score with the expanded term set at the posting grain.
        -- Per-(doc,term) contributions are decimal-quantized before the
        -- per-doc sum (order-free), final score rounded at 6.
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\s+'),
                               tk -> tk <> '') AS toks
            FROM documents
        ),
        d AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               {_BM25_TF_COLS_SQL}
            FROM t
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(dl) AS BIGINT) AS sdl,
               {_BM25_DF_COLS_SQL}
            FROM d
        ),
        fb AS (
            SELECT d.doc_id
            FROM d CROSS JOIN s
            WHERE {_BM25_MATCH_SQL}
            ORDER BY ROUND({_BM25_TERM_SQL}, 6) DESC, d.doc_id
            LIMIT {_PRF_FEEDBACK_DEPTH}
        ),
        post AS (
            SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
            GROUP BY 1, 2
        ),
        tstat AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM post GROUP BY 1
        ),
        expn AS (
            SELECT p.term
            FROM post p
            JOIN fb ON fb.doc_id = p.doc_id
            JOIN tstat ts ON ts.term = p.term
            CROSS JOIN s
            WHERE p.term NOT IN ({_PRF_SEED_SQL}) AND ts.df * 2 <= s.n
            GROUP BY p.term
            ORDER BY SUM(p.tf) DESC, p.term
            LIMIT {_PRF_EXPANSION_TERMS}
        ),
        qterms AS (
            SELECT unnest([{_PRF_SEED_SQL}]) AS term
            UNION ALL SELECT term FROM expn
        ),
        scored AS (
            SELECT p.doc_id,
                   ROUND(CAST(SUM(CAST(
                       ln(CAST(1.0 AS DOUBLE)
                          + (CAST(s.n AS DOUBLE) - ts.df
                             + CAST(0.5 AS DOUBLE))
                            / (ts.df + CAST(0.5 AS DOUBLE)))
                       * (p.tf * (CAST(1.2 AS DOUBLE)
                                  + CAST(1.0 AS DOUBLE)))
                       / (p.tf + CAST(1.2 AS DOUBLE)
                                 * ((CAST(1.0 AS DOUBLE)
                                     - CAST(0.75 AS DOUBLE))
                                    + CAST(0.75 AS DOUBLE) * dd.dl
                                      / (CAST(s.sdl AS DOUBLE) / s.n)))
                       AS DECIMAL(28,10))) AS DOUBLE), 6) AS bm25_expanded
            FROM post p
            JOIN qterms q ON q.term = p.term
            JOIN tstat ts ON ts.term = p.term
            JOIN (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t) dd
              ON dd.doc_id = p.doc_id
            CROSS JOIN s
            GROUP BY 1
        )
        SELECT doc_id, bm25_expanded
        FROM scored
        ORDER BY bm25_expanded DESC, doc_id
        LIMIT 10
    """,
    description=(
        "pseudo-relevance-feedback retrieval: seed BM25 top-3 mines 5 "
        "expansion terms, expanded query re-scored at the posting grain"
    ),
    tags=("text", "retrieval", "llm-data", "deterministic"),
)
def query_expansion_prf_retrieval(spark, sf_dir):
    """The second-pass retrieval production search runs when the seed
    query is short: take the seed ranking's top docs as pseudo-relevant,
    mine them for the highest-mass terms the corpus doesn't consider
    boilerplate (df <= n/2, seeds excluded — exact integer rules), and
    re-score with the expanded query. Scoring moves to the POSTING grain
    — (doc, term, tf) with per-term idf joined in — because the expanded
    term set is data-dependent, unlike the fixed-column seed scorer; the
    variable-size per-doc sum is decimal-quantized per contribution, so
    the fold order never matters. Feedback docs and expansion terms are
    bounded collects (3 ids + 5 strings); everything heavy stays
    distributed."""
    from ..operators.text import tokens as tok_fn

    # the seed ranking, the per-doc lengths, and the corpus stats all come
    # from the ONE persisted BM25 per-doc frame (_bm25_doc_stats): the old
    # shape re-tokenized the corpus for the dl projection and again for a
    # separate (n, sdl) stats job — two full passes whose values are already
    # in the cached frame / collected stats row
    d, st = _bm25_doc_stats(spark, sf_dir)
    fb = [
        r["doc_id"]
        for r in _bm25_scored_from(d, st)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_PRF_FEEDBACK_DEPTH)
        .collect()
    ]
    from ..operators.text import _spread_text

    # the posting/term-stat passes below each pay a tokenize (+ explode):
    # spread the (id, text) projection so none of them is single-tasked on a
    # one-row-group scan (guide §2.5; no-op on well-split inputs)
    docs = _spread_text(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    ).select("doc_id", tok_fn("text").alias("toks"))
    dl = d.select("doc_id", "dl")
    post = (
        # explode_outer + isNotNull: see dedup.exploded_shingles (guard
        # device; the doc_id mining filter still pushes below the Generate)
        docs.select("doc_id", F.explode_outer("toks").alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # persist the per-term document frequencies: they are consumed by TWO
    # actions (the expansion-mining join and the final scorer's broadcast),
    # and without the cache the second one re-runs a full corpus tokenize
    # pass just to re-derive them. The cache is VOCABULARY-sized (term +
    # one long), not posting-sized — persisting `post` itself was measured
    # a wash (the O(tokens) cache write costs what the recompute saves;
    # r15 A/B), while this trades a full text pass for ~nothing (§5).
    from ..operators.relational import _track_persist

    tstat = _track_persist(
        post.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    )
    n, sdl = int(st["n"]), int(st["sdl"])
    expansion = [
        r["term"]
        for r in post.filter(
            F.col("doc_id").isin(fb)
            & ~F.col("term").isin(list(_BM25_TERMS))
        )
        .groupBy("term")
        .agg(F.sum("tf").alias("stf"))
        .join(tstat, "term")
        .filter(F.col("df") * 2 <= F.lit(n))
        .orderBy(F.desc("stf"), F.asc("term"))
        .limit(_PRF_EXPANSION_TERMS)
        .collect()
    ]
    terms = list(_BM25_TERMS) + expansion
    dfd = F.col("df").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n)) - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
    )
    contrib = (
        idf
        * (F.col("tf") * (F.lit(1.2) + F.lit(1.0)))
        / (
            F.col("tf")
            + F.lit(1.2)
            * (
                (F.lit(1.0) - F.lit(0.75))
                + F.lit(0.75) * F.col("dl") / F.lit(sdl / n)
            )
        )
    )
    return (
        post.filter(F.col("term").isin(terms))
        .join(F.broadcast(tstat.filter(F.col("term").isin(terms))), "term")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib.cast(DEC)).cast("double"), 6).alias(
                "bm25_expanded"
            )
        )
        .orderBy(F.desc("bm25_expanded"), F.asc("doc_id"))
        .limit(10)
    )
