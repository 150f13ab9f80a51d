"""Text-analysis operators for large-scale training-data pipelines.

All pure JVM-side column expressions (regex, higher-order array functions,
hashing) — no Python UDFs in the hot path, so whole-stage codegen applies and
a 100 TB corpus streams through scans without serde hops.

Components: whitespace/regex tokenization, token statistics, quality scoring
(punctuation / stopword / uppercase ratios), marker-word language ID, and
content fingerprinting (normalized md5) for exact dedup keys, and the
benchmark-contamination scan (n-gram overlap with a broadcast benchmark set).

The explode guard (referenced by every ``explode_outer`` + ``isNotNull``
pair in this repo): a plain ``explode(e)`` makes Catalyst infer a
``size(e) > 0 AND isnotnull(e)`` Filter below the Generate
(InferFiltersFromGenerate), and filter pushdown then substitutes the column
away, so the inferred condition re-expands the whole derived-array pipeline
(tokenize + n-grams) and FilterExec does not share those evaluations with
the projection. ``explode_outer`` gets no inferred guard; the explicit
``isNotNull`` on the generated column cannot be pushed below the Generate
(the column does not exist there), so it costs one null check per row.
Results are identical whenever the array's elements are never NULL
(split/concat_ws-derived arrays): outer emits exactly one null-element row
for each empty/NULL array, the rows explode dropped.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _spread_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, text) projection, hash-spread by id across the session's cores:
    tokenize + n-gram assembly + per-window hashing are the expensive
    per-row work here, and on a single-row-group fixture scan they would
    otherwise run in ONE task (guide §2.5). No-op whenever the scan already
    feeds the session's parallelism; every consumer below is an exact
    aggregate or per-row projection, so the result is partition-order
    independent."""
    from ..sources.catalog import spread_for_compute

    return spread_for_compute(
        df.select(F.col(id_col), F.col(text_col)), id_col
    )

#: minimal per-language marker (stop)words for the n-gram/marker heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "fr": ("le", "la", "et", "les", "des", "un", "une"),
    "es": ("el", "la", "y", "los", "de", "un", "una"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist"),
    "zh": ("的", "是", "了", "在", "我", "有", "和"),
}

STOPWORDS_EN: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization with empty-token removal (BPE-ish regex split
    is a drop-in replacement for subword counting).

    Whitespace means ASCII ``\\s`` BY CONTRACT: Java regex (Spark) and RE2
    (the DuckDB oracle) both scope ``\\s`` to ASCII, so unicode spaces
    (U+00A0 and friends) are token characters here.  Python references must
    use ``re.ASCII`` to agree — a unicode-aware ``\\s`` diverges on inputs
    like ``'0\\xa00'`` (found by hypothesis, pinned in
    test_properties.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def ngrams(toks: Column, n: int) -> Column:
    """Word n-grams (duplicates kept, document order) from a materialized
    token array, as zip_with over shifted slices — one array walk, codegen'd.
    Repetition metrics need the raw multiset, so duplicates stay."""
    ng = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        ng = F.zip_with(ng, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(ng, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def repetition_signals(df, id_col: str, text_col: str):
    """Gopher-style repetition quality signals per document:

    - ``dup_bigram_frac`` / ``dup_trigram_frac`` — fraction of word n-grams
      that are repeats of an earlier n-gram (1 − distinct/total). Pure array
      projection: no shuffle, computed in the scan stage.
    - ``top_bigram_frac`` — share of all bigram occurrences taken by the
      single most frequent bigram. Needs a real count: explode → per-(doc,
      bigram) count → per-doc max. Both aggregations partial-combine
      map-side (within-document duplicates collapse before the shuffle), so
      the shuffled volume is distinct bigrams, not corpus tokens.

    Boilerplate/templated text scores high on all three; the standard
    pre-training corpus filter drops documents above ~0.2–0.3. Documents
    with fewer than 3 tokens are excluded (no trigrams to measure)."""
    base = (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .filter(F.size("__toks") >= 3)
        .select(
            id_col,
            ngrams(F.col("__toks"), 2).alias("__bi"),
            ngrams(F.col("__toks"), 3).alias("__tri"),
        )
    )
    arrays = base.select(
        id_col,
        "__bi",
        F.size("__bi").cast("bigint").alias("n_bigrams"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("__bi")).cast("double") / F.size("__bi")
        ).alias("dup_bigram_frac"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("__tri")).cast("double")
            / F.size("__tri")
        ).alias("dup_trigram_frac"),
    )
    top = (
        # explode_outer + isNotNull: the explode guard (module docstring) —
        # a plain explode's inferred guard re-expands the bigram pipeline in a
        # pushed-down Filter; bigram elements (concat_ws) are never NULL
        arrays.select(id_col, F.explode_outer("__bi").alias("__b"))
        .filter(F.col("__b").isNotNull())
        .groupBy(id_col, "__b")
        .agg(F.count("*").alias("__n"))
        .groupBy(id_col)
        .agg(F.max("__n").alias("top_bigram_n"))
    )
    return (
        arrays.drop("__bi")
        .join(top, id_col)
        .select(
            id_col,
            "n_bigrams",
            "top_bigram_n",
            (F.col("top_bigram_n").cast("double") / F.col("n_bigrams")).alias(
                "top_bigram_frac"
            ),
            "dup_bigram_frac",
            "dup_trigram_frac",
        )
    )


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are sentence punctuation. NULL on empty
    text (the ratio is undefined; unguarded, ANSI mode — Spark 4's default
    — throws DIVIDE_BY_ZERO on the first empty document, and real corpora
    are full of them)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    kept = F.length(F.regexp_replace(c, r"[^.!?,;:]", ""))
    return F.when(n > 0, kept.cast("double") / n)


def uppercase_ratio(col: Column | str) -> Column:
    """NULL on empty text — same ANSI divide-by-zero guard as punct_ratio."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    return F.when(
        n > 0, F.length(F.regexp_replace(c, r"[^A-Z]", "")).cast("double") / n
    )


def stopword_ratio(
    col: Column | str, stopwords: Sequence[str] = STOPWORDS_EN
) -> Column:
    """Fraction of tokens that are stopwords — a standard fluency signal.
    NULL on zero tokens (whitespace-only or empty text) — same ANSI
    divide-by-zero guard as punct_ratio."""
    toks = tokens(col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, n_stop.cast("double") / n)


def lang_scores(
    col: Column | str, markers: Mapping[str, Sequence[str]] = LANG_MARKERS
) -> dict[str, Column]:
    """Marker-word hit count per language."""
    toks = tokens(col)

    def contains(arr: Column):
        # closure, not a default arg — PySpark introspects lambda arity
        return lambda t: F.array_contains(arr, t)

    out: dict[str, Column] = {}
    for lang, words in markers.items():
        arr = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, contains(arr)))
    return out


def predicted_lang(
    col: Column | str, markers: Mapping[str, Sequence[str]] = LANG_MARKERS
) -> Column:
    """Argmax language by marker hits; deterministic tie-break by declaration
    order; 'und' (undetermined) when nothing matches."""
    scores = lang_scores(col, markers)
    best = F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    expr = None
    for lang, s in scores.items():
        cond = (s == best) & (best > F.lit(0))
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of the lowercased, whitespace-collapsed text.
    Stable across engines — the exact-dedup key for P10 at corpus scale."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length in a sane band, some
    stopwords, not all caps, limited punctuation. Weights are illustrative;
    the point is the single-pass columnar shape. Empty/whitespace-only text
    scores 0.0 (its NULL ratios fail every band check)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    len_ok = F.when((n >= 20) & (n <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    sw = stopword_ratio(col)
    sw_ok = F.when((sw >= 0.05) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
    up_ok = F.when(uppercase_ratio(col) <= 0.3, F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) <= 0.1, F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + sw_ok + up_ok + punct_ok) / F.lit(4.0)


def tf_idf_topk(df, id_col: str, text_col: str, k: int = 3):
    """Top-k TF-IDF terms per document (§7.8 text analysis), pure built-ins:

    - tf: token count per (doc, term) off one explode;
    - idf: smooth ``ln((N+1)/(df+1)) + 1`` with df = docs containing the
      term (the sklearn-style formulation — stated here so the SQL oracle
      mirrors it exactly);
    - score = tf · idf, ranked per doc with ties broken by term.

    Scale shape: one explode + two partial-aggregated groupBys + a window
    over (doc, k) rows. The idf table is VOCABULARY-sized — a web-scale
    corpus holds 10^8-10^9 distinct terms, so it must NOT carry a forced
    broadcast hint (an O(vocab) broadcast is a hard 8 GB failure at
    corpus scale); AQE broadcasts when it actually fits and shuffles the
    equi-join when it doesn't."""
    from pyspark.sql import DataFrame, Window

    assert isinstance(df, DataFrame)
    # explode_outer + isNotNull: the explode guard (module docstring)
    toked = df.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("term")
    ).filter(F.col("term").isNotNull())
    tf = toked.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(id_col).distinct().count()
    dfreq = toked.groupBy("term").agg(
        F.count_distinct(id_col).alias("df_")
    )
    idf = dfreq.select(
        "term",
        (
            F.log((F.lit(float(n_docs + 1))) / (F.col("df_") + F.lit(1.0)))
            + F.lit(1.0)
        ).alias("idf"),
    )
    scored = tf.join(idf, "term").select(
        id_col, "term", (F.col("tf") * F.col("idf")).alias("tfidf")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


#: PII patterns restricted to constructs Java regex (Spark) and RE2
#: (DuckDB) match identically — the standard pre-training redaction pass.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("number", r"[0-9]{7,}", "<NUM>"),  # long digit runs: phones, ids, cards
)


def redact_pii(col: Column | str) -> Column:
    """Mask emails, URLs, and long digit runs with typed placeholder tokens
    — the redaction pass every training-data pipeline runs before
    tokenization. One chained ``regexp_replace`` projection: JVM-side,
    single scan, order fixed (emails before bare digit runs so a masked
    token is never re-masked)."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-type PII hit counts (audit metric for the redaction pass)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        name: F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))
        for name, pattern, _ in PII_PATTERNS
    }


def chunk_documents(
    df,
    id_col: str,
    text_col: str,
    chunk_chars: int = 512,
    overlap: int = 64,
    keep_cols: tuple[str, ...] = (),
):
    """Split long documents into fixed-size overlapping chunks — the
    context-window preparation step of every training/RAG pipeline.

    Chunk starts step by ``chunk_chars - overlap``; the final partial chunk
    is kept. Pure JVM ``sequence`` + ``posexplode`` + ``substring`` — rows
    fan out ~len/stride per doc with no Python and no shuffle (chunking is
    a map-side operation; downstream ops shuffle on chunk keys)."""
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    n = F.length(F.col(text_col))
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)), F.lit(1)
    ).cast("bigint")
    starts = F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)
    extra = [F.col(c) for c in keep_cols]
    return df.select(
        F.col(id_col),
        *extra,
        F.col(text_col),
        F.posexplode(starts).alias("chunk_no", "__i"),
    ).select(
        F.col(id_col),
        *extra,
        F.col("chunk_no").cast("bigint").alias("chunk_no"),
        F.substring(
            F.col(text_col), F.col("__i").cast("int") * stride + 1, chunk_chars
        ).alias("chunk_text"),
    )


def pack_tokens_into_bins(
    df,
    group_col: str,
    id_col: str,
    text_col: str,
    bin_tokens: int = 2048,
):
    """Assign documents to ~``bin_tokens``-sized context bins per group —
    the distributed approximation of sequence packing: a running token
    total over a deterministic order, floor-divided into bins. One window
    shuffle per group; exact greedy packing is inherently sequential, this
    is the standard scalable stand-in (bins can overflow by at most one
    document).

    Skew note: the window serializes within each group, so a low-cardinality
    ``group_col`` (e.g. 5 languages over 100 TB) bottlenecks on 5 tasks. At
    scale pass a sharded group — e.g. ``F.concat(lang, pmod(xxhash64(id),
    F.lit(256)))`` — bins stay valid because packing never needs to be
    globally optimal, only locally bounded."""
    from pyspark.sql import DataFrame, Window

    assert isinstance(df, DataFrame)
    n_tok = token_count(text_col)
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(n_tok).over(w)
    return df.select(
        F.col(group_col),
        F.col(id_col),
        n_tok.cast("bigint").alias("n_tokens"),
        F.floor((running - n_tok) / F.lit(bin_tokens)).cast("bigint").alias("bin_id"),
    )


#: GPT-2-style pre-tokenizer shape, restricted to constructs both Java
#: regex (Spark) and RE2 (DuckDB) support identically: contraction
#: suffixes, space-prefixed letter runs, digit runs, punctuation runs.
BPE_TOKEN_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"

#: bin-id namespace width per packing group (pack_bins_ffd)
_FFD_BINS_PER_GROUP = 1_000_000_000_000


def bpe_token_count(col: Column | str) -> Column:
    """Subword-style token count via the BPE-ish pre-tokenizer regex — the
    training-data-pipeline complement to whitespace ``token_count`` (both
    declared in the engine's text surface). JVM-side regexp, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def pack_bins_ffd(
    df,
    id_col: str,
    token_col: str,
    capacity: int = 2048,
    num_groups: int = 64,
):
    """First-fit-decreasing sequence packing via ``applyInPandas``: assign
    documents to training-sequence bins of ``capacity`` tokens, wasting less
    tail space than running-total chunking (``pack_tokens_into_bins``).

    Exact global FFD is inherently sequential, so the distributed shape is
    GROUP-LOCAL packing: documents hash deterministically into
    ``num_groups`` packing groups (at corpus scale: thousands of groups,
    each a few thousand docs — the Arrow batch a worker packs in memory),
    and FFD runs independently per group. Bin ids are globally unique as
    (group, local_bin). Deterministic: group = crc32(id) % num_groups,
    in-group order = (tokens desc, id).

    Oversized documents (> capacity) get a dedicated bin each — flagged
    ``oversize`` so downstream can truncate or split them.

    Returns (id, tokens, pack_group, bin_id, oversize)."""
    import pandas as pd

    out_schema = (
        f"{id_col} bigint, tokens bigint, pack_group int, "
        "bin_id bigint, oversize boolean"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["tokens", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        bins: list[int] = []  # remaining capacity per local bin
        assigned = []
        oversize = []
        for t in pdf["tokens"]:
            t = int(t)
            if t > capacity:
                bins.append(0)
                assigned.append(len(bins) - 1)
                oversize.append(True)
                continue
            for b, rem in enumerate(bins):
                if rem >= t:
                    bins[b] = rem - t
                    assigned.append(b)
                    break
            else:
                bins.append(capacity - t)
                assigned.append(len(bins) - 1)
            oversize.append(False)
        grp = int(pdf["pack_group"].iloc[0])
        # 10^12 local bins per group keeps (group, local_bin) -> bin_id
        # injective up to ~9.2M groups in int64; the old 10^6 multiplier
        # silently COLLIDED bin ids once a group packed >1M bins (64
        # groups over a 10^9-doc corpus average ~16M docs per group)
        if len(bins) >= _FFD_BINS_PER_GROUP:
            raise ValueError(
                f"pack_bins_ffd: group {grp} needs {len(bins)} bins "
                f"(>= {_FFD_BINS_PER_GROUP}); raise num_groups so "
                "(group, local_bin) stays injective in the bigint bin_id"
            )
        pdf["bin_id"] = [grp * _FFD_BINS_PER_GROUP + b for b in assigned]
        pdf["oversize"] = oversize
        return pdf[[id_col, "tokens", "pack_group", "bin_id", "oversize"]]

    staged = df.select(
        F.col(id_col),
        F.col(token_col).cast("bigint").alias("tokens"),
        (F.crc32(F.col(id_col).cast("string")) % num_groups)
        .cast("int")
        .alias("pack_group"),
    )
    return staged.groupBy("pack_group").applyInPandas(pack, out_schema)


def duplicate_ngram_windows(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Cross-document duplicated token windows per document — the signal
    behind substring-level training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every length-``n`` word
    window that also appears in ANOTHER document is counted as duplicated.

    Returns one row per document that has at least one full window:
    ``(id, n_windows, dup_windows, dup_window_frac)``.

    Scale shape: the explode runs ONCE (an inverted-index build + flag-join
    would evaluate it twice — the two subplans differ, so their exchanges
    can't be reused); windows travel as 8-byte ``xxhash64`` keys, never
    strings (64-bit collisions are the accepted trade). The pipeline
    is explode → (hash, doc)-grain reduce with map-side combine → a count
    window over the hash (replacing any join: groups are 1-2 rows — no
    skew) → per-doc rollup. Three keyed exchanges over the reduced grain,
    no join, cost O(windows) — never O(docs^2)."""
    from pyspark.sql import Window

    # explode_outer + isNotNull: the explode guard (module docstring).
    # Tokens are materialized as a column BEFORE the n-gram zip_with chain:
    # inlined, the Generate's expression re-expands the tokenize once per
    # zip_with reference (plan showed 16 copies) — measured a wash at this
    # scale, but the two-step projection keeps the plan honest (1 copy).
    g = (
        _spread_text(df, id_col, text_col)
        .select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode_outer(ngrams(F.col("__toks"), n)).alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
        .select(id_col, F.xxhash64("gram").alias("gh"))
    )
    gd = g.groupBy("gh", id_col).agg(F.count("*").alias("c"))
    nd = F.count("*").over(Window.partitionBy("gh"))
    flagged = gd.withColumn("nd", nd)
    dup = F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0))
    return flagged.groupBy(id_col).agg(
        F.sum("c").alias("n_windows"),
        dup.alias("dup_windows"),
        (dup.cast("double") / F.sum("c")).alias("dup_window_frac"),
    )


def duplicate_ngram_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """The actionable output of substring-level dedup: per document, the
    MERGED token spans covered by windows that also appear in another
    document — what a Lee-et-al-style pipeline would actually cut, rather
    than a per-doc count. Returns
    ``(id, span_start, span_end, n_windows)`` with 1-based inclusive token
    indices; overlapping/adjacent duplicated windows coalesce into one
    span (gaps-and-islands on the flagged positions).

    Scale shape: one explode with positions; the (hash, doc)-grain reduce
    and the flag-join back to positions hash on the SAME (hash, doc) key,
    so the exchange is built once and reused; the island numbering is a
    per-doc window — partitioned by the id, no global sort."""
    from pyspark.sql import Window

    # same guarded spread as duplicate_ngram_windows: tokenize + n-gram
    # assembly + per-window hashing is the heavy per-row stage, and off a
    # single-row-group scan it ran as TWO single-task jobs (both exchange
    # branches' map sides; r16 profile: 2.4 s + 2.0 s in one task each)
    g = _spread_text(df, id_col, text_col).select(
        F.col(id_col),
        F.posexplode(ngrams(tokens(text_col), n)).alias("pos0", "gram"),
    ).select(
        id_col,
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        F.xxhash64("gram").alias("gh"),
    )
    gd = g.groupBy("gh", id_col).agg(F.count("*").alias("c"))
    flags = gd.withColumn(
        "nd", F.count("*").over(Window.partitionBy("gh"))
    ).filter(F.col("nd") >= 2).select("gh", id_col)
    dup = g.join(flags, ["gh", id_col]).select(id_col, "pos")
    grp = F.col("pos") - F.row_number().over(
        Window.partitionBy(id_col).orderBy("pos")
    )
    isl = dup.withColumn("grp", grp)
    return (
        isl.groupBy(id_col, "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .drop("grp")
    )


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, n_sh, shingle) long format over each document's DISTINCT word
    n-grams; ``n_sh`` is the distinct count. explode_outer + isNotNull: the
    explode guard (module docstring)."""
    sh = _spread_text(df, id_col, text_col).select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).select(
        F.col(id_col), F.array_distinct(ngrams(F.col("__toks"), n)).alias("sh")
    )
    return sh.select(
        id_col,
        F.size("sh").alias("n_sh"),
        F.explode_outer("sh").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark-contamination scan: for each corpus document, the fraction
    of its distinct word n-grams that also occur anywhere in a benchmark
    corpus (the standard train/test-leakage check run before LLM training).

    Returns (id, n_ngrams, shared_ngrams, contamination) for documents at or
    above ``threshold``.

    Scale shape (100 TB corpus vs MB-scale benchmark): eval suites are tiny,
    so the benchmark's distinct-shingle set is built once and **broadcast**;
    the corpus is exploded exactly once and inner-joined against that
    broadcast set, so only matching shingle rows ever reach the per-document
    count shuffle. No corpus self-join, no pairwise comparison, and the
    corpus-side explode is map-side only."""
    cand = _exploded_shingles(corpus, id_col, text_col, n)
    bench_sh = (
        _exploded_shingles(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    shared = (
        cand.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(
            F.min("n_sh").cast("bigint").alias("n_ngrams"),
            F.count("*").alias("shared_ngrams"),
        )
    )
    contamination = F.col("shared_ngrams").cast("double") / F.col("n_ngrams")
    return shared.select(
        id_col,
        "n_ngrams",
        "shared_ngrams",
        contamination.alias("contamination"),
    ).filter(F.col("contamination") >= threshold)


def chunk_documents_udtf(spark):
    """The same chunking semantics as ``chunk_documents`` expressed as a
    Python UDTF (the declared UDTF surface) — one input row fans out to
    many chunk rows from the table function itself.  The BUILT-IN
    ``sequence``/``posexplode`` version above remains the production path
    (JVM-side, codegen'd); this registers ``chunk_udtf`` for SQL use and
    returns the handle.  Parity with the built-in is asserted in
    tests/test_text_ops.py."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_no bigint, chunk_text string")
    class ChunkDocs:
        def eval(self, doc_id, text, chunk_chars=512, overlap=64):
            if text is None:
                return
            stride = chunk_chars - overlap
            n = len(text)
            n_chunks = max(1, -(-(n - overlap) // stride))
            for i in range(n_chunks):
                yield doc_id, i, text[i * stride : i * stride + chunk_chars]

    spark.udtf.register("chunk_udtf", ChunkDocs)
    return ChunkDocs
