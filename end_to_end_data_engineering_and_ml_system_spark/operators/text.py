"""Text-analysis operators for large-scale training-data pipelines.

All pure JVM-side column expressions (regex, higher-order array functions,
hashing) — no Python UDFs in the hot path, so whole-stage codegen applies and
a 100 TB corpus streams through scans without serde hops.

Components: whitespace/regex tokenization, token statistics, quality scoring
(punctuation / stopword / uppercase ratios), content fingerprinting
(normalized md5) for exact dedup keys, PII redaction, chunking, and
duplicated n-gram windows and spans.

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

from collections.abc import Sequence

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


STOPWORDS_EN: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization with empty-token removal.

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
