"""File source/sink surface beyond the parquet catalog (SURVEY §2.1).

- **Permissive CSV scan** (S1/S2/S3): explicit schema + PERMISSIVE mode with
  a corrupt-record column — the distributed version of pandas'
  ``on_bad_lines='warn'`` fallback (simulate_network_traffic.py:30-52).
  Explicit schemas, never ``inferSchema`` (which scans the data twice and
  guesses — at 100 TB both are unacceptable).
- **Single-file CSV sink** (S9): one output file like the reference
  (preprocess_cicids2017.py:23-35), via ``repartition(1)`` so the upstream
  still computes in parallel — correct only for small summaries; the
  scale path is partitioned parquet, so this helper refuses above a row cap.
- **JSON metadata sidecar** (S12): the pickle replaced with an engine-
  portable JSON file written via Spark (no driver pickling).
- **ORC scan/sink**: columnar interchange with Hive/Trino lakes — same
  pushdown/pruning contract as parquet.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv_permissive(
    spark: SparkSession,
    path: str,
    schema: StructType,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """CSV scan with pinned schema; malformed lines land in ``corrupt_col``
    instead of killing the job or silently vanishing.

    Note: Spark refuses lazy queries that reference *only* the corrupt-record
    column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache the
    frame before splitting good/bad rows."""
    from pyspark.sql.types import StringType, StructField

    full = StructType(
        [*schema.fields, StructField(corrupt_col, StringType(), True)]
    )
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
        .csv(path)
    )


def _spark_csv_header_line(columns) -> str:
    """Header row in Spark's CSV writer dialect (univocity defaults:
    quote '\"', escape '\\') — names with commas/quotes/newlines are
    quoted exactly as the non-empty write path would quote them."""
    out = []
    for c in columns:
        if any(ch in c for ch in (',', '"', '\n', '\r')):
            c = '"' + c.replace('"', '\\"') + '"'
        out.append(c)
    return ",".join(out) + "\n"


def write_single_csv(
    df: DataFrame,
    dest_file: str,
    max_rows: int = 1_000_000,
    sort_cols: list[str] | None = None,
) -> str:
    """Single-file CSV output with the part-file move the reference does by
    hand. Guarded: one file means one writer — refuse at scale. The cap
    check short-circuits via ``limit(max_rows+1)`` instead of a full count,
    so an over-cap input costs one truncated scan, not two full ones.

    ROW ORDER: the internal ``repartition(1)`` is a round-robin shuffle,
    so any upstream ``orderBy`` does NOT survive into the file (coalesce
    preserved it; the shuffle barrier that buys upstream parallelism costs
    determinism). Pass ``sort_cols`` to get deterministic, byte-stable file
    content — applied as ``sortWithinPartitions`` AFTER the shuffle, i.e.
    a single in-partition sort of an already row-capped frame."""
    if df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"more than {max_rows} rows: single-file CSV is a driver-scale "
            "sink; write partitioned parquet instead"
        )
    tmp = dest_file + ".tmpdir"
    try:
        # repartition(1), NOT coalesce(1): coalesce propagates the 1-task
        # parallelism back through every narrow stage to the scan (a
        # filter-only pipeline would read the whole input single-threaded);
        # repartition inserts a shuffle barrier so the upstream computes at
        # full parallelism and only the (row-capped) write is one task
        one = df.repartition(1)
        if sort_cols:
            one = one.sortWithinPartitions(*sort_cols)
        one.write.mode("overwrite").option("header", True).csv(tmp)
        parts = glob.glob(os.path.join(tmp, "part-*.csv"))
        if parts:
            shutil.move(parts[0], dest_file)
        else:
            # defensive: current Spark writes a header-only part file even
            # for 0-row frames, but if a writer version ever leaves only
            # _SUCCESS, produce the header in SPARK's CSV dialect (quote
            # '"', escape '\') so the empty and non-empty paths agree even
            # on column names containing commas, quotes, or newlines
            with open(dest_file, "w", newline="") as f:
                f.write(_spark_csv_header_line(df.columns))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dest_file


def write_metadata_sidecar(df: DataFrame, dest_dir: str) -> str:
    """Small-table metadata sink (scaler stats, row counts) as JSON lines —
    the portable replacement for the reference's pickle (S12).
    repartition(1) rather than coalesce(1) for the same upstream-
    parallelism reason as :func:`write_single_csv` — and with the same
    caveat: upstream ordering does not survive the shuffle (metadata
    sidecars are key-value records, so order is immaterial here)."""
    df.repartition(1).write.mode("overwrite").json(dest_dir)
    return dest_dir


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-lines scan with pinned schema — the interchange format training
    corpora actually ship in. Same contract as the CSV scan: PERMISSIVE mode
    with a corrupt-record column, never schema inference (a 100 TB corpus
    cannot afford the extra inference pass, and drifting inferred types break
    downstream casts silently)."""
    from pyspark.sql.types import StringType, StructField

    full = StructType(
        [*schema.fields, StructField(corrupt_col, StringType(), True)]
    )
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
        .json(path)
    )


def write_jsonl(df: DataFrame, dest_dir: str, partitions: int | None = None) -> str:
    """Partitioned JSON-lines sink (one file per task — the scale shape;
    readers glob the directory). ``partitions`` only coalesces down for
    small outputs; it never repartitions up, so no extra shuffle."""
    out = df.coalesce(partitions) if partitions is not None else df
    out.write.mode("overwrite").json(dest_dir)
    return dest_dir


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """ORC scan — the other columnar interchange format warehouses hand
    over (Hive/Trino lakes are ORC at least as often as parquet). Columnar
    + predicate pushdown + column pruning work exactly as with parquet, so
    the 100 TB read contract is unchanged. Schema optional: ORC footers
    carry exact types (unlike CSV/JSON, reading them is metadata-only)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def write_orc(df: DataFrame, dest_dir: str, partitions: int | None = None) -> str:
    """Partitioned ORC sink with zlib compression (the ecosystem default a
    Hive/Trino consumer expects). Coalesces down only — never up."""
    out = df.coalesce(partitions) if partitions is not None else df
    out.write.mode("overwrite").option("compression", "zlib").orc(dest_dir)
    return dest_dir
