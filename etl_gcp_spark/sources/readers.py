"""Sources: parquet table loaders, schema-inferring CSV, HTTP ingestion.

Reference surface covered (SURVEY.md §2.1):

- S1  HTTP CSV source with retry → :func:`read_http_csv`
  (reference ``data_extractor.py:163-230``). The fetch itself is
  driver-side (Spark has no native HTTP source); parsing and all
  downstream processing are distributed.
- S3/S4  CSV source + listing → :func:`read_csv_inferred`
  (``data_extractor.py:110-135``): a glob read replaces the
  chunk-listing loop; Spark parallelizes across files natively.
- S8/S9  Full & paginated relational scans → :func:`load_table`
  (``data_loader.py:106-108``, ``:406-421``): a partitioned parquet
  scan replaces OFFSET/LIMIT pagination. The reference paginates
  WITHOUT an ORDER BY (nondeterministic, see SURVEY.md §2.1-S9);
  Spark's partitioned reads are deterministic per-file, which is the
  corrected semantics.
"""

from __future__ import annotations

import glob
import io
import os
import time

from pyspark.sql import DataFrame, SparkSession

# The driver's synthetic star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark's reader
    rejects that physical type, so they need the nanosAsLong +
    convert-to-micros path. Footer-only check, driver-side, cheap."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    def ns_cols_of(p: str) -> list[str] | None:
        try:
            schema = pq.read_schema(p)
        except Exception:
            return None
        return [
            f.name
            for f in schema
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        ]

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return []
        # check EVERY footer, not just the first: a directory mixing
        # TIMESTAMP(NANOS) and micros files would otherwise be
        # classified by file order and the rest misread (long-vs-
        # timestamp mismatch surfaces as nulls or garbage values)
        per_file = [(p, ns_cols_of(p)) for p in parts]
        readable = [(p, c) for p, c in per_file if c is not None]
        if not readable:
            return []
        first_path, first_cols = readable[0]
        for p, c in readable[1:]:
            if c != first_cols:
                raise ValueError(
                    "mixed timestamp precisions across parquet files: "
                    f"{first_path} has ns-columns {first_cols} but {p} "
                    f"has {c}; rewrite to one precision before reading"
                )
        return first_cols
    return ns_cols_of(path) or []


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table as a DataFrame (lazy, columnar).

    Column pruning and predicate pushdown reach the parquet scan via
    Catalyst, so callers should express filters/projections on the
    returned frame rather than pre-materializing.

    Nanosecond-precision timestamp columns (illegal for Spark's
    vectorized parquet reader) are read as raw int64 and truncated to
    microseconds — the same truncation DuckDB applies, keeping both
    engines bit-identical on event time.
    """
    # the TIMESTAMP_NTZ→TIMESTAMP cast below is value-identical ONLY
    # under a UTC session zone; pin it here rather than trusting every
    # session builder to remember the config (a non-UTC session would
    # silently shift event times)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for c in ns_cols:
        # integer division: float division loses µs precision at 1e18 ns
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # parquet TIMESTAMP(isAdjustedToUTC=false) infers as TIMESTAMP_NTZ;
    # the session runs in UTC so the cast is value-identical and keeps
    # one timestamp flavor engine-wide (matches DuckDB's naive read)
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load several tables at once; keys are table names."""
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_csv_inferred(
    spark: SparkSession, path: str, *, header: bool = True, sep: str = ","
) -> DataFrame:
    """Schema-inferring CSV read (reference C1/S3 semantics).

    The reference's schema authority is the CSV parse itself
    (``pd.read_csv``, data_extractor.py:197, then dtype→DDL map at
    :340-353). ``inferSchema=True`` reproduces that: Spark samples the
    data and assigns int/double/timestamp/string, with string as the
    fallback — the same TEXT-fallback posture.

    At scale: inference costs one extra pass; production pipelines
    should capture ``df.schema`` once and pass it explicitly via
    ``spark.read.schema(...)`` to make reads single-pass.
    """
    return (
        spark.read.option("header", str(header).lower())
        .option("sep", sep)
        .option("inferSchema", "true")
        .csv(path)
    )


def read_http_csv(
    spark: SparkSession,
    url: str,
    *,
    timeout: int = 180,
    retries: int = 3,
    backoff: float = 1.0,
    retry_statuses: tuple[int, ...] = (429, 500, 502, 503, 504),
) -> DataFrame:
    """HTTP CSV source with retry/backoff (reference S1).

    Mirrors the reference's session config: 180 s timeout, 3 retries
    with backoff factor 1 on 429/500/502/503/504, GET only
    (data_extractor.py:57-58, :163-179), and the empty-result guard
    (data_extractor.py:199-200). The body is fetched once on the
    driver (the reference is likewise a single fetch) and parallelized
    immediately; for multi-file endpoints, fetch to shared storage and
    use :func:`read_csv_inferred` on the directory instead.
    """
    import urllib.error
    import urllib.request

    last_err: Exception | None = None
    text: str | None = None
    for attempt in range(retries + 1):
        try:
            with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
                text = resp.read().decode("utf-8", errors="replace")
            break
        except urllib.error.HTTPError as e:
            last_err = e
            if e.code not in retry_statuses:
                raise
        except (urllib.error.URLError, TimeoutError) as e:
            last_err = e
        time.sleep(backoff * (2**attempt))
    if text is None:
        raise RuntimeError(f"HTTP CSV fetch failed after {retries} retries: {last_err}")

    import pandas as pd

    pdf = pd.read_csv(io.StringIO(text))
    if len(pdf) == 0:
        # Reference rejects empty API responses (data_extractor.py:199-200).
        raise ValueError("HTTP CSV source returned no data rows")
    return spark.createDataFrame(pdf)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Expose the star schema as temp views so the engine's full
    surface is reachable from ``spark.sql`` — the reference's own
    query modality is SQL strings (SURVEY.md §3); here the same text
    runs on Catalyst instead of PG/BQ, with identical pushdown/
    pruning/AQE treatment as the DataFrame API (both compile to the
    same plans).
    """
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_jsonl(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Newline-delimited JSON source.

    With ``schema`` given (DDL string), the read is a single pass with
    no inference job and malformed rows coerce to NULLs
    (PERMISSIVE); schema=None falls back to Spark's two-pass
    inference — fine interactively, avoid in pipelines (the reference
    infers schemas from data at every load; the engine makes
    declared-schema the first-class path, SURVEY.md §2.5/C1).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jsonl_permissive(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    *,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Error-tolerant JSONL read: malformed lines survive as rows with
    every data column NULL and the raw line in ``corrupt_col``.

    The reference's resilience posture is reject-and-abort (empty-set
    guard, per-chunk rollback — data_extractor.py:199-200, :402-412);
    at corpus scale a single bad line must not kill a 100 TB load.
    PERMISSIVE mode (Spark's default, made explicit) quarantines bad
    records in-band; downstream splits good/bad with one filter each.
    The declared schema keeps the scan single-pass (no inference
    read).

    Caveat: Spark refuses plans that project ONLY ``corrupt_col``
    from the raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) —
    ``.cache()`` the frame first when isolating bad rows."""
    full = f"{schema_ddl}, {corrupt_col} string"
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
