"""Sinks: atomic overwrite/append tables, chunked CSV export.

Reference surface covered (SURVEY.md §2.1):

- S2  Chunked CSV sink (50K-row GCS chunks, data_extractor.py:95-108,
  :205-217) → :func:`write_chunked_csv` using ``maxRecordsPerFile``;
  Spark writes the files in parallel instead of a driver loop.
- S6/S10/S13  Relational batch sink + warehouse sink + DDL
  evolution (data_extractor.py:314-412, data_loader.py:271-294) →
  :func:`write_table`. The reference's TRUNCATE-vs-DROP/CREATE split
  and its first-chunk-WRITE_TRUNCATE-then-WRITE_APPEND loop both
  collapse into one atomic ``mode('overwrite')``; ``mode('append')``
  covers incremental loads. Schema drift: ``mergeSchema`` on append
  reproduces additive evolution.

Scale notes: Parquet + snappy everywhere; ``partition_by`` produces a
partition-pruned layout (the reference's BigQuery table was
unpartitioned — SURVEY.md §4.2 — which at 100 TB would force full
scans). ``bucket_by`` is exposed for co-located joins on managed
tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame



def write_table(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    merge_schema: bool = False,
    dynamic_overwrite: bool = False,
) -> None:
    """Write a DataFrame as an atomic table directory.

    ``mode='overwrite'`` is the Spark equivalent of BOTH reference DDL
    paths (schema-match→TRUNCATE and mismatch→DROP+CREATE,
    data_extractor.py:314-377): the output is atomically replaced and
    carries the new schema. ``mode='append'`` with
    ``merge_schema=True`` gives additive schema evolution.
    """
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if dynamic_overwrite:
        # replace ONLY the partitions present in df (the incremental
        # reload path); static overwrite would truncate the whole table
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if merge_schema:
        writer = writer.option("mergeSchema", "true")
    writer.save(path)


def write_chunked_csv(
    df: DataFrame,
    path: str,
    *,
    rows_per_file: int = 50_000,
    header: bool = True,
    mode: str = "overwrite",
) -> None:
    """CSV export in bounded-size files (reference S2).

    The reference slices with ``df.iloc[start:end]`` in a driver loop
    at 50 000 rows/chunk (data_extractor.py:59, :205-217);
    ``maxRecordsPerFile`` achieves the same bound with distributed,
    parallel writers and no driver materialization.
    """
    (
        df.write.mode(mode)
        .option("header", str(header).lower())
        .option("maxRecordsPerFile", str(rows_per_file))
        .csv(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table (hash-partitioned layout).

    Bucketing pre-shuffles the data ONCE at write time: two tables
    bucketed on the same key with the same bucket count join with NO
    exchange on either side (verified in tests — the join plan has
    zero Exchange nodes). At 100 TB this converts every recurring
    fact-fact join on the bucket key from a full shuffle into a local
    zip of co-located buckets. ``sort_cols`` additionally pre-sorts
    within buckets so sort-merge joins skip their sort.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_files(
    spark,
    src_path: str,
    dst_path: str,
    *,
    target_files: int = 1,
    fmt: str = "parquet",
) -> int:
    """Small-files compaction: rewrite a table directory into
    ``target_files`` output files; returns the file count written.

    The small-files problem is the dual of the reference's 50K-row
    chunking (data_extractor.py:205-217): long-running ingest
    accumulates thousands of tiny files and scan tasks degenerate to
    per-file overhead. ``coalesce`` (no shuffle — merges input splits
    into fewer tasks) rewrites the layout; at real scale pick
    target_files ≈ bytes/128 MB. Repartition-by-range would also
    re-cluster; coalesce is the cheap pure-compaction path.
    """
    df = spark.read.format(fmt).load(src_path)
    df.coalesce(target_files).write.mode("overwrite").format(fmt).save(dst_path)
    import glob
    import os

    return len(glob.glob(os.path.join(dst_path, f"[!_]*{fmt}")))
