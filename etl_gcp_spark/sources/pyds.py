"""Custom Python DataSource (Spark 4 API): the reference's chunked
CSV transient layer as a first-class, partition-parallel source.

The reference materializes extracts as ``cdc_chunk_%04d.csv`` blobs
under a prefix (data_extractor.py:95-108, :205-217), then lists,
lexicographically sorts, and serially downloads them
(data_extractor.py:122-135). Re-expressed on the Spark 4
``pyspark.sql.datasource`` API:

- ``partitions()`` performs the listing+sort (reference S4) ONCE on
  the driver and emits one ``InputPartition`` per chunk;
- ``read(partition)`` parses a single chunk on an executor — the
  reference's serial download loop becomes an embarrassingly
  parallel scan with per-file task granularity;
- the declared schema replaces per-chunk pandas inference (reference
  C1), so every partition parses to identical types.

For plain CSV directories ``spark.read.csv`` is strictly better
(JVM parser, pushdown); this source exists for protocol-shaped
layouts where listing, ordering, and parsing need custom logic —
exactly what the Python DataSource API is for.
"""

from __future__ import annotations

import csv
import glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)


def _casts(schema: StructType) -> list:
    casts = []
    for f in schema.fields:
        if isinstance(f.dataType, (LongType, IntegerType)):
            casts.append(int)
        elif isinstance(f.dataType, DoubleType):
            casts.append(float)
        elif isinstance(f.dataType, StringType):
            casts.append(str)
        else:
            raise TypeError(
                f"chunked_csv supports int/long/double/string, "
                f"got {f.dataType}"
            )
    return casts


def _parse_chunk(path: str, schema: StructType):
    casts = _casts(schema)
    with open(path, newline="") as fh:
        rows = csv.reader(fh)
        header = next(rows)
        idx = [header.index(f.name) for f in schema.fields]
        for row in rows:
            yield tuple(
                cast(row[i]) if row[i] != "" else None
                for cast, i in zip(casts, idx)
            )


class ChunkPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class ChunkedCsvReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options["path"]
        self.pattern = options.get("pattern", "cdc_chunk_*.csv")

    def partitions(self):
        files = sorted(glob.glob(os.path.join(self.path, self.pattern)))
        if not files:
            raise FileNotFoundError(
                f"no chunks matching {self.pattern} under {self.path}"
            )
        return [ChunkPartition(f) for f in files]

    def read(self, partition: ChunkPartition):
        yield from _parse_chunk(partition.path, self.schema)


class ChunkedCsvStreamReader(SimpleDataSourceStreamReader):
    """STREAMING form of the chunk protocol (Spark 4
    ``SimpleDataSourceStreamReader``): chunks appearing under the
    prefix become micro-batches — the reference's poll-directory-
    and-load loop (data_extractor.py:122-135) as a continuous source
    with engine-managed offsets instead of hand-rolled bookkeeping.

    Offset = number of chunks consumed, over the lexicographically
    sorted listing (the protocol numbers chunks ``%04d``, so sort
    order IS arrival order and already-consumed prefixes never
    reorder). ``chunksPerBatch`` caps each micro-batch;
    ``readBetweenOffsets`` replays any committed range
    deterministically from the same listing, which is what makes
    checkpoint recovery exact."""

    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.path = options["path"]
        self.pattern = options.get("pattern", "cdc_chunk_*.csv")
        # optional cap on chunks consumed per read() call; unbounded
        # by default — the engine's prefetcher may merge consecutive
        # read() windows into one micro-batch anyway, so the honest
        # batching unit is "whatever has arrived", and multi-batch
        # progression comes from chunks arriving BETWEEN triggers
        self.per_batch = int(options.get("chunksPerBatch", "0")) or None

    def _files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.path, self.pattern)))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        files = self._files()
        i = start["i"]
        j = (
            len(files)
            if self.per_batch is None
            else min(len(files), i + self.per_batch)
        )
        rows = []
        for f in files[i:j]:
            rows.extend(_parse_chunk(f, self.schema_))
        return iter(rows), {"i": j}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = self._files()
        rows = []
        for f in files[start["i"] : end["i"]]:
            rows.extend(_parse_chunk(f, self.schema_))
        return iter(rows)


class ChunkedCsvDataSource(DataSource):
    """Usage:

    >>> spark.dataSource.register(ChunkedCsvDataSource)
    >>> df = (spark.read.format("chunked_csv")
    ...       .schema("n_nationkey long, n_name string")
    ...       .option("path", "/tmp/chunks").load())

    Streaming:

    >>> sdf = (spark.readStream.format("chunked_csv")
    ...        .schema("n_nationkey long, n_name string")
    ...        .option("path", "/tmp/chunks").load())
    """

    @classmethod
    def name(cls) -> str:
        return "chunked_csv"

    def reader(self, schema: StructType) -> ChunkedCsvReader:
        return ChunkedCsvReader(schema, dict(self.options))

    def simpleStreamReader(
        self, schema: StructType
    ) -> ChunkedCsvStreamReader:
        return ChunkedCsvStreamReader(schema, dict(self.options))


def write_reference_chunks(
    df, path: str, *, rows_per_chunk: int = 10, start_index: int = 0
) -> list[str]:
    """Materialize a (small) DataFrame in the reference's chunk
    layout — ``cdc_chunk_%04d.csv`` with a header row — for tests
    and demos of the source above. Driver-side by design: it
    reproduces the reference WRITER's protocol (data_extractor.py:
    205-217), not a scale path. ``start_index > 0`` APPENDS a later
    wave of chunks (existing files are kept) — the arrival pattern
    the streaming reader consumes incrementally."""
    os.makedirs(path, exist_ok=True)
    if start_index == 0:
        for stale in glob.glob(os.path.join(path, "cdc_chunk_*.csv")):
            os.remove(stale)
    # guard the driver-side collect: this writer exists for fixtures;
    # a caller pointing it at a real table should get a loud error,
    # not an OOM'd driver
    n = df.count()
    if n > 1_000_000:
        raise ValueError(
            f"write_reference_chunks collects to the driver ({n} rows); "
            "it is a fixture writer — use write_chunked_csv for real data"
        )
    rows = df.collect()
    cols = df.columns
    out = []
    for c, start in enumerate(range(0, len(rows), rows_per_chunk)):
        fp = os.path.join(path, f"cdc_chunk_{start_index + c:04d}.csv")
        with open(fp, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(cols)
            for r in rows[start : start + rows_per_chunk]:
                w.writerow([r[c2] for c2 in cols])
        out.append(fp)
    return out


def stream_chunk_ingest(spark, waves, root: str):
    """Drive :class:`ChunkedCsvStreamReader` through ``waves`` of
    arrivals: each wave lands as new ``cdc_chunk_%04d.csv`` files and
    one availableNow pass against the SAME checkpoint consumes it —
    run N+1 starts from run N's committed offset, so each pass reads
    ONLY the newly arrived chunks (asserted in tests). This is the
    reference's cron-shaped "poll the prefix, load what's new" loop
    (data_extractor.py:122-135) with the offset bookkeeping moved
    into engine-managed checkpoints. Each batch's output is one slice
    of the ``root/out`` slice store (overwrite — replay-idempotent,
    the repo-wide streaming durability discipline).

    Returns the union of everything ingested.
    """
    from etl_gcp_spark.streaming.staging import (
        read_slices,
        run_microbatches,
        write_slice,
    )

    in_dir = os.path.join(root, "in")
    out_dir = os.path.join(root, "out")
    spark.dataSource.register(ChunkedCsvDataSource)

    def sink(df, bid):
        write_slice(df, out_dir, bid)

    start_idx = 0
    schema = None
    for wave in waves:
        schema = schema or wave.schema
        start_idx += len(
            write_reference_chunks(wave, in_dir, start_index=start_idx)
        )
        sdf = (
            spark.readStream.format("chunked_csv")
            .schema(schema)
            .option("path", in_dir)
            .load()
        )
        run_microbatches(sdf, root, sink)
    return read_slices(spark, out_dir).drop("batch")
