"""The slice store (``streaming/staging.py``): one layout for every
batch-keyed artifact, read with the schema recorded at write time.

Unit tests of ``write_slice`` / ``slice_ids`` / ``read_slices``, and
the request-path erasure regression: ``ivf_index_erase`` /
``text_index_erase`` and the streaming erasure runners write the same
tombstone store, so neither loses the other's deletions, in either
order, through serving and compaction.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_gcp_spark.streaming.staging import (
    REQUEST_SLICE,
    read_slices,
    slice_ids,
    write_slice,
)


def _ids(spark, n):
    return spark.range(n).select(F.col("id").alias("vec_id"))


def test_replayed_write_leaves_one_copy(spark, tmp_path):
    store = str(tmp_path / "s")
    write_slice(_ids(spark, 5), store, 0)
    write_slice(_ids(spark, 5), store, 0)
    assert slice_ids(store) == [0]
    assert read_slices(spark, store).count() == 5


def test_before_selects_earlier_ids_and_always_the_request_slice(
    spark, tmp_path
):
    store = str(tmp_path / "s")
    for b in (2, 0, 1):
        write_slice(_ids(spark, 1).select((F.lit(b) * 10).alias("v")), store, b)
    # request-path writes append: two requests, two rows
    write_slice(_ids(spark, 1).select(F.lit(-10).alias("v")), store, -1)
    write_slice(_ids(spark, 1).select(F.lit(-20).alias("v")), store, -1)
    assert REQUEST_SLICE == -1
    assert slice_ids(store) == [-1, 0, 1, 2]

    def rows(before):
        return sorted(
            (r.batch, r.v)
            for r in read_slices(spark, store, before=before).collect()
        )

    assert rows(0) == [(-1, -20), (-1, -10)]
    assert rows(2) == [(-1, -20), (-1, -10), (0, 0), (1, 10)]
    assert len(rows(None)) == 5


def test_empty_or_missing_store_reads_none(spark, tmp_path):
    missing = str(tmp_path / "missing")
    assert slice_ids(missing) == []
    assert read_slices(spark, missing) is None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert read_slices(spark, str(empty)) is None
    store = str(tmp_path / "s")
    write_slice(_ids(spark, 3), store, 1)
    assert read_slices(spark, store, before=1) is None


def test_read_starts_no_spark_job(spark, tmp_path):
    """The recorded schema replaces inference: building the read
    frame runs no job (an inferred read of the same slices runs one)."""
    store = str(tmp_path / "s")
    for b in (0, 1):
        write_slice(
            _ids(spark, 8).withColumn("cell", (F.col("vec_id") % 4).cast("int")),
            store, b, partition_by=("cell",),
        )
    sc = spark.sparkContext
    group = "slice_store_read_jobs"
    sc.setJobGroup(group, "read_slices")
    try:
        df = read_slices(spark, store)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        spark.read.option("basePath", store).parquet(store)
        inferred = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert inferred, "an inferred read should have run a listing/footer job"
    assert df.columns == ["vec_id", "batch", "cell"]
    assert df.count() == 16


def test_nested_partition_columns_prune(spark, tmp_path):
    store = str(tmp_path / "s")
    for b in (0, 1, 2):
        write_slice(
            _ids(spark, 12)
            .filter(F.col("vec_id") % 3 == b)
            .withColumn("cell", (F.col("vec_id") % 4).cast("int")),
            store, b, partition_by=("cell",),
        )
    df = read_slices(spark, store, before=2).filter(F.col("cell").isin(1, 3))
    plan = df._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part_filters, plan
    got = sorted((r.vec_id, r.batch, r.cell) for r in df.collect())
    assert got == sorted(
        (i, i % 3, i % 4) for i in range(12) if i % 3 < 2 and i % 4 in (1, 3)
    )


# ------------------------------------------- request path × stream


@pytest.mark.parametrize("request_first", [False, True])
def test_ivf_request_and_stream_erasures_both_hold(
    spark, sf_dir, tmp_path, request_first
):
    """Request-path erasures survive next to streamed tombstone
    slices, whichever comes first, through serving and compaction."""
    from etl_gcp_spark.functions.similarity import (
        _ivf_tombstones,
        build_ivf_index,
        ivf_index_compact,
        ivf_index_erase,
        ivf_index_topk,
    )
    from etl_gcp_spark.streaming.vectors import run_streaming_ivf_erasure

    path = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(path)
    root = str(tmp_path / "ivf")
    index = os.path.join(root, "index")
    requested = [1, 2, 3]
    queries = list(range(1, 12))
    kw = dict(query_ids=queries, k=3, n_probe=3)

    def stream():
        run_streaming_ivf_erasure(
            spark, path, root=root, n_batches=2, n_cells=8, **kw
        )

    if request_first:
        build_ivf_index(emb, index, n_cells=8, n_iters=2)
        ivf_index_erase(spark, index, requested)
        stream()
    else:
        stream()
        ivf_index_erase(spark, index, requested)

    erased = set(requested) | {
        r.vec_id for r in emb.filter(F.col("vec_id") % 7 == 0).collect()
    }
    assert {r.vec_id for r in _ivf_tombstones(spark, index).collect()} == erased

    ref = str(tmp_path / "ref")
    build_ivf_index(emb, ref, n_cells=8, n_iters=2)
    ivf_index_erase(spark, ref, sorted(erased))
    want = sorted(map(tuple, ivf_index_topk(spark, ref, **kw).collect()))
    served = sorted(map(tuple, ivf_index_topk(spark, index, **kw).collect()))
    assert served == want
    assert not {r[0] for r in served} & erased
    assert not {r[1] for r in served} & erased

    ivf_index_compact(spark, index)
    vecs = spark.read.parquet(os.path.join(index, "vectors"))
    assert vecs.filter(F.col("vec_id").isin(sorted(erased))).count() == 0
    assert vecs.count() == emb.count() - len(erased)
    compacted = sorted(map(tuple, ivf_index_topk(spark, index, **kw).collect()))
    assert compacted == want


@pytest.mark.parametrize("request_first", [False, True])
def test_text_request_and_stream_erasures_both_hold(
    spark, sf_dir, tmp_path, request_first
):
    """The text twin: request-path and streamed tombstones share one
    store, so both erasure sets hold through serving and compaction."""
    from etl_gcp_spark.functions.text import (
        _text_index_tombstones,
        bm25_index_topk,
        bm25_topk,
        text_index_build,
        text_index_compact,
        text_index_erase,
    )
    from etl_gcp_spark.streaming.text import run_streaming_text_erasure

    path = os.path.join(sf_dir, "documents.parquet")
    docs = spark.read.parquet(path)
    terms = ["spark", "vector", "stream"]
    root = str(tmp_path / "text")
    index = os.path.join(root, "index")
    # the request erases docs the streamed erasure alone would serve
    requested = [
        r.doc_id
        for r in bm25_topk(
            docs.filter(F.col("doc_id") % 7 != 0), terms, k=3
        ).collect()
    ]
    assert len(requested) == 3

    def stream():
        run_streaming_text_erasure(spark, path, terms, root=root, n_batches=2)

    if request_first:
        text_index_build(docs, index, n_buckets=64)
        text_index_erase(spark, index, requested)
        stream()
    else:
        stream()
        text_index_erase(spark, index, requested)

    erased = set(requested) | {
        r.doc_id for r in docs.filter(F.col("doc_id") % 7 == 0).collect()
    }
    got = {r.doc_id for r in _text_index_tombstones(spark, index).collect()}
    assert got == erased

    want = [
        (r.doc_id, r.bm25)
        for r in bm25_topk(
            docs.filter(~F.col("doc_id").isin(sorted(erased))), terms, k=10
        ).collect()
    ]
    served = [
        (r.doc_id, r.bm25)
        for r in bm25_index_topk(spark, index, terms, k=10).collect()
    ]
    assert served and served == want

    text_index_compact(spark, index)
    assert not os.path.isdir(os.path.join(index, "tombstones"))
    post = spark.read.parquet(os.path.join(index, "postings"))
    assert post.filter(F.col("doc_id").isin(sorted(erased))).count() == 0
    compacted = [
        (r.doc_id, r.bm25)
        for r in bm25_index_topk(spark, index, terms, k=10).collect()
    ]
    assert compacted == want
