"""Fuzzy-pair linkage + Python DataSource contracts."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_gcp_spark.operators.linkage import fuzzy_pairs


def test_fuzzy_pairs_matches_naive_quadratic(spark):
    names = [
        "alpha-0001", "alpha-0002", "alpha-1001", "beta-0001",
        "alpha-0001", "gamma-zz99", "alpha0001x",  # last: same len, far
    ]
    df = spark.createDataFrame(
        [Row(id=i, name=n) for i, n in enumerate(names)]
    )
    got = sorted(
        (r["id1"], r["id2"], r["distance"])
        for r in fuzzy_pairs(df, "id", "name", max_distance=1).collect()
    )
    naive = sorted(
        (r["id1"], r["id2"], r["distance"])
        for r in df.alias("a")
        .join(df.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.levenshtein("a.name", "b.name").cast("int").alias("distance"),
        )
        .filter(
            (F.col("distance") <= 1)
            & (F.length(F.col("a.name")) == F.length(F.col("b.name")))
        )
        .collect()
    )
    assert got == naive
    assert (0, 4, 0) in got  # exact duplicate pair found
    assert (0, 1, 1) in got  # one-substitution pair found


def test_fuzzy_pairs_plans_equi_join(spark):
    df = spark.createDataFrame([Row(id=1, name="aaaa"), Row(id=2, name="aaab")])
    plan = (
        fuzzy_pairs(df, "id", "name")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_python_datasource_parallel_chunks(spark, tmp_path):
    from etl_gcp_spark.sources.pyds import (
        ChunkedCsvDataSource,
        write_reference_chunks,
    )

    df = spark.range(0, 37).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
    )
    files = write_reference_chunks(df, str(tmp_path), rows_per_chunk=10)
    assert len(files) == 4  # 37 rows / 10 per chunk, reference naming
    assert files[0].endswith("cdc_chunk_0000.csv")
    spark.dataSource.register(ChunkedCsvDataSource)
    back = (
        spark.read.format("chunked_csv")
        .schema("k long, v double, s string")
        .option("path", str(tmp_path))
        .load()
    )
    assert back.rdd.getNumPartitions() == 4  # one task per chunk
    rows = sorted((r["k"], r["v"], r["s"]) for r in back.collect())
    assert len(rows) == 37
    assert rows[0] == (0, 0.0, "row-0") and rows[36] == (36, 54.0, "row-36")


def test_python_datasource_column_subset_and_reorder(spark, tmp_path):
    from etl_gcp_spark.sources.pyds import (
        ChunkedCsvDataSource,
        write_reference_chunks,
    )

    df = spark.range(0, 5).select(
        F.col("id").alias("a"), (F.col("id") + 10).alias("b")
    )
    write_reference_chunks(df, str(tmp_path), rows_per_chunk=3)
    spark.dataSource.register(ChunkedCsvDataSource)
    back = (
        spark.read.format("chunked_csv")
        .schema("b long, a long")  # reversed order: header-name binding
        .option("path", str(tmp_path))
        .load()
    )
    rows = sorted((r["a"], r["b"]) for r in back.collect())
    assert rows == [(i, i + 10) for i in range(5)]


def test_fuzzy_pairs_d2_matches_naive_quadratic(spark):
    # deletion-neighborhood blocking at d=2 must agree with the naive
    # cross product INCLUDING different-length (insert/delete) pairs,
    # which the d=1 mask scheme cannot see
    names = [
        "alpha-0001",   # 0
        "alpha-0002",   # 1: 1 sub from 0
        "alpha-1002",   # 2: 2 subs from 0, 1 sub from 1
        "alpha-001",    # 3: 1 delete from 0
        "alpha-00012",  # 4: 1 insert from 0, d2 from 3
        "alpha-99",     # 5: far from all
        "alpha-0001",   # 6: exact dup of 0
        "zz",           # 7: short-string guard exercise
        "z",            # 8: d1 from 7
    ]
    df = spark.createDataFrame(
        [Row(id=i, name=n) for i, n in enumerate(names)]
    )
    got = sorted(
        (r["id1"], r["id2"], r["distance"])
        for r in fuzzy_pairs(df, "id", "name", max_distance=2).collect()
    )
    naive = sorted(
        (r["id1"], r["id2"], r["distance"])
        for r in df.alias("a")
        .join(df.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.levenshtein("a.name", "b.name").cast("int").alias("distance"),
        )
        .filter(F.col("distance") <= 2)
        .collect()
    )
    assert got == naive
    assert (0, 3, 1) in got   # pure-deletion pair found
    assert (0, 4, 1) in got   # pure-insertion pair found
    assert (3, 4, 2) in got   # delete+insert pair found
    assert (7, 8, 1) in got   # short strings survive the guards


def test_entity_clusters_transitive_closure(spark):
    from etl_gcp_spark.operators.linkage import entity_clusters

    # abc ~ abd ~ abe chain (pairwise d=1 via the same masked slot)
    # closes into ONE entity; zzz stays a singleton
    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "abe"), (9, "zzz")],
        "id long, name string",
    )
    out = {r.id: (r.entity_id, r.entity_size) for r in
           entity_clusters(df, "id", "name").collect()}
    assert out[1] == (1, 3) and out[2] == (1, 3) and out[3] == (1, 3)
    assert out[9] == (9, 1)


def test_streaming_datasource_consumes_waves_incrementally(
    spark, tmp_path
):
    """Two arrival waves, two availableNow passes on one checkpoint:
    every batch output contains rows of ONE wave only (the second
    pass starts from the committed offset, never re-reads wave 1),
    and the union equals the full table."""
    import os as _os

    from etl_gcp_spark.sources.pyds import stream_chunk_ingest
    from etl_gcp_spark.streaming.staging import read_slices

    df = spark.createDataFrame(
        [(i, f"n{i}", i % 3) for i in range(25)],
        "k long, name string, g long",
    )
    waves = [df.filter("k < 13"), df.filter("k >= 13")]
    root = str(tmp_path / "pyds_stream")
    out = stream_chunk_ingest(spark, waves, root)
    assert sorted(r.k for r in out.collect()) == list(range(25))

    per_batch = {}
    for r in read_slices(spark, _os.path.join(root, "out")).collect():
        per_batch.setdefault(r.batch, set()).add(r.k)
    assert len(per_batch) == 2
    batches = sorted(per_batch)
    assert per_batch[batches[0]] == set(range(13))
    assert per_batch[batches[1]] == set(range(13, 25))


def test_sorted_neighborhood_pairs_semantics(spark):
    """Adjacent-in-sort near keys pair; cross-bucket and beyond-window
    rows do not; exact distance verify prunes far keys."""
    from pyspark.sql import functions as F

    from etl_gcp_spark.operators.linkage import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [
            (1, "AA-0001"),
            (2, "AA-0002"),   # d=1 from AA-0001, adjacent
            (3, "AA-0999"),   # same bucket, adjacent in sort but d=3
            (4, "BB-0001"),   # other bucket: never compared to AA-*
            (5, None),        # NULL key excluded
        ],
        "id long, name string",
    )
    out = sorted_neighborhood_pairs(
        df, "name", "id", window=3, max_distance=2,
        bucket_expr=F.substring(F.col("key"), 1, 2),
    ).collect()
    got = {(r.id1, r.id2): r.distance for r in out}
    assert got == {(1, 2): 1}


def test_entity_clusters_increment_bridge_merge(spark, tmp_path):
    """The scenario incremental maintenance exists for: a DELTA
    record bridges two separate BASE components, so the contracted
    merge must relabel both base components to the global min id —
    and the audit's mismatch columns (computed honestly via
    exceptAll against a full re-clustering) must be zero."""
    from etl_gcp_spark.operators.linkage import (
        entity_clusters_increment_audit,
    )

    rows = [
        Row(id=1, name="aaaa"),   # base comp A
        Row(id=3, name="aabb"),   # base comp B (lev 2 from aaaa)
        Row(id=5, name="qqqq"),   # untouched base singleton
        Row(id=10, name="aaab"),  # delta: lev1 to BOTH aaaa and aabb
        Row(id=20, name="zzzz"),  # delta singleton
    ]
    df = spark.createDataFrame(rows)
    out = entity_clusters_increment_audit(
        df, "id", "name", str(tmp_path / "eci"), delta_mod=10
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_base, r.n_delta) == (3, 2)
    assert r.n_delta_edges == 2          # 10-1 and 10-3
    assert r.n_entities_full == 3        # {1,3,10}, {5}, {20}
    assert r.n_entities_incr == 3
    assert r.n_only_incr == 0 and r.n_only_full == 0
    assert r.n_entities_touching_delta == 2


def test_entity_clusters_erasure_bridge_split(spark):
    """The scenario deletion maintenance exists for: erasing a BRIDGE
    record splits its component into two entities, and erasing a
    MIN-ID record relabels its component — both must come out of the
    subset re-clustering identical to a full recompute (mismatch
    columns zero), with the split counted."""
    from etl_gcp_spark.operators.linkage import (
        entity_clusters_erasure_audit,
    )

    rows = [
        # chain aaaa -7- aaab -?- aabb: id 7 (erased) bridges 1 and 3
        Row(id=1, name="aaaa"),
        Row(id=7, name="aaab"),   # erased (id % 7 == 0): the bridge
        Row(id=3, name="aabb"),
        # pair {14, 15}: erased 14 is the min id — 15 survives alone
        Row(id=14, name="gggg"),  # erased: the component's min id
        Row(id=15, name="gggh"),
        Row(id=20, name="zzzz"),  # untouched singleton
    ]
    df = spark.createDataFrame(rows)
    out = entity_clusters_erasure_audit(df, "id", "name").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_records, r.n_erased) == (6, 2)
    assert r.n_entities_before == 3      # {1,7,3}, {14,15}, {20}
    assert r.n_entities_after == 4       # {1}, {3}, {15}, {20}
    assert r.n_affected_components == 2  # both erased ids' components
    assert r.n_split_components == 1     # only the bridge split
    assert r.n_only_incr == 0 and r.n_only_full == 0


def test_entity_clusters_increment_appends_never_rewrite(spark, tmp_path):
    """Maintenance discipline: the delta append adds files to the
    persisted mask-key index without rewriting the base's files —
    the O(|delta|) property the audit certifies."""
    import glob
    import os

    from etl_gcp_spark.operators.linkage import (
        entity_clusters_increment_audit,
        mask_key_index,
    )

    rows = [Row(id=i, name=f"name{i:03d}") for i in range(1, 25)]
    df = spark.createDataFrame(rows)
    idx = str(tmp_path / "eci2")
    keys_dir = os.path.join(idx, "maskkeys")

    # pre-build the base index exactly as the audit's build phase
    # does, snapshot file mtimes, then run the audit over the SAME
    # dir contents via its own overwrite+append
    entity_clusters_increment_audit(df, "id", "name", idx).collect()
    files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(keys_dir, "*.parquet"))
    }
    assert files, "index parquet files must exist"
    # append-only check on a second delta-style append
    mask_key_index(
        df.filter(F.col("id") % 10 == 0), "id", "name"
    ).write.mode("append").parquet(keys_dir)
    for p, t in files.items():
        assert os.path.getmtime(p) == t, f"existing file rewritten: {p}"
    assert len(glob.glob(os.path.join(keys_dir, "*.parquet"))) > len(files)


def test_streaming_entity_ingest_recovers_and_equals_batch(
    spark, sf_dir, tmp_path
):
    """Kill the entity-label ingest after trigger 2 of 4 (post-write,
    pre-commit), resume from the checkpoint, and require the final
    labels to equal batch entity_clusters EXACTLY — patches are
    batch_id-keyed overwrites and each microbatch reads only
    pre-batch state, so the replayed batch regenerates its own
    half-committed patch instead of folding it into the input."""
    import os

    import pytest

    from etl_gcp_spark.operators.linkage import entity_clusters
    from etl_gcp_spark.sources.readers import load_table
    from etl_gcp_spark.streaming.entities import (
        run_streaming_entity_ingest,
    )

    root = str(tmp_path / "ent_stream_recovery")
    path = os.path.join(sf_dir, "customer.parquet")
    with pytest.raises(Exception, match="injected crash"):
        run_streaming_entity_ingest(
            spark, path, root=root, fail_after_batches=2
        )
    streamed = sorted(
        run_streaming_entity_ingest(spark, path, root=root).collect()
    )
    batch = sorted(
        entity_clusters(
            load_table(spark, sf_dir, "customer"), "c_custkey", "c_name"
        ).collect()
    )
    assert streamed == batch and len(streamed) == 150


def test_entity_label_compact_preserves_serve_and_drops_patches(
    spark, sf_dir, tmp_path
):
    """Compaction moves bytes, not semantics: serving from the
    compacted store returns exactly the pre-compaction rows; the
    patch stack and mask-key append trees are gone (the per-id
    latest-label window is back to one row per id, and future
    ingests probe one index tree)."""
    import os

    from etl_gcp_spark.streaming.entities import (
        entity_labels_compact,
        run_streaming_entity_ingest,
        serve_entity_labels,
    )

    root = str(tmp_path / "ent_compact")
    path = os.path.join(sf_dir, "customer.parquet")
    before = sorted(run_streaming_entity_ingest(spark, path, root=root).collect())
    assert os.path.isdir(os.path.join(root, "labels"))
    assert os.path.isdir(os.path.join(root, "maskkeys", "appends"))
    entity_labels_compact(spark, root)
    assert not os.path.isdir(os.path.join(root, "labels"))
    assert not os.path.isdir(os.path.join(root, "maskkeys", "appends"))
    after = sorted(serve_entity_labels(spark, root).collect())
    assert after == before
    # idempotent on an already-compacted store
    entity_labels_compact(spark, root)
    assert sorted(serve_entity_labels(spark, root).collect()) == before


def test_streaming_entity_erasure_recovers_and_equals_batch(
    spark, sf_dir, tmp_path
):
    """Kill the deletion-request stream after trigger 2 of 4
    (post-write, pre-commit), resume from the checkpoint, and require
    the final serve to equal batch entity_clusters over the
    survivors — tombstone and label slices are batch_id-keyed
    overwrites whose replay reads only pre-batch state, and the
    per-batch rule (affected components' survivors re-closed over the
    persisted match store) must compose across batches."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_gcp_spark.operators.linkage import entity_clusters
    from etl_gcp_spark.streaming.entities import (
        run_streaming_entity_erasure,
    )

    root = str(tmp_path / "entity_erasure_recovery")
    path = os.path.join(sf_dir, "customer.parquet")
    with pytest.raises(Exception, match="injected crash"):
        run_streaming_entity_erasure(
            spark, path, root=root, fail_after_batches=2
        )
    assert os.path.isdir(f"{root}/tombstones")
    streamed = sorted(
        map(
            tuple,
            run_streaming_entity_erasure(spark, path, root=root).collect(),
        )
    )
    records = spark.read.parquet(path).select("c_custkey", "c_name")
    survivors = records.filter(F.col("c_custkey") % 7 != 0)
    batch = sorted(
        map(
            tuple,
            entity_clusters(survivors, "c_custkey", "c_name").collect(),
        )
    )
    assert streamed and streamed == batch
    assert all(r[0] % 7 != 0 for r in streamed)  # erased ids unserved


def test_entity_label_compact_makes_erasure_physical(
    spark, sf_dir, tmp_path
):
    """Compacting a store that carries streaming-erasure tombstones
    mirrors ivf/text compaction: erased ids leave labels_base AND the
    persisted match store physically, the tombstone dir is cleared
    (re-bounding the serve anti-join set), and the serve is identical
    before and after."""
    import os

    from pyspark.sql import functions as F

    from etl_gcp_spark.streaming.entities import (
        entity_labels_compact,
        run_streaming_entity_erasure,
        serve_entity_labels,
    )

    root = str(tmp_path / "ent_erasure_compact")
    path = os.path.join(sf_dir, "customer.parquet")
    before = sorted(
        map(
            tuple,
            run_streaming_entity_erasure(spark, path, root=root).collect(),
        )
    )
    assert os.path.isdir(os.path.join(root, "tombstones"))
    entity_labels_compact(spark, root)
    assert not os.path.isdir(os.path.join(root, "tombstones"))
    base = spark.read.parquet(os.path.join(root, "labels_base"))
    assert base.filter(F.col("id") % 7 == 0).count() == 0
    pairs = spark.read.parquet(os.path.join(root, "pairs"))
    assert (
        pairs.filter(
            (F.col("id1") % 7 == 0) | (F.col("id2") % 7 == 0)
        ).count()
        == 0
    )
    after = sorted(map(tuple, serve_entity_labels(spark, root).collect()))
    assert after == before
    # idempotent on the already-compacted store
    entity_labels_compact(spark, root)
    assert (
        sorted(map(tuple, serve_entity_labels(spark, root).collect()))
        == before
    )


def test_entity_compact_maskkey_erasure_survives_column_reorder(
    spark, sf_dir, tmp_path
):
    """ADVICE r9: the maskkeys tombstone anti-join used to key on
    merged.columns[0] — a positional assumption. A store whose
    columns were written in a different order (id NOT first) must
    still have erased ids physically removed from the blocking
    index; the key is now derived from the mask_key_index contract
    (the one column outside {__t, __k})."""
    import os

    from etl_gcp_spark.operators.linkage import mask_key_index
    from etl_gcp_spark.streaming.entities import entity_labels_compact
    from etl_gcp_spark.streaming.staging import write_slice

    root = str(tmp_path / "mk_reorder")
    cust = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select("c_custkey", "c_name")
        .limit(60)
    )
    # labels_base + pairs: minimal valid stores for the compact
    cust.select(
        F.col("c_custkey").alias("id"), F.col("c_custkey").alias("lbl")
    ).write.parquet(os.path.join(root, "labels_base"))
    spark.createDataFrame([(1, 2)], "id1 long, id2 long").write.parquet(
        os.path.join(root, "pairs")
    )
    # blocking index written with the id column LAST (reordered)
    mask_key_index(cust, "c_custkey", "c_name").select(
        "__t", "__k", "c_custkey"
    ).write.parquet(os.path.join(root, "maskkeys", "base"))
    erased = cust.filter(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").alias("id")
    )
    assert erased.count() > 0
    write_slice(erased, os.path.join(root, "tombstones"), 0)
    entity_labels_compact(spark, root)
    mk = spark.read.parquet(os.path.join(root, "maskkeys", "base"))
    assert mk.filter(F.col("c_custkey") % 5 == 0).count() == 0
    assert mk.filter(F.col("c_custkey") % 5 != 0).count() > 0


def test_entity_compact_rejects_contract_violating_maskkey_store(
    spark, tmp_path
):
    """A maskkeys store with an ambiguous key (extra non-contract
    column) fails fast instead of silently anti-joining on an
    arbitrary column."""
    import os

    import pytest

    from etl_gcp_spark.streaming.entities import entity_labels_compact
    from etl_gcp_spark.streaming.staging import write_slice

    root = str(tmp_path / "mk_bad")
    spark.createDataFrame(
        [(1, 1)], "id long, lbl long"
    ).write.parquet(os.path.join(root, "labels_base"))
    spark.createDataFrame(
        [(1, "a", 7, "m", "extra")],
        "id long, __t string, __k long, extra2 string,"
        " extra3 string",
    ).write.parquet(os.path.join(root, "maskkeys", "base"))
    write_slice(
        spark.createDataFrame([(1,)], "id long"),
        os.path.join(root, "tombstones"), 0,
    )
    with pytest.raises(ValueError, match="mask_key_index"):
        entity_labels_compact(spark, root)


def test_entity_compact_names_legacy_maskkey_layout(spark, tmp_path):
    """ADVICE r10: the r10 blocking-index format change ((id, __t,
    pos, mkey) -> (id, __t, __k)) breaks resume on a pre-r10 store.
    The failure must say 'rebuild required', not the generic contract
    message, so an operator knows the artifact is stale rather than
    corrupt."""
    import os

    import pytest

    from etl_gcp_spark.streaming.entities import entity_labels_compact
    from etl_gcp_spark.streaming.staging import write_slice

    root = str(tmp_path / "mk_legacy")
    spark.createDataFrame(
        [(1, 1)], "id long, lbl long"
    ).write.parquet(os.path.join(root, "labels_base"))
    spark.createDataFrame(
        [(1, "a", 0, "mask")],
        "id long, __t string, pos int, mkey string",
    ).write.parquet(os.path.join(root, "maskkeys", "base"))
    write_slice(
        spark.createDataFrame([(1,)], "id long"),
        os.path.join(root, "tombstones"), 0,
    )
    with pytest.raises(ValueError, match="rebuild required"):
        entity_labels_compact(spark, root)
