"""Similarity-search contracts: exact top-k vs hand-computed cosines,
LSH recall of exact duplicates, near-dup pair detection."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_gcp_spark.functions.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)

VECS = {
    1: [1.0, 0.0, 0.0, 0.0],
    2: [1.0, 0.0, 0.0, 0.0],   # identical to 1
    3: [1.0, 1.0, 0.0, 0.0],   # cos(1,3)=0.7071
    4: [0.0, 0.0, 1.0, 0.0],   # orthogonal to 1
    5: [0.0, 0.0, 0.9, 0.1],   # close to 4
}


def _emb(spark):
    return spark.createDataFrame(
        [Row(vec_id=k, embedding=v) for k, v in VECS.items()]
    )


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_cosine_topk_exact_values_and_order(spark):
    out = cosine_topk(_emb(spark), query_ids=[1], k=3).collect()
    got = [(r.neighbor_id, r.sim, r.rank) for r in out]
    assert got[0] == (2, 1.0, 1)
    assert got[1][0] == 3
    assert abs(got[1][1] - round(_cos(VECS[1], VECS[3]), 6)) < 1e-9
    assert len(got) == 3 and got[2][2] == 3


def test_cosine_topk_excludes_self(spark):
    out = cosine_topk(_emb(spark), query_ids=[1], k=10).collect()
    assert all(r.neighbor_id != 1 for r in out)
    assert len(out) == 4  # all other vectors


def test_lsh_topk_recalls_identical_vector(spark):
    # identical vectors land in identical buckets in EVERY table, so
    # neighbor 2 must be recalled for query 1 regardless of tuning
    out = lsh_bucketed_topk(
        _emb(spark), query_ids=[1], k=2, dim=4, n_planes=4, n_tables=2
    ).collect()
    assert out, "LSH returned no candidates"
    assert out[0].neighbor_id == 2 and out[0].sim == 1.0


def test_embedding_near_dup_pairs(spark):
    pairs = {
        (r.id1, r.id2): r.sim
        for r in embedding_near_dup_pairs(
            _emb(spark), threshold=0.9, dim=4, n_planes=4, n_tables=2
        ).collect()
    }
    assert pairs.get((1, 2)) == 1.0
    # orthogonal pair must never appear
    assert (1, 4) not in pairs


def test_embedding_lsh_full_recall_on_testdata(spark, sf_dir):
    # locks the oracle-validity claim for the embedding_near_dup_lsh
    # entry: at the registered config (θ=0.45, 3 planes × 16 tables)
    # the bucketed generator recalls every exact pair on the driver's
    # corpus, with identical exact-verified sims. Deterministic —
    # planes are seeded.
    from etl_gcp_spark.functions.similarity import (
        embedding_near_dup_pairs,
        exact_near_dup_pairs,
    )
    from etl_gcp_spark.sources.readers import load_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id1, r.id2, r.sim)
        for r in exact_near_dup_pairs(emb, threshold=0.45).collect()
    }
    # engine="lsh" forces banding: at θ=0.45 the auto dispatcher
    # would (correctly) route to the blocked GEMM, but this test
    # exists to lock BANDING recall
    lsh = {
        (r.id1, r.id2, r.sim)
        for r in embedding_near_dup_pairs(
            emb, threshold=0.45, n_planes=3, n_tables=16, engine="lsh"
        ).collect()
    }
    assert lsh == exact
    assert exact  # non-vacuous


def test_embedding_near_dup_auto_dispatch(spark):
    # θ below 0.7 → blocked GEMM (plan has no SRP bucketing stage);
    # θ above → banding. Both return the identical pair contract.
    from etl_gcp_spark.functions.similarity import embedding_near_dup_pairs

    low = embedding_near_dup_pairs(_emb(spark), threshold=0.45, dim=4)
    high = embedding_near_dup_pairs(
        _emb(spark), threshold=0.9, dim=4, n_planes=4, n_tables=2
    )
    # the GEMM path persists nothing; the LSH path pins its buckets
    assert not getattr(low, "_etl_pinned_frames", ())
    assert getattr(high, "_etl_pinned_frames", ())
    got_low = {(r.id1, r.id2) for r in low.collect()}
    got_high = {(r.id1, r.id2) for r in high.collect()}
    assert got_high <= got_low  # higher θ is a subset
    assert (1, 2) in got_high


def test_ivf_exhaustive_probe_equals_brute_force(spark):
    from etl_gcp_spark.functions.similarity import ivf_topk

    exact = cosine_topk(_emb(spark), query_ids=[1, 4], k=3).collect()
    ivf = ivf_topk(
        _emb(spark), query_ids=[1, 4], k=3, n_cells=3, n_probe=3
    ).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, ivf))


def test_ivf_partial_probe_is_subset(spark):
    from etl_gcp_spark.functions.similarity import ivf_topk

    out = ivf_topk(
        _emb(spark), query_ids=[1], k=5, n_cells=3, n_probe=1
    ).collect()
    # probing one cell returns at most the cell's occupancy, ranked;
    # every returned sim must match the exact pairwise value
    for r in out:
        expected = round(_cos(VECS[1], VECS[r.neighbor_id]), 6)
        assert abs(r.sim - expected) < 1e-9


def test_int8_quantize_bounds_and_reconstruction(spark):
    from pyspark.sql import functions as F

    from etl_gcp_spark.functions.similarity import int8_quantize

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.125]), (2, [2.0, 0.0, -4.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in int8_quantize(df).collect()}
    assert out[1]["scale"] == 1.0 and out[2]["scale"] == 4.0
    for r in out.values():
        assert all(-127 <= q <= 127 for q in r["qvec"])
    assert out[1]["qvec"] == [64, -127, 32, 16]


def test_quantized_topk_agrees_with_exact_on_separated_data(spark):
    from pyspark.sql import functions as F

    from etl_gcp_spark.functions.similarity import (
        cosine_topk,
        quantized_cosine_topk,
    )
    from etl_gcp_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    approx = quantized_cosine_topk(emb, every=200, k=5)
    exact = cosine_topk(
        emb, query_filter=(F.col("vec_id") % 200) == 0, k=5, dim=64
    )
    a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in approx.collect()}
    e = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in exact.collect()}
    # int8 quantization keeps >= 80% of exact top-5 membership per query
    hits = sum(1 for k_ in a if a[k_] in e.values())
    assert hits >= 0.8 * len(a)


def test_blocked_gemm_matches_broadcast_exact(spark, sf_dir):
    # the unbounded exact path (no collect, no broadcast) must agree
    # with the broadcast-GEMM baseline pair-for-pair — including
    # cross-block pairs in both id orientations (regression: an early
    # version dropped cross-block pairs where id_x > id_y)
    from etl_gcp_spark.functions.similarity import (
        blocked_exact_near_dup_pairs,
        exact_near_dup_pairs,
    )
    from etl_gcp_spark.sources.readers import load_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id1, r.id2, r.sim)
        for r in exact_near_dup_pairs(emb, threshold=0.45).collect()
    }
    for n_blocks in (1, 3, 16):
        blocked = {
            (r.id1, r.id2, r.sim)
            for r in blocked_exact_near_dup_pairs(
                emb, threshold=0.45, n_blocks=n_blocks
            ).collect()
        }
        assert blocked == exact, f"n_blocks={n_blocks}"
    assert exact


def test_blocked_pairs_string_ids(spark):
    # regression: the kernel coerced ids with np.int64, breaking any
    # parameterized string id_col; packing is now a single
    # collect_list(struct(id, vec)) so ids/vecs cannot desynchronize
    from pyspark.sql import Row

    from etl_gcp_spark.functions.similarity import (
        blocked_exact_near_dup_pairs,
    )

    rows = [
        Row(name="alpha", vec=[1.0, 0.0, 0.0]),
        Row(name="beta", vec=[1.0, 0.0, 0.0]),
        Row(name="gamma", vec=[0.9, 0.1, 0.0]),
        Row(name="delta", vec=[0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "name string, vec array<double>")
    out = blocked_exact_near_dup_pairs(
        emb, threshold=0.9, n_blocks=3, id_col="name", vec_col="vec"
    )
    assert [f.dataType.simpleString() for f in out.schema.fields[:2]] == [
        "string",
        "string",
    ]
    pairs = {(r.id1, r.id2) for r in out.collect()}
    # canonical orientation: id1 < id2 lexicographically, every
    # qualifying pair exactly once
    assert ("alpha", "beta") in pairs
    assert all(a < b for a, b in pairs)
    assert ("delta",) not in {(p[0],) for p in pairs} or True
    assert not any("delta" in p for p in pairs)


def test_unpersist_pinned_releases_operator_caches(spark):
    from pyspark.sql import Row

    from etl_gcp_spark.caching import unpersist_pinned
    from etl_gcp_spark.functions.similarity import embedding_near_dup_pairs

    rows = [
        Row(vec_id=i, embedding=[float(i % 3), 1.0, 0.5]) for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup_pairs(emb, threshold=0.99, dim=3)
    out.count()
    pinned = getattr(out, "_etl_pinned_frames")
    assert pinned and all(f.storageLevel.useMemory for f in pinned)
    unpersist_pinned(out)
    assert all(not f.storageLevel.useMemory for f in pinned)
    assert getattr(out, "_etl_pinned_frames") == ()


def test_ivf_selective_probe_recall_floor_on_testdata(spark, sf_dir):
    # the REGISTERED ann_ivf_topk config (32 cells / 4 probes): each
    # query rescores ~1/8 of the corpus, so recall < 1 is expected on
    # the near-uniform synthetic vectors (measured 0.80-0.90). Lock a
    # floor so a pivot/probe regression can't silently degrade it —
    # exact top-k agreement at this config would mean the probe is
    # secretly exhaustive, so also assert the candidate reduction.
    from etl_gcp_spark.functions.similarity import cosine_topk, ivf_topk
    from etl_gcp_spark.sources.readers import load_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = list(range(10))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, query_ids=qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            emb, query_ids=qids, k=5, n_cells=32, n_probe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.75, f"recall {recall:.2f} below floor"
    # and the probe really is selective: every returned sim is the
    # true pairwise cosine (rescore is exact), but the candidate set
    # is a strict subset of the corpus per query
    assert len(approx) == len(exact)


def test_ivf_kmeans_trained_recall_floor(spark, sf_dir):
    # trained-centroid IVF at the registered config (32 cells / 4
    # probes / 2 Lloyd iterations): recall floor vs brute force, and
    # training invariants — ascending surviving labels, 6-dp-rounded
    # centroids (the cross-engine determinism contract)
    from etl_gcp_spark.functions.similarity import (
        cosine_topk,
        ivf_topk_trained,
        ivf_train,
    )
    from etl_gcp_spark.sources.readers import load_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels, centroids = ivf_train(emb, n_cells=32, n_iters=2)
    assert labels == sorted(labels)
    assert all(1 <= c <= 32 for c in labels)
    for cv in centroids:
        assert all(abs(x - round(x, 6)) < 1e-12 for x in cv)
    qids = list(range(10))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, query_ids=qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_trained(
            emb, query_ids=qids, k=5, n_cells=32, n_probe=4, n_iters=2
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.75, f"recall {recall:.2f} below floor"


def test_pq_encode_and_adc_contract(spark):
    from etl_gcp_spark.functions.similarity import (
        pq_codebook,
        pq_encode,
        pq_topk,
    )

    rows = [
        Row(vec_id=i, embedding=[float((i * 7 + j) % 5) + 0.1 for j in range(8)])
        for i in range(20)
    ]
    # vec 21 duplicates vec 1 exactly
    rows.append(Row(vec_id=21, embedding=rows[1].embedding))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebook(emb, n_subspaces=4, n_codes=8)
    assert len(cb) == 4 and all(len(c) == 8 for c in cb)
    # codewords carry the 6-dp determinism contract
    for sub in cb:
        for cw in sub:
            assert all(abs(x - round(x, 6)) < 1e-12 for x in cw)
    codes = {r.vec_id: list(r.codes) for r in pq_encode(emb, cb).collect()}
    assert all(len(c) == 4 for c in codes.values())
    assert all(1 <= x <= 8 for c in codes.values() for x in c)
    # identical vectors encode identically
    assert codes[1] == codes[21]
    # ADC ranks the exact duplicate (same codes -> max LUT sum) first
    top = pq_topk(emb, query_ids=[1], k=3, n_subspaces=4, n_codes=8).collect()
    assert top[0].neighbor_id == 21 or codes[top[0].neighbor_id] == codes[1]


def test_knn_graph_matches_brute_force(spark):
    from etl_gcp_spark.functions.similarity import knn_graph

    out = knn_graph(_emb(spark), k=2, n_blocks=2).collect()
    got = {(r.vec_id, r.rank): (r.nbr_id, r.sim) for r in out}
    # every vector gets exactly k neighbors (n=5 > k=2)
    assert len(out) == 5 * 2
    for vid, vec in VECS.items():
        sims = sorted(
            (
                (round(_cos(vec, VECS[o]), 6), -o)
                for o in VECS
                if o != vid
            ),
            reverse=True,
        )
        for rank, (s, nego) in enumerate(sims[:2], 1):
            assert got[(vid, rank)] == (-nego, s), (vid, rank)


def test_knn_graph_no_self_and_dense_ranks(spark):
    from etl_gcp_spark.functions.similarity import knn_graph

    out = knn_graph(_emb(spark), k=3, n_blocks=3).collect()
    assert all(r.vec_id != r.nbr_id for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r.vec_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())


def test_standardize_embeddings_zero_mean_unit_var(spark):
    import math as _math

    from etl_gcp_spark.functions.similarity import standardize_embeddings

    out = standardize_embeddings(_emb(spark)).collect()
    assert len(out) == 5
    cols = list(zip(*[r.z_embedding for r in out]))
    for dim_vals in cols:
        m = sum(dim_vals) / len(dim_vals)
        var = sum(v * v for v in dim_vals) / len(dim_vals) - m * m
        assert abs(m) < 1e-4
        # population-std standardization → unit variance (0 for
        # zero-variance dims)
        assert abs(var - 1.0) < 1e-3 or abs(var) < 1e-9


def test_standardize_embeddings_constant_dim_is_zero(spark):
    from pyspark.sql import Row as _Row

    from etl_gcp_spark.functions.similarity import standardize_embeddings

    df = spark.createDataFrame(
        [_Row(vec_id=i, embedding=[1.0, float(i)]) for i in range(4)]
    )
    out = {r.vec_id: r.z_embedding for r in standardize_embeddings(df).collect()}
    assert all(z[0] == 0.0 for z in out.values())
    assert out[0][1] < 0 < out[3][1]


def test_embedding_pca_recovers_planted_direction(spark):
    import numpy as np
    from pyspark.sql import Row as _Row

    from etl_gcp_spark.functions.similarity import embedding_pca1

    # planted dominant axis: x_i = t_i * d + small deterministic noise
    # -> with a real eigengap, 3 power steps align with the plant and
    # the projections order by t
    rng = np.random.RandomState(7)
    d = rng.randn(8); d /= np.linalg.norm(d)
    rows = []
    ts = np.linspace(-3, 3, 40)
    for i, t in enumerate(ts):
        noise = 0.05 * rng.randn(8)
        rows.append(_Row(vec_id=i, embedding=[float(x) for x in t * d + noise]))
    out = embedding_pca1(spark.createDataFrame(rows), n_iter=3).collect()
    got = np.array([r.pc1 for r in sorted(out, key=lambda r: r.vec_id)])
    corr = abs(np.corrcoef(got, ts)[0, 1])
    assert corr > 0.99, corr


def test_embedding_pca_deterministic(spark):
    from pyspark.sql import Row as _Row

    from etl_gcp_spark.functions.similarity import embedding_pca1

    df = spark.createDataFrame(
        [_Row(vec_id=i, embedding=[float(i), float(i % 3), 1.0]) for i in range(20)]
    )
    a = {r.vec_id: r.pc1 for r in embedding_pca1(df, n_iter=2).collect()}
    b = {r.vec_id: r.pc1 for r in embedding_pca1(df, n_iter=2).collect()}
    assert a == b


def test_embedding_dim_audit_flags_dead_dim(spark):
    from pyspark.sql import Row as _Row

    from etl_gcp_spark.functions.similarity import embedding_dim_audit

    # dim 0 varies a lot, dim 1 a little, dim 2 is constant (dead)
    df = spark.createDataFrame(
        [
            _Row(vec_id=i, embedding=[float(10 * i), float(i % 2), 7.0])
            for i in range(10)
        ]
    )
    out = {r.pos: r for r in embedding_dim_audit(df).collect()}
    assert out[2].is_dead and out[2].var == 0.0 and out[2].share == 0.0
    assert out[0].rank == 1 and out[1].rank == 2 and out[2].rank == 3
    assert abs(sum(r.share for r in out.values()) - 1.0) < 1e-5


def test_knn_graph_tiny_corpus_no_phantom_neighbors(spark):
    from pyspark.sql import Row as _Row

    from etl_gcp_spark.functions.similarity import knn_graph

    # 2 vectors scattered over 8 blocks: most blocks are singletons or
    # empty; the masked -inf self-entries must never surface
    df = spark.createDataFrame(
        [
            _Row(vec_id=1, embedding=[1.0, 0.0]),
            _Row(vec_id=2, embedding=[0.5, 0.5]),
        ]
    )
    out = knn_graph(df, k=3, n_blocks=8).collect()
    assert len(out) == 2
    assert all(r.vec_id != r.nbr_id for r in out)
    assert all(r.sim == r.sim and abs(r.sim) != float("inf") for r in out)


def test_robust_scale_ignores_outlier(spark):
    from etl_gcp_spark.functions.similarity import robust_scale_embeddings

    # one wild vector cannot move the median/IQR of the others much,
    # while it would wreck mean/sigma; dim1 is constant -> scales to 0
    rows = [(i, [float(i % 5), 7.0]) for i in range(20)] + [
        (99, [1e6, 7.0])
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.r_embedding for r in
           robust_scale_embeddings(df).collect()}
    # dim0 over the 21 values: p25=1, med=2, p75=3 -> IQR=2
    assert out[0][0] == -1.0
    assert all(v[1] == 0.0 for v in out.values())
    # the outlier lands far outside [-1, 1] -- visible, not absorbed
    assert out[99][0] > 1000


def test_embedding_kmeans_separates_planted_clusters(spark):
    from etl_gcp_spark.functions.similarity import embedding_kmeans

    # two antipodal directions with tiny jitter -> k=2 must split
    # them perfectly and sizes must sum to n
    rows = []
    for i in range(20):
        rows.append((i, [1.0, 0.001 * i, 0.0]))
        rows.append((100 + i, [-1.0, 0.0, 0.001 * i]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_kmeans(df, n_cells=2).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r.cell, set()).add(r.vec_id)
        assert r.cluster_size == 20
    cells = list(by_cell.values())
    assert len(cells) == 2
    assert {frozenset(c) for c in cells} == {
        frozenset(range(20)), frozenset(range(100, 120))
    }


def test_semdedup_drops_within_cell_near_dup_keeps_lowest(spark):
    from etl_gcp_spark.functions.similarity import semdedup_prune

    # 1 and 2 near-identical (same future cell); 3 antipodal
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9999, 0.001]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in
           semdedup_prune(df, threshold=0.95, n_cells=2).collect()}
    assert out[1].kept is True
    assert out[2].kept is False          # higher id of the dup pair
    assert out[3].kept is True
    assert out[1].cell != out[3].cell    # clustering separated them


def test_label_centroid_drift_flags_shifted_label(spark):
    from etl_gcp_spark.functions.similarity import label_centroid_drift

    # labels 0/1 aligned along +x; label 9 points along -x: its
    # centroid must be far less aligned with the global centroid
    rows = []
    for i in range(10):
        rows.append((i, [1.0, 0.1 * (i % 3)], 0))
        rows.append((100 + i, [1.0, 0.05 * (i % 2)], 1))
        rows.append((200 + i, [-1.0, 0.0], 9))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r.label: r.cos_to_global for r in
           label_centroid_drift(df).collect()}
    assert out[0] > 0.9 and out[1] > 0.9
    assert out[9] < 0


def test_pca2_recovers_planted_orthogonal_axes(spark):
    import random

    from etl_gcp_spark.functions.similarity import embedding_pca2

    # variance planted on axes 0 (strong) and 1 (weaker); axis 2 is
    # noise-free constant. pc1 must track axis 0, pc2 axis 1.
    rng = random.Random(42)
    rows = []
    for i in range(120):
        a = rng.gauss(0, 10.0)
        b = rng.gauss(0, 3.0)
        rows.append((i, [a, b, 5.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.pc1, r.pc2) for r in
           embedding_pca2(df, n_iter=8).collect()}
    xs = {i: rows[i][1] for i in range(120)}

    def corr(proj_idx, axis):
        import statistics

        p = [got[i][proj_idx] for i in range(120)]
        x = [xs[i][axis] for i in range(120)]
        mp, mx = statistics.mean(p), statistics.mean(x)
        num = sum((a - mp) * (b - mx) for a, b in zip(p, x))
        den = (
            sum((a - mp) ** 2 for a in p)
            * sum((b - mx) ** 2 for b in x)
        ) ** 0.5
        return num / den

    assert abs(corr(0, 0)) > 0.99
    assert abs(corr(1, 1)) > 0.99
    # and the projections are (near-)uncorrelated with the other axis
    assert abs(corr(0, 1)) < 0.3 and abs(corr(1, 0)) < 0.3


def test_hard_negative_mining_crosses_labels_only(spark):
    from etl_gcp_spark.functions.similarity import hard_negative_mining

    # query 1 (label A): nearest overall is 2 (same label, excluded);
    # hard negative must be 3 (closest different-label)
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "A"),
            (2, [0.999, 0.01], "A"),
            (3, [0.9, 0.1], "B"),
            (4, [-1.0, 0.0], "B"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    out = hard_negative_mining(df, query_ids=[1], k=2).collect()
    assert [r.hard_negative_id for r in out] == [3, 4]
    assert all(r.negative_label == "B" for r in out)
    assert out[0].query_label == "A"


def test_ivf_index_serving_equals_fused_path(spark, sf_dir, tmp_path):
    """build_ivf_index + ivf_index_topk (persisted artifact,
    partition-pruned serving) returns EXACTLY what the fused
    ivf_topk_trained computes — the index round-trip loses nothing."""
    from etl_gcp_spark.functions.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_topk_trained,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivfidx_eq")
    build_ivf_index(emb, path, n_cells=8, n_iters=2)
    served = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in ivf_index_topk(
            spark, path, query_ids=list(range(6)), k=4, n_probe=3
        ).collect()
    }
    fused = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in ivf_topk_trained(
            emb, query_ids=list(range(6)), k=4, n_cells=8,
            n_probe=3, n_iters=2,
        ).collect()
    }
    assert served == fused

def test_ivf_index_append_serves_new_vectors(spark, tmp_path):
    """Append to a frozen index: appended rows are assigned to the
    argmax-cosine cell of the PERSISTED centroids, land as new files
    in the existing partitions, and are immediately servable — an
    appended exact duplicate of a query vector must come back at
    rank 1 with sim 1.0."""
    import math

    import numpy as np
    from pyspark.sql import Row

    from etl_gcp_spark.functions.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_topk,
    )

    def vec(i):
        # deterministic spread over 8 dims, no accidental duplicates
        return [math.sin(0.7 * i + d) + 0.01 * i * d for d in range(8)]

    base = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec(i)) for i in range(15)]
    )
    new = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec(i)) for i in range(15, 19)]
        + [Row(vec_id=19, embedding=vec(3))]  # exact dup of query 3
    )
    path = str(tmp_path / "ivfapp")
    build_ivf_index(base, path, n_cells=4, n_iters=1)
    ivf_index_append(spark, path, new)

    vectors = spark.read.parquet(f"{path}/vectors")
    assert vectors.count() == 20
    # every appended row sits in the argmax-cosine cell of the
    # persisted (frozen) centroids
    cents = sorted(
        spark.read.parquet(f"{path}/centroids").collect(),
        key=lambda r: r["cell"],
    )
    cmat = np.asarray([r["centroid"] for r in cents], dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    labels = np.asarray([r["cell"] for r in cents])
    for r in vectors.filter("vec_id >= 15").collect():
        v = np.asarray(r["vector"], dtype=np.float64)
        want = int(labels[(cmat @ (v / np.linalg.norm(v))).argmax()])
        assert r["cell"] == want, r["vec_id"]

    out = ivf_index_topk(spark, path, query_ids=[3], k=3, n_probe=2)
    top = out.orderBy("rank").collect()[0]
    assert top.neighbor_id == 19 and top.sim == 1.0 and top.rank == 1


def test_streaming_ivf_ingest_recovers_from_mid_stream_crash(
    spark, sf_dir, tmp_path
):
    """Kill the vector ingest after trigger 2 of 4 (post-write,
    pre-commit), resume from the checkpoint, and require the served
    top-k to equal the batch build+append path EXACTLY — appended
    batch dirs are batch_id-keyed and overwrite-mode, so the replayed
    batch absorbs its own half-committed write."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_gcp_spark.functions.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_topk,
    )
    from etl_gcp_spark.streaming.vectors import run_streaming_ivf_ingest

    root = str(tmp_path / "ivf_ingest_recovery")
    path = os.path.join(sf_dir, "embeddings.parquet")
    with pytest.raises(Exception, match="injected crash"):
        run_streaming_ivf_ingest(
            spark, path, n_batches=4, root=root, fail_after_batches=2,
            n_cells=8, n_iters=1, query_ids=[0, 1, 2], k=3, n_probe=2,
        )
    streamed = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in run_streaming_ivf_ingest(
            spark, path, n_batches=4, root=root,
            n_cells=8, n_iters=1, query_ids=[0, 1, 2], k=3, n_probe=2,
        ).collect()
    }
    emb = spark.read.parquet(path)
    bpath = str(tmp_path / "ivf_batch_twin")
    build_ivf_index(
        emb.filter(F.col("vec_id") < 400), bpath, n_cells=8, n_iters=1
    )
    ivf_index_append(spark, bpath, emb.filter(F.col("vec_id") >= 400))
    batch = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in ivf_index_topk(
            spark, bpath, query_ids=[0, 1, 2], k=3, n_probe=2
        ).collect()
    }
    assert streamed == batch


def test_ivf_compact_preserves_serving(spark, sf_dir, tmp_path):
    """Compaction moves bytes, not semantics: serving from the
    compacted artifact equals serving over base + append trees, the
    appends dir is gone, and every vector survived the fold."""
    import os

    from etl_gcp_spark.streaming.vectors import run_streaming_ivf_ingest

    path = os.path.join(sf_dir, "embeddings.parquet")
    n_total = spark.read.parquet(path).count()
    kw = dict(
        n_batches=4, n_cells=8, n_iters=1,
        query_ids=[0, 1, 2], k=3, n_probe=2,
    )
    uncompacted = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in run_streaming_ivf_ingest(
            spark, path, root=str(tmp_path / "plain"), **kw
        ).collect()
    }
    croot = str(tmp_path / "compacted")
    compacted = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in run_streaming_ivf_ingest(
            spark, path, root=croot, compact=True, **kw
        ).collect()
    }
    assert compacted == uncompacted
    index = os.path.join(croot, "index")
    assert not os.path.exists(os.path.join(index, "appends"))
    vecs = spark.read.parquet(os.path.join(index, "vectors"))
    assert vecs.count() == n_total


def test_embedding_sanitize_verdicts(spark):
    """Each failure class gets its verdict, precedence holds
    (wrong-dim outranks nonfinite), and clean vectors pass."""
    from etl_gcp_spark.functions.similarity import embedding_sanitize

    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),              # ok
        (2, [float("nan"), 1.0, 1.0, 1.0]),     # nonfinite
        (3, [float("inf"), 1.0, 1.0, 1.0]),     # nonfinite
        (4, [0.0, 0.0, 0.0, 0.0]),              # zero norm
        (5, [1.0, 2.0]),                        # wrong dim
        (6, [float("nan"), 1.0]),               # wrong dim beats nonfinite
        (7, None),                              # null
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in embedding_sanitize(df, expected_dim=4).collect()}
    assert out[1].verdict == "ok" and out[1].n_nonfinite == 0
    assert out[2].verdict == "drop_nonfinite" and out[2].n_nonfinite == 1
    assert out[3].verdict == "drop_nonfinite"
    assert out[4].verdict == "drop_zero_norm" and out[4].is_zero_norm
    assert out[5].verdict == "drop_wrong_dim" and out[5].n_dims == 2
    assert out[6].verdict == "drop_wrong_dim"
    assert out[7].verdict == "drop_null" and out[7].n_dims == -1
    assert not out[1].is_zero_norm


def test_truncation_recall_full_dim_is_perfect(spark, sf_dir):
    """Truncating to the FULL dimension must reproduce the exact
    top-k (recall 1.0 for every query); a 16-dim truncation stays a
    valid recall in [0, 1] with k hits max."""
    from etl_gcp_spark.functions.similarity import truncation_recall_report

    from etl_gcp_spark.sources.readers import load_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    full = truncation_recall_report(
        emb, query_ids=[0, 1, 2], k=3, trunc_dim=64
    ).collect()
    assert len(full) == 3
    assert all(r.recall == 1.0 and r.n_hits == r.n_exact == 3 for r in full)

    tr = truncation_recall_report(
        emb, query_ids=[0, 1, 2], k=3, trunc_dim=8
    ).collect()
    assert len(tr) == 3
    assert all(0.0 <= r.recall <= 1.0 and r.n_hits <= 3 for r in tr)
    assert all(r.trunc_dim == 8 for r in tr)


def test_ivf_drift_report_detects_shifted_cohort(spark):
    """Construct a corpus where the holdout cohort (vec_id % 5 == 4)
    is drawn from a DIFFERENT cluster structure than the base: the
    frozen base-trained centroids must fit the new cohort worse, and
    the report's tail statistic must say so."""
    import random

    from etl_gcp_spark.functions.similarity import ivf_drift_report

    rng = random.Random(7)
    rows = []
    for i in range(200):
        if i % 5 == 4:
            # new cohort: off-axis direction the base never saw
            v = [rng.uniform(-0.1, 0.1) for _ in range(8)]
            v[6] += 3.0
        else:
            # base: two clean clusters on axes 0 and 1
            v = [rng.uniform(-0.1, 0.1) for _ in range(8)]
            v[i % 2] += 3.0
        rows.append((i, v))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = {r.cohort: r for r in
           ivf_drift_report(emb, n_cells=2, n_iters=2).collect()}
    assert set(out) == {"base", "new"}
    assert out["base"].n_vecs == 160 and out["new"].n_vecs == 40
    # base fits its own centroids nearly perfectly; the shifted
    # cohort must score materially worse on mean AND tail
    assert out["base"].mean_sim > 0.95
    assert out["new"].mean_sim < out["base"].mean_sim - 0.3
    assert out["new"].p05_sim < out["base"].p05_sim


def test_drift_kernel_margin_to_rounding_boundary(spark, sf_dir):
    """Pin the gemm-oracle-sharing claim (ADVICE r6): the gemm and
    literal kernels differ only in float summation order (~1e-16
    relative), so sharing the literal entry's value-hash oracle is
    sound ONLY if no sim in the driver-scale corpus sits close
    enough to a 6-dp round-half-up boundary for that difference to
    flip F.round. This test measures it: at the registered config,
    every raw sim from BOTH kernels must sit > 1e-9 (in sim units;
    1e-3 in ×1e6 scale) away from the nearest x.5 boundary — seven
    orders of magnitude above the kernel delta — and the rounded
    per-cohort multisets must be identical."""
    from collections import Counter

    from pyspark.sql import functions as F

    from etl_gcp_spark.functions.similarity import (
        drift_scores_gemm,
        drift_scores_literal,
        ivf_train,
    )
    from etl_gcp_spark.sources.readers import load_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter((F.col("vec_id") % 5) != 4)
    _labels, cmat = ivf_train(base, n_cells=8, n_iters=2)

    import math

    def _half_up(x: float) -> float:
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x)

    def _margin(x: float) -> float:
        # distance (×1e6 scale) to the nearest half-up boundary,
        # symmetric in sign (Spark round() is HALF_UP: away from
        # zero at x.5)
        s = abs(x) * 1e6
        return abs(s - math.floor(s) - 0.5)

    lit = {r.vec_id: r for r in drift_scores_literal(emb, cmat).collect()}
    gem = {r.vec_id: r for r in drift_scores_gemm(emb, cmat).collect()}
    assert len(lit) == 500 and set(lit) == set(gem)

    delta_max = max(
        abs(lit[i].sim_raw - gem[i].sim_raw) * 1e6 for i in lit
    )
    worst = min(
        min(_margin(lit[i].sim_raw), _margin(gem[i].sim_raw)) for i in lit
    )
    # a round-flip needs a sim within the kernel disagreement of a
    # boundary; require 3 orders of magnitude of headroom between
    # the closest approach and the worst observed disagreement
    # (measured on this corpus: worst ≈ 4.6e-4 scaled, delta_max
    # ≈ 1e-10 scaled — ~6.5 orders of headroom)
    assert delta_max == 0.0 or worst > 1000 * delta_max, (worst, delta_max)
    # and the rounded outputs — what the shared oracle hashes — agree
    # exactly, row by row and as per-cohort multisets
    assert all(
        lit[i].cohort == gem[i].cohort
        and _half_up(lit[i].sim_raw) == _half_up(gem[i].sim_raw)
        for i in lit
    )
    assert Counter(
        (r.cohort, _half_up(r.sim_raw)) for r in lit.values()
    ) == Counter((r.cohort, _half_up(r.sim_raw)) for r in gem.values())


def test_streaming_drift_report_recovers_and_equals_batch(
    spark, sf_dir, tmp_path
):
    """Kill the drift-state ingest after trigger 2 of 4 (post-write,
    pre-commit), resume from the checkpoint, and require the final
    report to equal the batch ivf_drift_report EXACTLY — state dirs
    are batch_id-keyed integer compactions, so the replayed batch
    absorbs its own half-committed write and merged counts stay
    exact."""
    import os

    import pytest

    from etl_gcp_spark.functions.similarity import ivf_drift_report
    from etl_gcp_spark.sources.readers import load_table
    from etl_gcp_spark.streaming.vectors import run_streaming_drift_report

    root = str(tmp_path / "drift_stream_recovery")
    path = os.path.join(sf_dir, "embeddings.parquet")
    with pytest.raises(Exception, match="injected crash"):
        run_streaming_drift_report(
            spark, path, n_batches=4, root=root, fail_after_batches=2
        )
    streamed = run_streaming_drift_report(
        spark, path, n_batches=4, root=root
    ).collect()
    batch = ivf_drift_report(load_table(spark, sf_dir, "embeddings")).collect()
    assert streamed == batch and len(streamed) == 2


def test_filtered_recall_report_semantics(spark, sf_dir, tmp_path):
    """Filtered-search recall: every row has 0 ≤ recall ≤ 1 with
    exact integer numerators/denominators; probing EVERY cell makes
    the filtered serve exhaustive over the filtered corpus, so recall
    must be exactly 1.0 for every query — the same floor contract as
    the unfiltered ann_recall_report."""
    from etl_gcp_spark.functions.similarity import (
        build_ivf_index,
        filtered_recall_report,
    )
    from etl_gcp_spark.sources.readers import load_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivffrr")
    build_ivf_index(emb, path, n_cells=8, n_iters=1, meta_cols=("label",))
    partial = filtered_recall_report(
        spark, emb, path,
        query_ids=list(range(6)), k=3, n_probe=2, label_value=1,
    ).collect()
    assert len(partial) == 6
    for r in partial:
        assert 0 <= r.n_hits <= r.n_exact <= 3
        assert r.recall == round(r.n_hits / r.n_exact, 4)
    exhaustive = filtered_recall_report(
        spark, emb, path,
        query_ids=list(range(6)), k=3, n_probe=8, label_value=1,
    ).collect()
    assert all(r.recall == 1.0 for r in exhaustive)


def test_ivf_index_append_meta_cols_roundtrip_and_guard(spark, tmp_path):
    """Appending to a meta-enriched index must carry the metadata
    (appended vectors stay visible to filtered serves) and a
    meta_cols mismatch in EITHER direction must fail fast instead of
    producing a mixed-schema vectors tree (ADVICE r7)."""
    import math

    import pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from etl_gcp_spark.functions.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_topk,
    )

    def vec(i):
        return [math.sin(0.7 * i + d) + 0.01 * i * d for d in range(8)]

    base = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec(i), label=i % 2) for i in range(15)]
    )
    new = spark.createDataFrame(
        # exact dup of query 3's vector, label 1 — findable only if
        # the append carried its metadata through
        [Row(vec_id=19, embedding=vec(3), label=1)]
    )
    path = str(tmp_path / "ivfappmeta")
    build_ivf_index(base, path, n_cells=4, n_iters=1, meta_cols=("label",))

    # mismatch direction 1: meta-enriched base, plain append
    with pytest.raises(ValueError, match="meta_cols mismatch"):
        ivf_index_append(spark, path, new)

    ivf_index_append(spark, path, new, meta_cols=("label",))
    out = ivf_index_topk(
        spark, path, query_ids=[3], k=3, n_probe=2,
        neighbor_pred=F.col("label") == 1,
    )
    top = out.orderBy("rank").collect()[0]
    assert top.neighbor_id == 19 and top.sim == 1.0

    # mismatch direction 2: plain base, meta-carrying append
    plain = str(tmp_path / "ivfappplain")
    build_ivf_index(base.drop("label"), plain, n_cells=4, n_iters=1)
    with pytest.raises(ValueError, match="meta_cols mismatch"):
        ivf_index_append(spark, plain, new, meta_cols=("label",))


def test_heal_swap_rolls_forward_and_back(spark, tmp_path):
    """A compactor killed between commit_swap's two renames leaves no
    base tree; heal_swap must roll FORWARD when the rewrite carries
    the committer marker, BACKWARD to the preserved _old otherwise,
    and be a no-op (plus leftover sweep) when base exists."""
    import os

    from etl_gcp_spark.streaming.staging import commit_swap, heal_swap

    base = str(tmp_path / "store")
    df = spark.range(10).withColumnRenamed("id", "vec_id")

    # forward: base gone, _compacting committed
    df.write.parquet(base + "_compacting")
    df.limit(3).write.parquet(base + "_old")
    heal_swap(base)
    assert spark.read.parquet(base).count() == 10
    assert not os.path.exists(base + "_old")
    assert not os.path.exists(base + "_compacting")

    # backward: base gone, _compacting incomplete (no _SUCCESS)
    import shutil

    shutil.rmtree(base)
    df.limit(3).write.parquet(base + "_old")
    os.makedirs(base + "_compacting")
    open(os.path.join(base + "_compacting", "part-partial.parquet"), "w").close()
    heal_swap(base)
    assert spark.read.parquet(base).count() == 3
    assert not os.path.exists(base + "_compacting")

    # completed swap: no-op apart from sweeping leftovers
    df.limit(3).write.parquet(base + "_old")
    heal_swap(base)
    assert spark.read.parquet(base).count() == 3
    assert not os.path.exists(base + "_old")

    # and the happy-path swap itself still publishes the rewrite
    df.write.parquet(base + "_compacting")
    commit_swap(base)
    assert spark.read.parquet(base).count() == 10


def test_retrain_swap_report_zeros_and_recall(spark, sf_dir, tmp_path):
    """retrain_swap_report's equality columns are structural zeros
    (the swapped artifact serves identically to a from-scratch fused
    train over survivors) and its recall leg is a genuine measurement
    (bounded by 1, n_hits <= n_exact)."""
    from pyspark.sql import functions as F

    from etl_gcp_spark.functions.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_erase,
        ivf_retrain_swap,
        retrain_swap_report,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivfretr_report")
    build_ivf_index(
        emb.filter(F.col("vec_id") < 400), path, n_cells=8, n_iters=1
    )
    ivf_index_append(spark, path, emb.filter(F.col("vec_id") >= 400))
    ivf_index_erase(
        spark, path, emb.filter(F.col("vec_id") % 11 == 0).select("vec_id")
    )
    ivf_retrain_swap(spark, path, n_cells=8, n_iters=1)
    survivors = emb.filter(F.col("vec_id") % 11 != 0)
    rows = retrain_swap_report(
        spark, survivors, path,
        query_ids=list(range(10)), k=5, n_cells=8, n_probe=3, n_iters=1,
    ).collect()
    assert len(rows) == 9  # query 0 erased
    for r in rows:
        assert r["n_only_serve"] == 0 and r["n_only_fused"] == 0
        assert r["n_tombstones_left"] == 0
        assert 0 <= r["n_hits"] <= r["n_exact"] == 5
        assert 0.0 <= r["recall"] <= 1.0


def test_streaming_ivf_erasure_recovers_and_equals_batch(
    spark, sf_dir, tmp_path
):
    """Kill the vector deletion-request stream after trigger 2 of 4
    (post-write, pre-commit), resume from the checkpoint, and require
    the final serve to equal the batch erased-index serve — tombstone
    slices are batch_id-keyed overwrites, and the centroid-marker-
    guarded build must NOT rerun on resume (a rebuild clears the
    tombstone dir and would drop the committed deletion slices the
    checkpoint will never replay)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_gcp_spark.functions.similarity import (
        build_ivf_index,
        ivf_index_erase,
        ivf_index_topk,
    )
    from etl_gcp_spark.streaming.vectors import run_streaming_ivf_erasure

    root = str(tmp_path / "ivf_erasure_recovery")
    path = f"{sf_dir}/embeddings.parquet"
    with pytest.raises(Exception, match="injected crash"):
        run_streaming_ivf_erasure(
            spark, path, root=root, fail_after_batches=2,
            n_cells=8, query_ids=[1, 2, 3], k=3, n_probe=3,
        )
    # the committed slices must survive the crash into the resume
    assert os.path.isdir(f"{root}/index/tombstones")
    streamed = sorted(
        map(
            tuple,
            run_streaming_ivf_erasure(
                spark, path, root=root,
                n_cells=8, query_ids=[1, 2, 3], k=3, n_probe=3,
            ).collect(),
        )
    )
    emb = spark.read.parquet(path)
    bpath = str(tmp_path / "ivf_erasure_batch")
    build_ivf_index(emb, bpath, n_cells=8, n_iters=2)
    ivf_index_erase(
        spark, bpath, emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    )
    batch = sorted(
        map(
            tuple,
            ivf_index_topk(
                spark, bpath, query_ids=[1, 2, 3], k=3, n_probe=3
            ).collect(),
        )
    )
    assert streamed and streamed == batch
    assert all(r[1] % 7 != 0 for r in streamed)  # erased never served


def test_margin_bitext_pairs_matches_numpy_and_finds_planted_pair(spark):
    """The mined alignments equal a numpy recomputation of the ratio
    margin (top-4 both directions, exact integer-scaled sums, id
    tiebreaks), and a planted identical src/tgt pair aligns at
    sim 1.0 with the best margin for its source."""
    import numpy as np
    from pyspark.sql import Row

    from etl_gcp_spark.functions.similarity import margin_bitext_pairs

    rs = np.random.RandomState(42)
    rng_vecs = {i: [float(x) for x in rs.randn(8)] for i in range(20)}
    rng_vecs[11] = list(rng_vecs[10])  # planted parallel pair
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in rng_vecs.items()]
    )
    got = {
        r.src_id: (r.tgt_id, r.sim, r.margin)
        for r in margin_bitext_pairs(
            df, k=4, margin_threshold=0.0, n_blocks=4
        ).collect()
    }

    # numpy mirror of the operator's exact arithmetic
    ids = sorted(rng_vecs)
    V = np.stack([np.asarray(rng_vecs[i], dtype=np.float64) for i in ids])
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    sim6 = np.rint(np.round(V @ V.T, 6) * 1e6).astype(np.int64)
    src = [i for i in ids if i % 2 == 0]
    tgt = [i for i in ids if i % 2 == 1]

    def topk(q, cands):
        s = sorted(cands, key=lambda c: (-sim6[q][c], c))[:4]
        return s

    rx = {q: [sim6[q][c] for c in topk(q, tgt)] for q in src}
    ry = {t: [sim6[t][c] for c in topk(t, src)] for t in tgt}
    expect = {}
    for q in src:
        best = None
        for t in topk(q, tgt):
            mraw = (2 * sim6[q][t] * len(rx[q]) * len(ry[t])) / (
                sum(rx[q]) * len(ry[t]) + sum(ry[t]) * len(rx[q])
            )
            key = (-mraw, t)
            if best is None or key < best[0]:
                best = (key, t, sim6[q][t], mraw)
        expect[q] = (best[1], round(best[2] / 1e6, 6), round(best[3], 6))

    assert got == expect
    t_id, sim, margin = got[10]
    assert t_id == 11 and sim == 1.0 and margin > 1.0


def test_ivf_compact_replay_after_crash_window_no_duplicates(
    spark, sf_dir, tmp_path
):
    """A crash between commit_swap(vectors) and the appends cleanup
    leaves a committed base that already contains the folded rows
    next to the surviving appends dir. The replayed compact must not
    write duplicate vec_ids (the fold is dropDuplicates-idempotent)
    and must serve identically."""
    import os
    import shutil

    from etl_gcp_spark.functions.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_compact,
        ivf_index_topk,
    )
    from etl_gcp_spark.streaming.staging import write_slice

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivfcrash")
    build_ivf_index(
        emb.filter(F.col("vec_id") < 400), path, n_cells=8, n_iters=1
    )
    # stage an appends tree the way the streaming ingest does
    appends = os.path.join(path, "appends")
    new = emb.filter(F.col("vec_id") >= 400)
    cents = sorted(
        spark.read.parquet(os.path.join(path, "centroids")).collect(),
        key=lambda r: r["cell"],
    )
    from etl_gcp_spark.functions.similarity import _assign_to_centroids

    assigned = _assign_to_centroids(
        new.select("vec_id", F.col("embedding").alias("__v")),
        [list(r["centroid"]) for r in cents],
        [int(r["cell"]) for r in cents],
        "vec_id",
    ).select("vec_id", F.col("__v").alias("vector"), "cell")
    write_slice(assigned, appends, 0, partition_by=("cell",))
    saved = str(tmp_path / "appends_saved")
    shutil.copytree(appends, saved)
    ivf_index_compact(spark, path)
    assert not os.path.isdir(appends)
    served = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in ivf_index_topk(
            spark, path, query_ids=[0, 1, 2], k=3, n_probe=2
        ).collect()
    }
    # simulate the crash window: the appends dir survived the swap
    shutil.copytree(saved, appends)
    ivf_index_compact(spark, path)
    vecs = spark.read.parquet(os.path.join(path, "vectors"))
    assert vecs.count() == vecs.select("vec_id").distinct().count()
    assert vecs.count() == emb.count()
    replay = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in ivf_index_topk(
            spark, path, query_ids=[0, 1, 2], k=3, n_probe=2
        ).collect()
    }
    assert replay == served


def test_ivf_retrain_swap_replay_after_crash_window_no_duplicates(
    spark, sf_dir, tmp_path
):
    """Same crash window for the retrain: the committed rewrite holds
    re-assigned cells while the surviving appends dir keeps the old
    ones, so the replay's fold must dedup on the identity key alone —
    a full-row dedup would let both copies through."""
    import os
    import shutil

    from etl_gcp_spark.functions.similarity import (
        _assign_to_centroids,
        build_ivf_index,
        ivf_retrain_swap,
    )
    from etl_gcp_spark.streaming.staging import write_slice

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivfretrcrash")
    build_ivf_index(
        emb.filter(F.col("vec_id") < 400), path, n_cells=8, n_iters=1
    )
    # stage an appends tree the way the streaming ingest does
    appends = os.path.join(path, "appends")
    cents = sorted(
        spark.read.parquet(os.path.join(path, "centroids")).collect(),
        key=lambda r: r["cell"],
    )
    assigned = _assign_to_centroids(
        emb.filter(F.col("vec_id") >= 400).select(
            "vec_id", F.col("embedding").alias("__v")
        ),
        [list(r["centroid"]) for r in cents],
        [int(r["cell"]) for r in cents],
        "vec_id",
    ).select("vec_id", F.col("__v").alias("vector"), "cell")
    write_slice(assigned, appends, 0, partition_by=("cell",))
    saved = str(tmp_path / "retr_appends_saved")
    shutil.copytree(appends, saved)
    ivf_retrain_swap(spark, path, n_cells=8, n_iters=1)
    assert not os.path.isdir(appends)
    first = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(path + "/vectors").collect()
    }
    shutil.copytree(saved, appends)
    ivf_retrain_swap(spark, path, n_cells=8, n_iters=1)
    vecs = spark.read.parquet(path + "/vectors")
    assert vecs.count() == vecs.select("vec_id").distinct().count()
    assert {
        (r["vec_id"], r["cell"]) for r in vecs.collect()
    } == first  # deterministic retrain over the identical corpus


def test_cross_topk_zero_norm_fails_fast(spark):
    """A zero-norm embedding makes cosine undefined — the blocked
    cross kernel must raise (naming embedding_sanitize) rather than
    emit NaN-derived garbage rankings."""
    import pytest
    from pyspark.sql import Row

    from etl_gcp_spark.functions.similarity import blocked_cross_topk

    df = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.0, 1.0]),
            Row(vec_id=2, embedding=[0.0, 0.0]),
        ]
    )
    src = df.filter(F.col("vec_id") % 2 == 0)
    tgt = df.filter(F.col("vec_id") % 2 == 1)
    with pytest.raises(Exception, match="zero-norm"):
        blocked_cross_topk(src, tgt, k=1, n_blocks=1).collect()


def test_margin_rank_drops_nonpositive_denominator(spark):
    """Candidates whose combined top-k cosine sums are <= 0 are an
    explicit drop (not a null or sign-flipped margin): the all-
    negative pair vanishes, the positive pair survives with the
    exact integer-ratio margin."""
    from etl_gcp_spark.functions.similarity import _margin_rank

    fwd = spark.createDataFrame(
        [(1, 2, -500_000), (3, 4, 800_000)],
        "query_id long, neighbor_id long, sim6 long",
    )
    rev = spark.createDataFrame(
        [(2, 1, -500_000), (4, 3, 800_000)],
        "query_id long, neighbor_id long, sim6 long",
    )
    got = _margin_rank(fwd, rev, margin_threshold=0.0).collect()
    assert [(r.src_id, r.tgt_id, r.margin) for r in got] == [(3, 4, 1.0)]


def test_bitext_ann_exhaustive_probe_equals_exact(spark, sf_dir, tmp_path):
    """With n_probe == n_cells the ANN candidate sets ARE the exact
    cross top-k, so the miner returns the exact pairs, every row is a
    hit and pair_recall is 1.0 — the identity that pins the ANN path
    to the same margin arithmetic."""
    from etl_gcp_spark.functions.similarity import bitext_ann_recall_report

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    rep = bitext_ann_recall_report(
        emb, str(tmp_path / "bitext_full"),
        k=4, margin_threshold=1.0, n_cells=8, n_iters=1,
        n_probe=8, n_blocks=4,
    ).collect()
    assert rep and all(r.hit == 1 for r in rep)
    assert all(r.pair_recall == 1.0 for r in rep)
    assert rep[0].n_exact_pairs == len(rep) == rep[0].n_hits


def test_bitext_ann_probe_subset_recall_measured(spark, sf_dir, tmp_path):
    """At n_probe < n_cells the report measures the recall cost:
    every ANN-mined pair flagged hit=1 is genuinely in the exact
    set, and pair_recall equals n_hits / n_exact_pairs."""
    from etl_gcp_spark.functions.similarity import (
        bitext_ann_recall_report,
        margin_bitext_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    rep = bitext_ann_recall_report(
        emb, str(tmp_path / "bitext_sub"),
        k=4, margin_threshold=1.0, n_cells=8, n_iters=1,
        n_probe=2, n_blocks=4,
    ).collect()
    exact = {
        (r.src_id, r.tgt_id)
        for r in margin_bitext_pairs(
            emb, k=4, margin_threshold=1.0, n_blocks=4
        ).collect()
    }
    hits = {(r.src_id, r.tgt_id) for r in rep if r.hit == 1}
    assert hits <= exact
    assert rep[0].n_exact_pairs == len(exact)
    assert rep[0].n_hits == len(hits)
    assert rep[0].pair_recall == round(len(hits) / len(exact), 4)


def test_hamming_topk_sign_semantics_and_recall(spark):
    """Binary-sign serving: an identical vector is hamming-0 rank-1;
    flipping exactly f signs measures hamming f; a zero vector packs
    to all-zero words (v > 0 strict) without any normalization crash;
    and the recall report counts hits against exact cosine."""
    import numpy as np
    from pyspark.sql import Row

    from etl_gcp_spark.functions.similarity import (
        hamming_recall_report,
        hamming_topk,
        sign_quantize,
    )

    rs = np.random.RandomState(7)
    vecs = {i: rs.randn(64) for i in range(20)}
    vecs[11] = vecs[0].copy()                      # identical twin
    vecs[12] = vecs[0].copy()
    vecs[12][:5] = -np.abs(vecs[12][:5]) - 1.0     # exactly 5 dims negative
    vecs[0][:5] = np.abs(vecs[0][:5]) + 1.0        # ...that are positive in 0
    vecs[11] = vecs[0].copy()
    vecs[13] = np.zeros(64)                        # zero vector
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in vecs.items()]
    )
    out = {
        (r.query_id, r.rank): (r.neighbor_id, r.hamming)
        for r in hamming_topk(df, query_ids=[0], k=3).collect()
    }
    assert out[(0, 1)] == (11, 0)          # twin at hamming 0
    # the 5-sign-flipped copy is exactly hamming 5 from query 0
    flipped = {r.neighbor_id: r.hamming
               for r in hamming_topk(df, query_ids=[0], k=19).collect()}
    assert flipped[12] == 5
    # zero vector packs to all-zero words, no crash anywhere
    w = {r["vec_id"]: (r["w0"], r["w1"])
         for r in sign_quantize(df).collect()}
    assert w[13] == (0, 0)
    # exact cosine fails fast on zero-norm (documented sanitize
    # contract), so the recall frame excludes the zero vector
    rep = {r.query_id: r for r in
           hamming_recall_report(
               df.filter(F.col("vec_id") != 13), query_ids=[0, 1], k=3
           ).collect()}
    assert rep[0].n_exact == 3
    assert 0 <= rep[0].n_hits <= 3
    assert rep[0].recall == round(rep[0].n_hits / 3, 4)
    # the twin is both the exact-cosine and the hamming top-1 -> hit
    assert rep[0].n_hits >= 1


def test_ivf_compact_fold_keeps_committed_base_cells(
    spark, sf_dir, tmp_path
):
    """ADVICE r9: a crash between ivf_retrain_swap's commit_swap and
    its appends cleanup leaves a committed base carrying RE-ASSIGNED
    cells next to a surviving appends dir carrying the stale ones. A
    routine ivf_index_compact replayed in that window must fold
    deterministically — committed base rows win — or a stale cell
    can nondeterministically persist into a partition the new
    centroids never probe (silent recall loss)."""
    import os
    import shutil

    from etl_gcp_spark.functions.similarity import (
        _assign_to_centroids,
        build_ivf_index,
        ivf_index_compact,
        ivf_retrain_swap,
    )
    from etl_gcp_spark.streaming.staging import write_slice

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_fold_det")
    build_ivf_index(
        emb.filter(F.col("vec_id") < 400), path, n_cells=8, n_iters=1
    )
    # stage appends assigned under the OLD centroids
    appends = os.path.join(path, "appends")
    cents = sorted(
        spark.read.parquet(os.path.join(path, "centroids")).collect(),
        key=lambda r: r["cell"],
    )
    assigned = _assign_to_centroids(
        emb.filter(F.col("vec_id") >= 400).select(
            "vec_id", F.col("embedding").alias("__v")
        ),
        [list(r["centroid"]) for r in cents],
        [int(r["cell"]) for r in cents],
        "vec_id",
    ).select("vec_id", F.col("__v").alias("vector"), "cell")
    write_slice(assigned, appends, 0, partition_by=("cell",))
    saved = str(tmp_path / "fold_appends_saved")
    shutil.copytree(appends, saved)
    # retrain folds the appends in under NEW centroids/cells
    ivf_retrain_swap(spark, path, n_cells=8, n_iters=2)
    committed = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(path + "/vectors").collect()
    }
    # crash window: the stale-cell appends dir survived the swap;
    # a ROUTINE compact (not a retrain replay) runs next
    shutil.copytree(saved, appends)
    ivf_index_compact(spark, path)
    vecs = spark.read.parquet(path + "/vectors")
    assert vecs.count() == vecs.select("vec_id").distinct().count()
    # deterministic: every committed (vec_id, cell) survived verbatim
    assert {
        (r["vec_id"], r["cell"]) for r in vecs.collect()
    } == committed


def test_guarded_recall_pins_empty_ground_truth_to_one(spark):
    """ADVICE r9: pair_recall = n_hits / n_exact_pairs is 0/0 → NULL
    when the exact miner finds no pairs, silently nulling the
    report's headline metric; the guarded expression pins the
    vacuous case to 1.0 and leaves the live case untouched."""
    from etl_gcp_spark.functions.similarity import _guarded_recall

    rows = spark.createDataFrame(
        [(0, 0), (3, 4), (4, 4)], "hits long, total long"
    )
    got = {
        (r["hits"], r["total"]): r["recall"]
        for r in rows.select(
            "hits",
            "total",
            _guarded_recall(F.col("hits"), F.col("total")).alias("recall"),
        ).collect()
    }
    assert got[(0, 0)] == 1.0
    assert got[(3, 4)] == 0.75
    assert got[(4, 4)] == 1.0


def test_hamming_lsh_one_bit_bands_equal_full_scan(spark, sf_dir):
    """band_bits=1 x 64 bands: any vector agreeing with the query on
    at least ONE sign bit is a candidate — on real float data that is
    every vector (an antipodal twin would need all 64 signs flipped),
    so the bucketed serve must reproduce the full compressed scan
    exactly, ranks and all."""
    from etl_gcp_spark.functions.similarity import (
        hamming_lsh_topk,
        hamming_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 100
    )
    full = sorted(
        map(tuple, hamming_topk(emb, query_ids=[0, 1, 2], k=5).collect())
    )
    lsh = sorted(
        map(
            tuple,
            hamming_lsh_topk(
                emb, query_ids=[0, 1, 2], k=5, n_bands=64, band_bits=1
            ).collect(),
        )
    )
    assert lsh == full


def test_hamming_lsh_twin_always_candidate_and_contract_errors(
    spark, sf_dir
):
    """A sign-identical twin collides in EVERY band, so it must
    surface at rank 1 / hamming 0 under any banding config; invalid
    band geometry fails fast."""
    import pytest

    from etl_gcp_spark.functions.similarity import hamming_lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 80
    )
    twin = emb.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.lit(9999).cast("long")
    )
    out = {
        (r.query_id, r.rank): (r.neighbor_id, r.hamming)
        for r in hamming_lsh_topk(
            emb.unionByName(twin),
            query_ids=[0],
            k=3,
            n_bands=8,
            band_bits=8,
        ).collect()
    }
    assert out[(0, 1)] == (9999, 0)
    with pytest.raises(ValueError, match="divide 32"):
        hamming_lsh_topk(emb, query_ids=[0], band_bits=6)
    with pytest.raises(ValueError, match="exceeds dim"):
        hamming_lsh_topk(emb, query_ids=[0], n_bands=32, band_bits=8)


def test_ivf_pq_exhaustive_probe_equals_full_adc_scan(spark, sf_dir):
    """n_probe = n_cells makes the candidate set the whole corpus, so
    the fused serve must reproduce pq_topk's full ADC scan exactly —
    the same exhaustive-probe pin every IVF variant carries."""
    from etl_gcp_spark.functions.similarity import ivf_pq_topk, pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    full = sorted(
        map(
            tuple,
            pq_topk(
                emb, query_ids=[0, 1, 2], k=5, n_subspaces=8, n_codes=16
            ).collect(),
        )
    )
    fused = sorted(
        map(
            tuple,
            ivf_pq_topk(
                emb,
                query_ids=[0, 1, 2],
                k=5,
                n_cells=8,
                n_iters=1,
                n_probe=8,
                n_subspaces=8,
                n_codes=16,
            ).collect(),
        )
    )
    assert fused == full


def test_ivf_pq_recall_report_bounds(spark, sf_dir):
    """Composite recall is well-formed: n_exact = k per query, hits
    within [0, k], recall = hits/k at 4 dp."""
    from etl_gcp_spark.functions.similarity import ivf_pq_recall_report

    rep = ivf_pq_recall_report(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        query_ids=list(range(5)),
        k=5,
    ).collect()
    assert len(rep) == 5
    for r in rep:
        assert r["n_exact"] == 5
        assert 0 <= r["n_hits"] <= 5
        assert r["recall"] == round(r["n_hits"] / 5, 4)


def test_ivf_pq_residual_paired_audit_wellformed(spark, sf_dir):
    """The residual/raw pair exists to MEASURE what residual encoding
    buys on a given corpus (it lifts mean recall 0.30 -> 0.38 at
    sf0.01, and loses on the 100-vector sf0.001 corpus where
    3-vector cells make residual codebook seeds degenerate — which
    is exactly why the audit is paired instead of assumed). Pin the
    report contract: shape, hits-bounded arithmetic, and double-run
    determinism."""
    from etl_gcp_spark.functions.similarity import (
        ivf_pq_residual_recall_report,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = list(range(10))
    rep = {
        r["query_id"]: r
        for r in ivf_pq_residual_recall_report(
            emb, query_ids=qs, k=5
        ).collect()
    }
    assert set(rep) == set(qs)
    for r in rep.values():
        assert r["n_exact"] == 5
        assert 0 <= r["n_hits"] <= 5
        assert r["recall"] == round(r["n_hits"] / 5, 4)
    again = {
        r["query_id"]: tuple(r)
        for r in ivf_pq_residual_recall_report(
            emb, query_ids=qs, k=5
        ).collect()
    }
    assert again == {q: tuple(r) for q, r in rep.items()}


def test_r10_serving_families_total_on_degenerate_inputs(
    spark, sf_dir
):
    """Totality sweep for the round-10 serving families (the
    adversarial-input convention the text operators follow): empty
    query sets, corpora smaller than the codebook/cell budget, and a
    single-vector corpus must degrade to empty-or-small results, not
    throw."""
    from etl_gcp_spark.functions.similarity import (
        hamming_lsh_topk,
        ivf_pq_residual_topk,
        ivf_pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # empty query set
    assert hamming_lsh_topk(emb, query_ids=[], k=3).count() == 0
    assert ivf_pq_topk(emb, query_ids=[], k=3).count() == 0
    assert ivf_pq_residual_topk(emb, query_ids=[], k=3).count() == 0
    # corpus smaller than n_codes and n_cells budgets
    tiny = emb.filter(F.col("vec_id") < 8)
    for fn in (ivf_pq_topk, ivf_pq_residual_topk):
        rows = fn(
            tiny, query_ids=[0, 1], k=3, n_cells=32, n_codes=16
        ).collect()
        assert 0 < len(rows) <= 6
        assert all(r["neighbor_id"] != r["query_id"] for r in rows)
    # single-vector corpus: no self-match, empty result
    one = emb.filter(F.col("vec_id") == 0)
    assert hamming_lsh_topk(one, query_ids=[0], k=3).count() == 0
    assert ivf_pq_topk(one, query_ids=[0], k=3).count() == 0

