"""Connected-components / dedup-clustering contracts.

A hand-built graph with a chain (transitive closure must merge it),
a separate 2-clique, and isolated vertices; then the composed
dedup_clusters operator on the crafted corpus from test_text_dedup.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row

from etl_gcp_spark.operators.graph import connected_components, dedup_clusters


def _graph(spark):
    vertices = spark.createDataFrame([Row(id=i) for i in range(1, 9)])
    # chain 1-2-3-4 (plus a reversed edge), clique 5-6, isolated 7, 8
    edges = spark.createDataFrame(
        [
            Row(src=2, dst=1),
            Row(src=2, dst=3),
            Row(src=3, dst=4),
            Row(src=5, dst=6),
        ]
    )
    return vertices, edges


def test_chain_closes_transitively(spark):
    vertices, edges = _graph(spark)
    got = {
        r["id"]: r["component"]
        for r in connected_components(vertices, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_self_loops_and_dup_edges_are_harmless(spark):
    vertices = spark.createDataFrame([Row(id=i) for i in (10, 20)])
    edges = spark.createDataFrame(
        [Row(src=10, dst=10), Row(src=10, dst=20), Row(src=20, dst=10)]
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(vertices, edges).collect()
    }
    assert got == {10: 10, 20: 10}


def test_dedup_clusters_groups_chain_not_just_pairs(spark):
    # a~b and b~c similar, a~c NOT directly similar: clustering must
    # still place all three in one cluster (vs near_dup_dedup's greedy
    # pairwise rule). Build texts so adjacent jaccard >= 0.8.
    base = [f"tok{i}" for i in range(40)]
    a = " ".join(base)
    b = " ".join(base[:36] + ["x1", "x2", "x3", "x4"])   # ~0.8 vs a
    c = " ".join(base[:32] + ["x1", "x2", "x3", "x4", "y1", "y2", "y3", "y4"])
    other = "entirely unrelated words making one more document here now"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=a),
            Row(doc_id=2, text=b),
            Row(doc_id=3, text=c),
            Row(doc_id=4, text=other),
            Row(doc_id=5, text="too short"),
        ]
    )
    rows = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        # exact pair source: this test checks transitive-closure
        # semantics, not LSH recall (a J≈0.7 edge on a 5-doc fixture
        # is below the default banding's reliable-recall regime)
        for r in dedup_clusters(
            docs, threshold=0.7, pair_source="exact"
        ).collect()
    }
    assert rows[4] == (4, 1) and rows[5] == (5, 1)
    # all of 1,2,3 share cluster 1 iff the closure merged the chain
    assert rows[1] == (1, 3) and rows[2] == (1, 3) and rows[3] == (1, 3)
    # every doc labeled exactly once
    assert len(rows) == 5


def test_dedup_clusters_lsh_matches_exact_source(spark, sf_dir):
    # the registered (default) LSH pair source must produce the same
    # clustering as the exact AllPairs source on the driver's corpus —
    # the condition under which the recursive-CTE oracle applies
    from etl_gcp_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    lsh = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup_clusters(docs, threshold=0.8).collect()
    }
    exact = {
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup_clusters(
            docs, threshold=0.8, pair_source="exact"
        ).collect()
    }
    assert lsh == exact


@pytest.fixture(scope="module")
def spark_multi(spark):
    """A child session (own SQLConf, shared SparkContext) whose CC
    shuffle stays at 8 partitions, so no partition sees every edge
    and the kernel takes its contraction rounds and stop rules."""
    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    return s


def _union_find(n, pairs):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


def _shuffled_path(n, seed):
    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return [(ids[i], ids[i + 1]) for i in range(n - 1)]


def _graphs():
    rng = random.Random(7)
    for n, m in ((60, 45), (200, 190), (300, 600)):
        yield n, [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    yield 120, _shuffled_path(120, 3)


def _cc(spark, n, pairs):
    verts = spark.createDataFrame([Row(id=i) for i in range(n)])
    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in pairs], "src long, dst long"
    )
    out = connected_components(verts, edges)
    return {r.id: r.component for r in out.collect()}


def _matches_union_find(s):
    # seeded random graphs (isolated vertices, multi-edges, self-loops)
    # and a shuffled-id path, against a sequential union-find
    for n, pairs in _graphs():
        assert _cc(s, n, pairs) == _union_find(n, pairs), (n, len(pairs))


def test_kernel_matches_python_union_find(spark):
    _matches_union_find(spark)


def test_kernel_matches_python_union_find_multi_partition(spark_multi):
    _matches_union_find(spark_multi)


def test_long_chain_closes_in_log_rounds(spark_multi, monkeypatch):
    # a 120-node path: label propagation needed O(diameter) rounds;
    # with 8 partitions the contraction rounds run and still close it
    from etl_gcp_spark.operators import graph

    calls = []
    real = graph._shortcut
    monkeypatch.setattr(
        graph, "_shortcut", lambda p: calls.append(1) or real(p)
    )
    rows = _cc(spark_multi, 120, [(i, i + 1) for i in range(119)])
    assert len(rows) == 120 and set(rows.values()) == {0}
    assert calls, "the multi-partition path never contracted"


def test_star_forest_input_stops_without_contraction(spark_multi, monkeypatch):
    # a min-centred star forest is stable: the first round reproduces
    # it, so the kernel stops there even though 8 partitions got input
    from etl_gcp_spark.operators import graph

    monkeypatch.setattr(
        graph, "_shortcut", lambda p: pytest.fail("contracted a stable input")
    )
    pairs = [(c + k, c) for c in (0, 10, 20, 30) for k in range(1, 10)]
    got = _cc(spark_multi, 40, pairs)
    assert got == {i: i - i % 10 for i in range(40)}


def _leaves_only_result_checkpoint(s):
    from etl_gcp_spark.operators.graph import _release, component_map

    jsc = s.sparkContext._jsc

    def persistent():
        keys = jsc.getPersistentRDDs().keySet().toArray()
        return {int(str(k)) for k in keys}

    edges = s.createDataFrame(
        [Row(src=a, dst=b) for a, b in _shuffled_path(200, 11)],
        "src long, dst long",
    )
    before = persistent()
    out = component_map(edges)
    assert len(persistent() - before) == 1
    assert out.count() == 199
    _release(out)
    assert persistent() - before == set()


def test_cc_leaves_only_its_result_checkpoint(spark):
    _leaves_only_result_checkpoint(spark)


def test_cc_leaves_only_its_result_checkpoint_multi_partition(spark_multi):
    _leaves_only_result_checkpoint(spark_multi)


def test_embedding_dedup_clusters_transitive(spark):
    # a-b and b-c similar, a-c not: one cluster {a,b,c} labeled min id;
    # the orthogonal vector stays a singleton
    from pyspark.sql import Row

    from etl_gcp_spark.operators.graph import embedding_dedup_clusters

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=2, embedding=[0.9, 0.4359, 0.0]),   # cos(1,2)~0.9
            Row(vec_id=3, embedding=[0.62, 0.785, 0.0]),   # cos(2,3)~0.9, cos(1,3)~0.62
            Row(vec_id=4, embedding=[0.0, 0.0, 1.0]),      # orthogonal
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in embedding_dedup_clusters(
        emb, threshold=0.85, n_blocks=3).collect()}
    assert out[1].cluster_id == out[2].cluster_id == out[3].cluster_id == 1
    assert out[1].cluster_size == 3
    assert out[4].cluster_id == 4 and out[4].cluster_size == 1


def test_dedup_clusters_star_entry_matches_dedup_clusters(spark, sf_dir):
    # the retired star engine's registry name stays in the driver
    # contract and now runs the one kernel: same rows as dedup_clusters
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    plain = sorted(map(tuple, q["dedup_clusters"](spark, sf_dir).collect()))
    star = sorted(
        map(tuple, q["dedup_clusters_star"](spark, sf_dir).collect())
    )
    assert plain == star and plain


def test_triangle_participation_counts(spark):
    from etl_gcp_spark.operators.graph import triangle_participation

    # K4 on {1,2,3,4}: 4 triangles, each vertex in C(3,2)=3 of them;
    # pendant edge 4-5 adds no triangle; edges arrive unordered/dup'd
    edges = spark.createDataFrame(
        [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
            (3, 2),  # duplicate, reversed
            (4, 5),  # pendant
        ],
        "id1 long, id2 long",
    )
    out = {r.doc_id: r.n_triangles for r in triangle_participation(edges).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_participation_chain_has_none(spark):
    from etl_gcp_spark.operators.graph import triangle_participation

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id1 long, id2 long"
    )
    assert triangle_participation(chain).count() == 0


def test_kcore_embedding_graph_invariants(spark, sf_dir):
    """Every core node meets the degree floor, extra rounds past the
    fixpoint change nothing, and a higher core_k yields a subset."""
    from etl_gcp_spark.operators.graph import kcore_embedding_graph

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    core3 = {
        r.vec_id: r.core_degree
        for r in kcore_embedding_graph(
            emb, k=5, core_k=3, rounds=16
        ).collect()
    }
    assert core3 and all(d >= 3 for d in core3.values())
    # fixpoint: doubling the round bound is a no-op
    core3b = {
        r.vec_id: r.core_degree
        for r in kcore_embedding_graph(
            emb, k=5, core_k=3, rounds=32
        ).collect()
    }
    assert core3 == core3b
    # the 4-core (possibly empty) lives inside the 3-core
    core4 = {
        r.vec_id
        for r in kcore_embedding_graph(
            emb, k=5, core_k=4, rounds=16
        ).collect()
    }
    assert core4 <= set(core3)


def test_ensemble_near_dup_unions_signals(spark):
    """A doc chained to a lexical twin AND a semantic twin pulls all
    three into ONE cluster — the union property neither signal alone
    produces."""
    from pyspark.sql import Row

    from etl_gcp_spark.operators.graph import ensemble_near_dup_clusters

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon"),  # lexical twin of 1
            Row(doc_id=3, text="totally different words here now"),
            Row(doc_id=4, text="unrelated content about gardens"),
        ]
    )
    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
            Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),
            Row(vec_id=3, embedding=[0.0, 0.999, 0.04, 0.0]),  # semantic twin of 2
            Row(vec_id=4, embedding=[0.0, 0.0, 0.0, 1.0]),
        ]
    )
    out = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in ensemble_near_dup_clusters(
            docs, emb, jaccard_threshold=0.8, cosine_threshold=0.9
        ).collect()
    }
    # 1~2 lexically, 2~3 semantically -> {1,2,3} one cluster, 4 alone
    assert out[1] == (1, 3) and out[2] == (1, 3) and out[3] == (1, 3)
    assert out[4] == (4, 1)
