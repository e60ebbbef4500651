"""Connected components over a pair graph — dedup clustering.

The reference's dedup is keep-first over exact row groups
(data_loader.py:301-311); the near-dup family (text_dedup.py) emits
similar PAIRS. At corpus scale the pairs must be closed into
CLUSTERS — a chain a~b~c is one duplicate group even when (a,c)
itself is below threshold — and each cluster collapsed to one
canonical representative. That closure is connected components.

Spark-first design: local contraction (Łącki et al., "Connected
Components at Scale via Local Contractions", 2018). A round
hash-partitions the symmetric edge list by source vertex and runs a
numpy union-find over each partition's edges in ``mapInArrow``,
emitting one (node, local min) star edge per non-root node; an eager
``localCheckpoint`` cuts the lineage. When one partition saw every
edge its union-find is exact and the round's output IS the answer.
That is the common case — AQE coalesces a small graph's shuffle into
one partition — so a closure costs one shuffle and one checkpoint
however long its chains are. Otherwise every node hooks to its
smallest local root, the parent forest is pointer-jumped to its tree
roots (shortcutting; Stergiou et al., WSDM'18) and the star edges
contract onto those roots for the next round. A round whose input is
already a min-centred star forest reproduces it, so it ends the loop
too.

Round bound, independent of diameter and partitioning: call a node a
survivor when no partition gave it a smaller root. A survivor is the
min of every local component it sits in, so each neighbour of it gets
it as a root and does not survive; and all of a non-survivor's
neighbours share its own local component, whose min is the only
survivor among them. Mapping each survivor to one neighbour is thus
injective, so at most half of a round's vertices survive into the
next: ≤ ⌈log₂ n⌉ + 1 rounds, plus O(log depth) pointer jumps each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_gcp_spark.caching import unpersist_pinned


def _release(checkpointed: DataFrame) -> None:
    """Drop a ``localCheckpoint``'s blocks. ``DataFrame.unpersist``
    only covers ``cache()``; the checkpoint RDD sits in the plan's
    LogicalRDD."""
    checkpointed._jdf.queryExecution().logical().rdd().unpersist(False)


def _local_union_find(n_parts, n_unstable):
    """``mapInArrow`` body over one partition's (u, v) edges: emits
    (node, root = min of its local component) for every non-root node.
    Adds 1 to ``n_parts`` when the partition got input, and to
    ``n_unstable`` its keys u that break the min-centred star-forest
    shape: u has a smaller neighbour and more than one neighbour."""

    def run(batches):
        import numpy as np
        import pyarrow as pa

        cols = [
            (b.column(0).to_numpy(), b.column(1).to_numpy())
            for b in batches
            if b.num_rows
        ]
        if not cols:
            return
        n_parts.add(1)
        u = np.concatenate([c[0] for c in cols])
        v = np.concatenate([c[1] for c in cols])
        order = np.lexsort((v, u))
        u, v = u[order], v[order]
        fresh = np.r_[True, (u[1:] != u[:-1]) | (v[1:] != v[:-1])]
        u, v = u[fresh], v[fresh]
        # the shuffle is keyed on u, so each key's neighbour list is
        # whole here and sorted: its first neighbour is its smallest
        first = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
        degree = np.diff(np.r_[first, len(u)])
        n_unstable.add(
            int(np.count_nonzero((v[first] < u[first]) & (degree > 1)))
        )

        nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
        a, b = idx[: len(u)], idx[len(u) :]
        parent = np.arange(len(nodes))
        while True:
            ra, rb = parent[a], parent[b]
            split = ra != rb
            if not split.any():
                break
            # hook each larger root under the smaller one: parents
            # only point at smaller ids, so a tree's root is its min
            np.minimum.at(
                parent,
                np.maximum(ra[split], rb[split]),
                np.minimum(ra[split], rb[split]),
            )
            while True:
                up = parent[parent]
                if np.array_equal(up, parent):
                    break
                parent = up
        child = np.flatnonzero(parent != np.arange(len(nodes)))
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes[child]), pa.array(nodes[parent[child]])],
            names=["node", "root"],
        )

    return run


def _shortcut(parent: DataFrame) -> DataFrame:
    """Pointer-jump a (node, root) parent forest until every node
    points at its tree root; returns the checkpointed table."""
    cur = parent.localCheckpoint(eager=True)
    while True:
        up = cur.select(
            F.col("node").alias("__n"), F.col("root").alias("__r")
        )
        hop = cur.join(up, F.col("root") == F.col("__n"), "left")
        if hop.filter(F.col("__r").isNotNull()).isEmpty():
            return cur
        nxt = hop.select(
            "node", F.coalesce("__r", "root").alias("root")
        ).localCheckpoint(eager=True)
        _release(cur)
        cur = nxt


def component_map(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """(node, root) for every edge endpoint that is not the minimum of
    its connected component; root = that minimum. The CC kernel (see
    the module docstring). ``edges`` is undirected (each row connects
    ``src_col`` ↔ ``dst_col``), ids integral; self-loops and duplicate
    edges are harmless. The rounds run eagerly; the result is one
    ``localCheckpoint``, the only block set a call leaves behind."""
    sc = edges.sparkSession.sparkContext
    cur = edges.select(
        F.col(src_col).cast("long").alias("u"),
        F.col(dst_col).cast("long").alias("v"),
    )
    hops: list[DataFrame] = []  # each contracted round's shortcut table
    prev = None
    for _ in range(max_iterations):
        n_parts, n_unstable = sc.accumulator(0), sc.accumulator(0)
        stars = (
            cur.select(
                F.inline(
                    F.array(
                        F.struct("u", "v"),
                        F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                    )
                )
            )
            .filter(F.col("u") != F.col("v"))
            .repartition("u")
            .mapInArrow(
                _local_union_find(n_parts, n_unstable), "node long, root long"
            )
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            _release(prev)
        # a task retry can only over-count, which costs a round, never
        # stops one early
        if n_parts.value <= 1:
            final = stars
            break
        if n_unstable.value == 0:
            # a star forest: each leaf came out once per partition
            # that saw its edge, always with the same root
            final = stars.dropDuplicates(["node"])
            break
        parent = _shortcut(
            stars.groupBy("node").agg(F.min("root").alias("root"))
        )
        hops.append(parent)
        up = parent.select(
            F.col("node").alias("__n"), F.col("root").alias("__r")
        )
        # every star-edge node has a parent; a root keeps its own id
        cur = (
            stars.join(up, F.col("node") == F.col("__n"))
            .select(F.col("__r").alias("u"), F.col("root").alias("r"))
            .join(up, F.col("r") == F.col("__n"), "left")
            .select("u", F.coalesce("__r", "r").alias("v"))
        )
        prev = stars
    else:
        raise RuntimeError(
            f"component_map: no fixpoint in {max_iterations} rounds"
        )
    if not hops:
        return final
    # compose the rounds: a round's keys are roots of every earlier
    # round, so they never collide with the keys composed so far
    labels = hops[0]
    for step in hops[1:] + [final]:
        m = step.select(
            F.col("node").alias("__n"), F.col("root").alias("__r")
        )
        labels = (
            labels.join(m, F.col("root") == F.col("__n"), "left")
            .select("node", F.coalesce("__r", "root").alias("root"))
            .unionByName(step)
        )
    labels = labels.localCheckpoint(eager=True)
    for done in hops + [stars]:
        _release(done)
    return labels


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """(id, component) for every vertex; component = min reachable id.

    ``vertices`` supplies the universe, one row per vertex (isolated
    vertices come out as their own singleton component; edge endpoints
    outside it are dropped); ``edges`` is undirected input — each row
    connects ``src_col`` ↔ ``dst_col`` regardless of order. Vertices
    enter only at the final left join, so callers pass the full
    record set: no edge-vertex pass, no singleton splice.
    """
    comp = component_map(
        edges, src_col=src_col, dst_col=dst_col, max_iterations=max_iterations
    ).select(F.col("node").alias("__n"), F.col("root").alias("__r"))
    id_type = vertices.schema[id_col].dataType
    return (
        vertices.select(id_col)
        .join(comp, F.col(id_col) == F.col("__n"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__r").cast(id_type), F.col(id_col)).alias(
                "component"
            ),
        )
    )


def cluster_labels(
    items: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    prefix: str = "cluster",
) -> DataFrame:
    """(id, <prefix>_id, <prefix>_size) for every row of ``items``,
    closing an (id1, id2) pair frame: the label is the min member id,
    singletons keep themselves with size 1. The closure runs eagerly,
    so the result no longer reads ``pairs``."""
    comp = connected_components(
        items, pairs, id_col=id_col, src_col="id1", dst_col="id2"
    )
    return comp.select(
        id_col,
        F.col("component").alias(f"{prefix}_id"),
        F.count("*")
        .over(Window.partitionBy("component"))
        .cast("bigint")
        .alias(f"{prefix}_size"),
    )


def dedup_clusters(
    documents: DataFrame,
    *,
    threshold: float = 0.8,
    n: int = 3,
    pair_source: str = "lsh",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate clustering: close the similar-pair graph into
    components and label every document with its canonical (minimum)
    cluster id.

    ``pair_source`` picks the edge generator: ``"lsh"`` (default) is
    MinHash-LSH banding — linear in corpus + candidates, the 100 TB
    path; ``"exact"`` is the AllPairs exact-Jaccard inverted index,
    the oracle baseline. Cluster output is identical wherever LSH
    recall is 1 (verified pairwise-identical at sf0.001/sf0.01, so
    the recursive-CTE DuckDB oracle applies to both at those scales).

    Output: (doc_id, cluster_id, cluster_size). Singleton documents —
    no similar partner, or too short to shingle — keep themselves as
    cluster_id with cluster_size 1. Downstream keep-one-per-cluster
    dedup is ``filter(doc_id == cluster_id)``; unlike the greedy rule
    in :func:`~etl_gcp_spark.operators.text_dedup.near_dup_dedup`
    (drop any doc matching a lower id), clustering keeps exactly one
    representative per transitive group.
    """
    from etl_gcp_spark.operators.text_dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    pair_fn = {"lsh": minhash_lsh_pairs, "exact": ngram_jaccard_pairs}[
        pair_source
    ]
    pairs = pair_fn(
        documents, threshold=threshold, n=n, text_col=text_col, id_col=id_col
    )
    out = cluster_labels(documents, pairs, id_col)
    # the closure already read the pairs: drop the generator's index
    unpersist_pinned(pairs)
    return out


def embedding_dedup_clusters(
    embeddings: DataFrame,
    *,
    threshold: float = 0.45,
    n_blocks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup clusters over an EMBEDDING column (SemDeDup
    lineage — Abbas et al. 2023, public methodology: near-duplicate
    semantics live in embedding space, not token space): close the
    cosine-similar pair graph into components and label every vector
    with its canonical (minimum) cluster id.

    Pair generation is the distributed blocked GEMM
    (:func:`~etl_gcp_spark.functions.similarity
    .blocked_exact_near_dup_pairs`) — exact at any corpus size, no
    driver collect — so unlike the LSH route there is no recall
    caveat; swap in the SRP-LSH generator at high thresholds where
    banding prunes. Same output contract as :func:`dedup_clusters`:
    (id, cluster_id, cluster_size), singletons keep themselves;
    keep-one-per-cluster dedup is ``filter(id == cluster_id)``.
    """
    from etl_gcp_spark.functions.similarity import (
        blocked_exact_near_dup_pairs,
    )

    pairs = blocked_exact_near_dup_pairs(
        embeddings,
        threshold=threshold,
        n_blocks=n_blocks,
        id_col=id_col,
        vec_col=vec_col,
    )
    out = cluster_labels(embeddings, pairs, id_col)
    unpersist_pinned(pairs)
    return out


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
) -> DataFrame:
    """Weighted PageRank with a FIXED iteration count (Page et al.
    1999, public methodology) — fixed rounds + per-round 8-dp
    rounding make every intermediate replayable, so a SQL oracle can
    chain the same power iterations and hash-match the result.

    Per round: one join of the rank frame onto the edge list keyed by
    source, one map-side-combined sum per destination, one left join
    back onto the node universe for the teleport base — the rank and
    node frames are proportional to |V| (tiny next to the data that
    BUILT the edges), so at scale both sides of every join broadcast.
    Dangling mass is NOT redistributed (documented convention; ranks
    then sum to < 1 when sinks exist).  Output: (node, pagerank)
    rounded to 6 dp.
    """
    n = nodes.agg(F.count(F.lit(1)).alias("__n"))
    out_w = edges.groupBy(src_col).agg(F.sum(weight_col).alias("__ow"))
    frac = edges.join(out_w, src_col).select(
        F.col(src_col),
        F.col(dst_col),
        (F.col(weight_col).cast("double") / F.col("__ow")).alias("__f"),
    )
    ranks = nodes.join(F.broadcast(n)).select(
        F.col(node_col),
        F.round(F.lit(1.0) / F.col("__n"), 8).alias("__r"),
    )
    for _ in range(iterations):
        contrib = (
            frac.join(
                F.broadcast(ranks), frac[src_col] == ranks[node_col]
            )
            .groupBy(dst_col)
            .agg(F.sum(F.col("__f") * F.col("__r")).alias("__c"))
        )
        ranks = (
            nodes.join(
                F.broadcast(contrib),
                nodes[node_col] == contrib[dst_col],
                "left",
            )
            .join(F.broadcast(n))
            .select(
                F.col(node_col),
                F.round(
                    (1.0 - damping) / F.col("__n")
                    + damping * F.coalesce("__c", F.lit(0.0)),
                    8,
                ).alias("__r"),
            )
        )
    return ranks.select(
        F.col(node_col), F.round("__r", 6).alias("pagerank")
    )


def event_transition_pagerank(
    events: DataFrame,
    *,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the event-type TRANSITION graph: edge (a → b)
    weighted by how often an event of type ``b`` directly follows one
    of type ``a`` within the same user's stream (ordered by ts, then
    event_id for determinism).  The heavy lifting is the edge build —
    one window pass over the full event log (partitioned by user, so
    it parallelizes and never materializes a global sort) plus one
    combined aggregation; the rank iterations then run on the tiny
    type graph.  Centrality over billions of raw events for the cost
    of one shuffle: the 100 TB shape.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        events.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = events.select(
        F.col("event_type").alias("node")
    ).dropDuplicates()
    return pagerank(
        edges, nodes, iterations=iterations, damping=damping
    )


def triangle_participation(
    edges: DataFrame,
    *,
    src_col: str = "id1",
    dst_col: str = "id2",
) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list — the
    transitivity audit for near-dup graphs: a dedup cluster whose
    members are pairwise-similar is triangle-dense, while a
    low-triangle component is a CHAIN (a~b~c with a,c dissimilar) —
    exactly where single-threshold pair dedup over- or under-merges
    and where LSH recall gaps hide. Classic MapReduce formulation
    (Suri & Vassilvitskii, WWW'11): orient every edge low→high id, so
    each triangle {a<b<c} is counted exactly once as the path
    (a→b, b→c) closed by (a→c).

    Two self-joins of the oriented edge list — the first keyed on the
    shared middle vertex, the second verifying the closing edge; both
    equi-joins, map-side combinable counting after. Near-dup graphs
    bound triangle fan-out by cluster size; for general graphs the
    standard high-degree mitigation (degree-ordered orientation) is
    the same join shape keyed on (degree, id) order.

    Output: (doc_id, n_triangles) for every vertex in ≥1 triangle.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .dropDuplicates()
    )
    path = (
        e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .join(
            e.select(F.col("u").alias("b"), F.col("v").alias("c")), "b"
        )
    )
    tri = path.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("c")),
        ["a", "c"],
    )
    return (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def kcore_embedding_graph(
    embeddings: DataFrame,
    *,
    k: int = 5,
    core_k: int = 3,
    rounds: int = 16,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``core_k``-core of the MUTUAL-kNN embedding graph — the dense
    semantic neighborhoods of a corpus: templated/boilerplate regions
    and oversampled modes survive the peel, one-off documents do not.
    Mutual-kNN (edge iff each endpoint is in the other's top-``k``)
    is the standard densification filter before the core
    decomposition; plain kNN gives every node out-degree k and makes
    the k-core vacuous.

    Peeling (Matula & Beck's iterative-removal k-core): repeatedly
    drop nodes with degree < ``core_k`` until a fixpoint. Each round
    aggregates per-node degree from the CURRENT edge list (map-side
    combined — the exchange carries node partials, not edges) and
    semi-joins the surviving-node set back against both endpoints;
    edges shrink monotonically and lineage is cut per round with
    ``localCheckpoint`` like :func:`connected_components`. ``rounds``
    is a FIXED upper bound that is part of the operator contract:
    both this implementation and the SQL oracle execute exactly
    min(rounds, convergence) effective peels — after the fixpoint
    further rounds are no-ops on both sides, so results agree at any
    ``rounds``; pick it ≥ the observed peel depth (8 on the synthetic
    corpus) for the true core.

    Scale shape: the mutual-kNN edge list is ≤ n·k rows (built from
    the distributed blocked-GEMM :func:`~etl_gcp_spark.functions.
    similarity.knn_graph` — no all-pairs materialization), and every
    peel round is linear in surviving edges. The early exit fires on
    an unchanged edge count — valid because peeling is monotone.

    Output: (id, core_degree) for nodes in the core — degree counted
    within the final core subgraph.
    """
    from etl_gcp_spark.functions.similarity import knn_graph

    knn = knn_graph(
        embeddings, k=k, n_blocks=n_blocks, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("a"), F.col("nbr_id").alias("b"))
    mutual = (
        knn.alias("x")
        .join(
            knn.alias("y"),
            (F.col("x.a") == F.col("y.b")) & (F.col("x.b") == F.col("y.a")),
        )
        .select(F.col("x.a").alias("u"), F.col("x.b").alias("v"))
        .filter(F.col("u") < F.col("v"))
    )
    edges = (
        mutual.select("u", "v")
        .union(mutual.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    for _ in range(rounds):
        # degree via map-side-combined aggregation + two semi-joins on
        # the surviving-node set, NOT two windows over the edge list:
        # the windows shuffled and sorted the FULL edge list twice per
        # round, while the degree table is one node-sized partial-agg
        # exchange and the semi-joins broadcast it whenever it fits
        # (AQE decides from runtime size; at cluster scale they
        # degrade to the same two edge exchanges the windows always
        # paid, minus the sorts). The edge list is symmetric, so
        # groupBy("u") counts every node's full incident degree.
        alive = (
            edges.groupBy("u")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") >= core_k)
            .select("u")
        )
        edges = (
            edges.join(alive, "u", "semi")
            .join(alive.select(F.col("u").alias("v")), "v", "semi")
            .localCheckpoint(eager=False)
        )
        n_next = edges.count()
        if n_next == n_edges:
            break
        n_edges = n_next
    return edges.groupBy("u").agg(
        F.count(F.lit(1)).alias("core_degree")
    ).select(F.col("u").alias(id_col), "core_degree")


def ensemble_near_dup_clusters(
    documents: DataFrame,
    embeddings: DataFrame,
    *,
    jaccard_threshold: float = 0.8,
    cosine_threshold: float = 0.45,
    n: int = 3,
    n_blocks: int = 8,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Multi-signal duplicate clustering: union the LEXICAL edge set
    (exact n-gram Jaccard pairs) with the SEMANTIC edge set
    (embedding-cosine pairs), close the combined graph into connected
    components, and label every document. Lexical-only dedup misses
    paraphrases; embedding-only dedup misses verbatim copies whose
    embeddings drifted (truncation, encoder version skew) — a
    production curation pass runs both and dedups on the union,
    which is exactly this closure (a doc chained to a lexical twin
    AND a semantic twin pulls all three into one cluster).

    Both edge generators here are the exact, oracle-replayable
    variants (AllPairs inverted index; distributed blocked GEMM — no
    broadcast-fit requirement); at 100 TB swap in their banded
    siblings (``minhash_lsh_pairs``, SRP-LSH) — the union/closure
    plumbing is generator-agnostic. Assumes the corpus keys docs and
    vectors in ONE id space (doc_id ≡ vec_id), the convention of the
    synthetic tables; pass a mapping join upstream otherwise.

    Output: (doc_id, cluster_id, cluster_size) over ALL documents —
    singletons keep themselves; keep-one-per-cluster dedup is
    ``filter(doc_id == cluster_id)``.
    """
    from etl_gcp_spark.functions.similarity import (
        blocked_exact_near_dup_pairs,
    )
    from etl_gcp_spark.operators.text_dedup import ngram_jaccard_pairs

    lex = ngram_jaccard_pairs(
        documents, threshold=jaccard_threshold, n=n, id_col=doc_id_col
    ).select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    sem = blocked_exact_near_dup_pairs(
        embeddings,
        threshold=cosine_threshold,
        n_blocks=n_blocks,
        id_col=vec_id_col,
    ).select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    edges = lex.union(sem)
    comp = connected_components(
        documents.select(F.col(doc_id_col).alias("id")),
        edges,
        id_col="id",
    )
    w = Window.partitionBy("component")
    return comp.select(
        F.col("id").alias(doc_id_col),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )
