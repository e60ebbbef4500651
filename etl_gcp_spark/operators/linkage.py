"""Record linkage: fuzzy string matching with mask-key blocking.

Naive fuzzy join is levenshtein over the full cross product —
O(n²·L²), the first thing that dies at corpus scale. The first fix
tried here was positional-SEGMENT pigeonhole blocking (split into
d+1 segments, join on any equal segment): correct, but degenerate on
identifier-like data — a constant prefix ("Customer#…") makes one
segment value global, and that single block regenerates the full
cross product (measured: fine at 1.5K rows, non-terminating at 15K).

The shipped scheme is the deletion/mask neighborhood (SymSpell
lineage): for distance 1 on equal-length strings, emit L keys per
row — the string with position i masked out, for every i. Two
strings within one SUBSTITUTION share the masked variant at the
substituted position (identical strings share all L of them), so an
equi-join on (position, masked) is complete, and each block holds
only strings identical everywhere else — block size ≈ alphabet
size, independent of n and of shared prefixes/suffixes. Cost is a
deliberate space-for-fanout trade: L rows per input (linear, scan-
local) instead of data-dependent quadratic blocks.

Levenshtein 1 between equal-length strings is exactly one
substitution (an indel pair would cost 2), so substitution
completeness IS levenshtein completeness at d=1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def mask_key_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __t, __k): every single-character masking of ``text_col``
    as an 8-byte blocking key — the d=1 blocking index (same-length
    lev≤1 ⟺ the two strings share a masked variant ⟺ Hamming ≤ 1).
    Shared by :func:`fuzzy_pairs` (in-memory self-join) and
    :func:`entity_clusters_increment_audit` (persisted, append-
    maintained).

    ``__k = xxhash64(pos, prefix, suffix)`` — hash-tuple equality is
    exactly masked-string equality (same position, same bytes around
    it; equal suffix strings force equal lengths), but the key is a
    LONG, not a position + an L-char string: the self-join exchange
    carries 8 bytes per key instead of ~L+4, and the persisted
    blocking index shrinks the same way (the minhash/deletes-scheme
    trick — measured 30% off fuzzy_pairs and a smaller artifact). A
    hash collision can only ADD a candidate pair, which the exact
    bounded-levenshtein verification downstream rejects — recall is
    unaffected. The string and its length are materialized BEFORE the
    lambda indexes them (interpreted lambda bodies re-evaluate inline
    subexpressions per element — see text_dedup.with_shingles); no
    masked string is ever BUILT — the hash consumes (pos, prefix,
    suffix) directly, skipping the concat allocation per variant."""
    base = df.select(
        F.col(id_col), F.col(text_col).alias("__t"), F.length(text_col).alias("__n")
    )
    return base.select(
        F.col(id_col),
        F.col("__t"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("__n")),
                lambda i: F.xxhash64(
                    i,
                    F.col("__t").substr(F.lit(1), i - 1),
                    F.col("__t").substr(i + 1, F.col("__n")),
                ),
            )
        ).alias("__k"),
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_distance: int = 1,
) -> DataFrame:
    """(id1, id2, distance) for same-length value pairs within
    levenshtein ``max_distance`` (currently 1 — the airtight case).

    One explode (L rows per input), one equi-join on the 8-byte
    masked-variant hash, one pair-dedup, exact ``levenshtein`` on the
    surviving candidates only.

    ``max_distance=2`` switches to the full deletion-neighborhood
    scheme (:func:`fuzzy_pairs_deletes`), which also covers
    insert/delete edits the d=1 mask scheme cannot see.
    """
    if max_distance == 2:
        return fuzzy_pairs_deletes(
            df, id_col, text_col, max_distance=2
        )
    if max_distance != 1:
        raise NotImplementedError(
            "mask-key blocking covers max_distance=1 and the deletion "
            "neighborhood covers 2; for coarser matching use "
            "text_dedup.ngram_jaccard_pairs"
        )
    masked = mask_key_index(df, id_col, text_col)
    a = masked.select(
        F.col(id_col).alias("id1"), F.col("__t").alias("t1"), "__k"
    )
    b = masked.select(
        F.col(id_col).alias("id2"), F.col("__t").alias("t2"), "__k"
    )
    # Shape note (measured at sf0.1, best-of-3): the subset dedup
    # here DOES desugar to first(t1)/first(t2) ObjectHashAggregate,
    # but mask-key blocks are ~alphabet-sized so candidate volume is
    # tiny and the texts riding the dedup cost ~nothing (1.5 s).
    # Both "optimizations" tried against it measured WORSE: computing
    # levenshtein per candidate occurrence before a full-row distinct
    # (the simhash_pairs trick) pays the O(L²) DP up to L times per
    # pair (2.9 s); deduping bare (id1,id2) then re-attaching texts
    # adds two joins (2.2 s). Keep the straightforward form. (r10:
    # joining on the 8-byte variant HASH instead of (pos, mkey)
    # measured 2.84→1.98 s on the same protocol, results identical —
    # see mask_key_index.)
    return (
        a.join(b, ["__k"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "t1", "t2")
        .dropDuplicates(["id1", "id2"])
        # bounded 3-arg levenshtein: early-exit DP (see
        # fuzzy_pairs_deletes); -1 = above the bound
        .withColumn(
            "distance",
            F.levenshtein(F.col("t1"), F.col("t2"), max_distance).cast(
                "int"
            ),
        )
        .filter(F.col("distance") >= 0)
        .select("id1", "id2", "distance")
    )


def fuzzy_pairs_deletes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_distance: int = 2,
) -> DataFrame:
    """(id1, id2, distance) for value pairs within levenshtein
    ``max_distance`` (≤ 2) via the SymSpell deletion neighborhood.

    Blocking key set per string = every subsequence reachable by
    deleting up to ``d`` characters (the string itself, L delete-1
    variants, L·(L−1)/2 delete-2 variants). Two strings within
    levenshtein d always share at least one such key (Garbe's
    SymSpell invariant — public algorithm), so an equi-join on the
    key is COMPLETE; sharing a key only bounds distance by 2d, so
    survivors are verified with exact ``levenshtein``. Unlike the
    d=1 positional-mask scheme this also finds insert/delete pairs
    (different-length strings).

    Scale shape: key fan-out is 1 + L + C(L,2) per row — linear in n,
    quadratic only in the (bounded, small) string length; the shuffle
    carries (key, id) after the candidate projection, the pair dedup
    is a full-row codegen distinct on bare (id1, id2), and texts
    re-attach afterwards by two joins. At d=2's fan-out the bare-pair
    dedup wins over carrying texts through it — the OPPOSITE of the
    measured d=1 trade (see fuzzy_pairs' shape note): pair-occurrence
    multiplicity grows with the key count, so the narrow exchange
    matters more than the two extra joins.
    """
    if max_distance > 2:
        raise NotImplementedError(
            "deletion-neighborhood blocking is implemented for "
            "max_distance <= 2 (key fan-out grows as C(L, d))"
        )
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.length(text_col).alias("__n"),
    )
    t, n = F.col("__t"), F.col("__n")

    def _del1(i):
        return F.concat(t.substr(F.lit(1), i - 1), t.substr(i + 1, n))

    def _del2(i, j):
        # delete positions i < j: [1, i) + (i, j) + (j, L]
        return F.concat(
            t.substr(F.lit(1), i - 1),
            t.substr(i + 1, j - i - 1),
            t.substr(j + 1, n),
        )

    d0 = F.array(t)
    # guards: F.sequence(1, 0) generates a DESCENDING sequence, not
    # an empty one — empty-array fallbacks keep short strings safe
    d1 = F.when(
        n >= 1, F.transform(F.sequence(F.lit(1), n), _del1)
    ).otherwise(F.array().cast("array<string>"))
    d2 = F.when(
        n >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, n), lambda j: _del2(i, j)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    keys = F.array_distinct(F.concat(d0, d1, d2))
    # join on xxhash64 of the key, not the ~L-char string: the block
    # join shuffles 8-byte longs (the minhash trick — measured there
    # 4.4 s → 2.6 s). A hash collision only ADDS a candidate pair,
    # which the exact bounded-levenshtein verification then rejects.
    # persisted: BOTH join sides reference the keyed frame, and the
    # interpreted delete-variant construction (~C(L,2) lambda evals
    # per row) would otherwise run twice (measured 0.7 s per pass at
    # 3K rows). The pin is narrow — (id, 8-byte hash) only.
    keyed = base.select(
        F.col(id_col),
        F.explode(
            F.transform(keys, lambda k: F.xxhash64(k))
        ).alias("__k"),
    ).persist()
    pairs = (
        keyed.select(F.col(id_col).alias("id1"), "__k")
        .join(keyed.select(F.col(id_col).alias("id2"), "__k"), "__k")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates()
    )
    from etl_gcp_spark.caching import tag_pinned

    texts = base.select(id_col, "__t")
    return tag_pinned(
        pairs.join(
            texts.select(
                F.col(id_col).alias("id1"), F.col("__t").alias("__t1")
            ),
            "id1",
        )
        .join(
            texts.select(
                F.col(id_col).alias("id2"), F.col("__t").alias("__t2")
            ),
            "id2",
        )
        # BOUNDED levenshtein (3-arg, Spark >= 3.5): the DP early-exits
        # once the distance exceeds the threshold — O(d·L) per pair
        # instead of O(L²), and the candidate volume is where a dense
        # key space (sequential ids) spends its time. Returns -1 above
        # the bound, so the filter keeps [0, d].
        .withColumn(
            "distance",
            F.levenshtein(
                F.col("__t1"), F.col("__t2"), max_distance
            ).cast("int"),
        )
        .filter(F.col("distance") >= 0)
        .select("id1", "id2", "distance"),
        keyed,
    )


def entity_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_distance: int = 1,
) -> DataFrame:
    """End-to-end entity resolution: fuzzy-match pairs → transitive
    closure → one canonical entity id per group. The record-linkage
    composition a master-data/dedup pipeline actually runs — pairwise
    matching alone leaves a~b, b~c as two facts; the entity is the
    component {a,b,c}, labeled by its minimum member id.

    Composes two verified pieces: the mask-key blocked
    :func:`fuzzy_pairs` (linear candidate generation) and the
    local-contraction closure
    :func:`~etl_gcp_spark.operators.graph.connected_components`,
    which takes the full record set as its vertex universe (unmatched
    records come out as singletons, no splice).

    Output: (id, entity_id, entity_size) for every input row.
    """
    from etl_gcp_spark.caching import unpersist_pinned
    from etl_gcp_spark.operators.graph import cluster_labels

    pairs = fuzzy_pairs(df, id_col, text_col, max_distance=max_distance)
    out = cluster_labels(df, pairs, id_col, prefix="entity")
    # the closure ran eagerly and already read the pairs: drop the
    # blocking index they pinned
    unpersist_pinned(pairs)
    return out


def probe_new_edges(
    keys: DataFrame,
    idx: DataFrame,
    id_col: str,
    *,
    max_distance: int = 1,
) -> DataFrame:
    """(id1, id2) verified lev ≤ ``max_distance`` pairs from probing
    a persisted :func:`mask_key_index` frame (``idx``) with another
    key frame (``keys``): equi-join on the 8-byte masked-variant hash
    ``__k``, canonicalize to (least, greatest), dedup, then the
    bounded-levenshtein verify (hash collisions only add candidates,
    which the verify rejects). SHARED by the incremental audit and
    the streaming ingest — the stream-equals-batch invariant rests on
    the two paths generating identical edges, so they must run the
    same code (review r7)."""
    probe = keys.select(
        F.col(id_col).alias("__pid"),
        F.col("__t").alias("__pt"),
        "__k",
    )
    return (
        probe.join(idx, ["__k"])
        .filter(F.col("__pid") != F.col(id_col))
        .select(
            F.least("__pid", id_col).alias("id1"),
            F.greatest("__pid", id_col).alias("id2"),
            F.col("__pt").alias("t1"),
            F.col("__t").alias("t2"),
        )
        .dropDuplicates(["id1", "id2"])
        .filter(
            F.levenshtein(F.col("t1"), F.col("t2"), max_distance) >= 0
        )
        .select("id1", "id2")
    )


def contracted_merge(edges: DataFrame, lblmap: DataFrame) -> DataFrame:
    """Close new edges on the CONTRACTED graph: endpoints collapse to
    their current labels (``lblmap``: (__n, __l); endpoints absent
    from it keep their own id), then the local-contraction kernel
    closes the contracted edges. Returns (node = old label, component
    = merged min) for every contracted node whose label CHANGES; any
    other label stays as it is. Because every label is the min member
    id of its component, the merged component's min over {labels,
    new ids} IS the global min member id — the invariant both the
    audit and the streaming ingest rely on. SHARED for the same
    reason as :func:`probe_new_edges`."""
    from etl_gcp_spark.operators.graph import component_map

    cedges = (
        edges.join(lblmap, edges["id1"] == lblmap["__n"], "left")
        .select(F.coalesce("__l", "id1").alias("u"), F.col("id2"))
        .join(lblmap, F.col("id2") == lblmap["__n"], "left")
        .select("u", F.coalesce("__l", "id2").alias("v"))
    )
    label_type = cedges.schema["u"].dataType
    return component_map(cedges, src_col="u", dst_col="v").select(
        "node", F.col("root").cast(label_type).alias("component")
    )


def entity_clusters_increment_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    *,
    delta_mod: int = 10,
    max_distance: int = 1,
) -> DataFrame:
    """Incremental connected-components maintenance audit — the graph
    side of the build→append→audit story the index family already
    tells (:func:`~etl_gcp_spark.operators.text_dedup.
    dedup_index_maintenance_audit`): prove that APPEND-MAINTAINED
    entity labels equal a full re-clustering, so an operations team
    can label a daily record delta without re-closing the whole
    graph.

    Snapshot 0 (``id % delta_mod != 0``) is clustered from scratch
    and its d=1 mask-key blocking index (:func:`mask_key_index`) is
    PERSISTED; the delta appends its mask keys as new files (the
    existing index is never read back or rewritten — O(|delta|·L)
    maintenance). New edges come from probing the persisted index
    with the delta's keys only (delta↔base and delta↔delta; base↔base
    pairs cannot appear in a probe whose left side is the delta, and
    the base leg already closed them). Label merge then runs on the
    CONTRACTED graph: every base endpoint collapses to its base-leg
    entity label (= min member id), so the iterative closure touches
    |delta| + |affected components| supernodes instead of the full
    vertex set — the property that makes daily maintenance viable at
    corpus scale. Because a merged component's final label is the
    min over {base labels, delta ids} = the global min member id,
    the incremental labels are IDENTICAL to the full recompute's by
    construction — ``n_only_incr``/``n_only_full`` are structural
    zeros, and a nonzero is a maintenance bug, not noise.

    One summary row (all exact BIGINT): n_base, n_delta,
    n_delta_edges, n_entities_full, n_entities_incr, n_only_incr,
    n_only_full, n_entities_touching_delta. The index write is
    metered as a build phase so bench reports the audit's serve cost
    separately.
    """
    from pyspark.sql import Window

    from etl_gcp_spark import metering
    from etl_gcp_spark.caching import tag_pinned

    if max_distance != 1:
        raise NotImplementedError(
            "the persisted blocking index is the d=1 mask scheme; "
            "deeper edits need the deletion-neighborhood index"
        )
    spark = df.sparkSession
    base = df.filter(F.col(id_col) % delta_mod != 0)
    delta = df.filter(F.col(id_col) % delta_mod == 0)

    keys_dir = f"{index_dir}/maskkeys"
    with metering.phase("build"):
        mask_key_index(base, id_col, text_col).write.mode(
            "overwrite"
        ).parquet(keys_dir)
        mask_key_index(delta, id_col, text_col).write.mode(
            "append"
        ).parquet(keys_dir)

    # probe the PERSISTED index with the delta's keys only
    idx = spark.read.parquet(keys_dir)
    new_edges = probe_new_edges(
        mask_key_index(delta, id_col, text_col),
        idx,
        id_col,
        max_distance=max_distance,
    ).persist()

    # the base clustering is the pre-existing production artifact
    # (built BEFORE any delta arrives) — meter it as build, matching
    # the erasure twin's discipline. Construction inside the phase:
    # the closure's contraction rounds run eagerly via localCheckpoint
    # (operators/graph.py), so a count-only phase meters ~nothing.
    with metering.phase("build"):
        base_ec = entity_clusters(
            base, id_col, text_col, max_distance=max_distance
        ).persist()
        base_ec.count()

    # contract: base endpoints collapse to their base-leg label
    lblmap = base_ec.select(
        F.col(id_col).alias("__n"), F.col("entity_id").alias("__l")
    )
    merged = contracted_merge(new_edges, lblmap).select(
        F.col("node"), F.col("component")
    )

    # final incremental labels: untouched nodes keep their label,
    # touched ones remap through the contracted closure
    incr_delta = (
        delta.select(F.col(id_col))
        .join(merged, F.col(id_col) == merged["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", id_col).alias("entity_id"),
        )
    )
    incr_base = (
        base_ec.select(id_col, "entity_id")
        .join(merged, F.col("entity_id") == merged["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", "entity_id").alias("entity_id"),
        )
    )
    incr = (
        incr_delta.unionByName(incr_base)
        .select(
            id_col,
            "entity_id",
            F.count("*")
            .over(Window.partitionBy("entity_id"))
            .cast("bigint")
            .alias("entity_size"),
        )
        .persist()
    )
    # the from-scratch re-clustering is the audit's VERIFICATION leg
    # — meter it as `verify` so serve_sec reflects the incremental
    # maintenance path only (VERDICT r7 item 4); construction inside
    # the phase (eager closure, see the build note)
    with metering.phase("verify"):
        full = entity_clusters(
            df, id_col, text_col, max_distance=max_distance
        ).persist()
        full.count()

    def _count(frame, name):
        return frame.agg(F.count(F.lit(1)).cast("long").alias(name))

    def _cnt_distinct(frame, col, name):
        return frame.agg(
            F.count_distinct(F.col(col)).cast("long").alias(name)
        )

    out = (
        _count(base, "n_base")
        .crossJoin(_count(delta, "n_delta"))
        .crossJoin(_count(new_edges, "n_delta_edges"))
        .crossJoin(_cnt_distinct(full, "entity_id", "n_entities_full"))
        .crossJoin(_cnt_distinct(incr, "entity_id", "n_entities_incr"))
        .crossJoin(_count(incr.exceptAll(full), "n_only_incr"))
        .crossJoin(_count(full.exceptAll(incr), "n_only_full"))
        .crossJoin(
            _cnt_distinct(
                incr.filter(F.col(id_col) % delta_mod == 0),
                "entity_id",
                "n_entities_touching_delta",
            )
        )
    )
    return tag_pinned(out, new_edges, base_ec, incr, full)


def entity_clusters_erasure_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    erase_mod: int = 7,
    max_distance: int = 1,
) -> DataFrame:
    """Deletion-maintenance audit for entity labels — the HARD
    direction of incremental connected components, completing the
    graph family's lifecycle (build → increment → stream → compact →
    ERASE) in parity with the index families' tombstone erasure:
    deleting a record can SPLIT its component (a bridge node held it
    together) and can steal its label (the min member id was the
    erased record), so unlike the append case no contracted merge
    suffices. The maintenance rule an operations team needs proven:

    1. affected components = the erased records' labels (one
       semi-join against the label store);
    2. every OTHER component keeps its labels untouched — no erased
       member means identical membership and an identical min id;
    3. the affected components' SURVIVORS are re-clustered among
       themselves only. This is complete because transitive closure
       made components edge-closed: deletion cannot create edges, so
       no survivor can join a different component.

    Maintenance work is therefore O(|affected components|), not
    O(corpus): only the touched survivors' edges re-close. The
    audit compares against a full re-clustering of all survivors —
    labels are equal BY CONSTRUCTION (each piece's new label is its
    min surviving member id, which is what the full recompute assigns
    too), so ``n_only_incr``/``n_only_full`` are structural zeros and
    a nonzero is a maintenance bug, not noise.

    Deletion maintenance never re-blocks: a production linkage system
    persists its match edges (the match store), and since deletion
    cannot CREATE edges, the stored pair set filtered to survivors is
    complete for any erasure. The maintenance leg here is therefore
    pure closure work — filter the match store to the affected
    components' surviving edges and re-close that subgraph — while
    blocking runs ONCE (to build the store), not once per leg.

    One summary row (all exact BIGINT): n_records, n_erased,
    n_entities_before, n_entities_after, n_affected_components,
    n_split_components (affected components whose survivors landed in
    ≥2 entities — the bridge-deletion signature), n_only_incr,
    n_only_full.
    """
    from etl_gcp_spark import metering
    from etl_gcp_spark.caching import tag_pinned
    from etl_gcp_spark.operators.graph import cluster_labels

    # the match store + label store: blocked and closed ONCE (in
    # production both are persisted artifacts that exist BEFORE any
    # erasure arrives, so their materialization meters as build —
    # bench reports the maintenance+verification cost separately).
    # The phase wraps CONSTRUCTION, not just the count: the closure's
    # contraction rounds run EAGERLY via localCheckpoint at build-plan
    # time (operators/graph.py), so a count-only phase would meter
    # almost nothing (measured: 19 s of closure billed to serve).
    with metering.phase("build"):
        pairs_all = fuzzy_pairs(
            df, id_col, text_col, max_distance=max_distance
        ).persist()
        base_ec = cluster_labels(
            df, pairs_all, id_col, prefix="entity"
        ).persist()
        pairs_all.count()
        base_ec.count()
    erased = df.filter(F.col(id_col) % erase_mod == 0).select(id_col)
    remaining = df.filter(F.col(id_col) % erase_mod != 0)
    surv_pairs = pairs_all.filter(
        (F.col("id1") % erase_mod != 0) & (F.col("id2") % erase_mod != 0)
    )

    affected = (
        base_ec.join(erased, id_col)
        .select("entity_id")
        .dropDuplicates()
    )
    untouched = base_ec.join(
        F.broadcast(affected), "entity_id", "left_anti"
    ).select(id_col, "entity_id")
    touched_ids = (
        base_ec.join(F.broadcast(affected), "entity_id")
        .join(erased, id_col, "left_anti")
        .select(id_col)
    )
    # maintenance: re-close ONLY the affected components' surviving
    # edges (both endpoints of any affected-component edge live in
    # that component, so one endpoint semi-join selects them all)
    touched_pairs = surv_pairs.join(
        touched_ids.withColumnRenamed(id_col, "id1"), "id1"
    )
    touched_survivors = df.join(touched_ids, id_col)
    re_ec = cluster_labels(
        touched_survivors, touched_pairs, id_col, prefix="entity"
    ).persist()

    incr = (
        untouched.unionByName(re_ec.select(id_col, "entity_id"))
        .select(
            id_col,
            "entity_id",
            F.count("*")
            .over(Window.partitionBy("entity_id"))
            .cast("bigint")
            .alias("entity_size"),
        )
        .persist()
    )
    # the full re-clustering of all survivors exists ONLY to prove
    # the maintenance rule — it is not a serving or maintenance path,
    # so its closure meters as `verify` (VERDICT r7 item 4: without
    # this the audit's serve_sec read ~19 s of verification cost and
    # a real serve regression would drown in it). Construction sits
    # INSIDE the phase — the closure rounds are eager (see the build
    # phase note above).
    with metering.phase("verify"):
        full = cluster_labels(
            remaining, surv_pairs, id_col, prefix="entity"
        ).persist()
        full.count()

    def _count(frame, name):
        return frame.agg(F.count(F.lit(1)).cast("long").alias(name))

    def _cnt_distinct(frame, col, name):
        return frame.agg(
            F.count_distinct(F.col(col)).cast("long").alias(name)
        )

    survivors_base = base_ec.select(
        id_col, F.col("entity_id").alias("__base_eid")
    ).join(incr.select(id_col, "entity_id"), id_col)
    split = (
        survivors_base.groupBy("__base_eid")
        .agg(F.count_distinct("entity_id").alias("__n_after"))
        .filter(F.col("__n_after") >= 2)
    )
    out = (
        _count(df, "n_records")
        .crossJoin(_count(erased, "n_erased"))
        .crossJoin(
            _cnt_distinct(base_ec, "entity_id", "n_entities_before")
        )
        .crossJoin(_cnt_distinct(incr, "entity_id", "n_entities_after"))
        .crossJoin(
            _cnt_distinct(
                base_ec.join(erased, id_col),
                "entity_id",
                "n_affected_components",
            )
        )
        .crossJoin(_count(split, "n_split_components"))
        .crossJoin(_count(incr.exceptAll(full), "n_only_incr"))
        .crossJoin(_count(full.exceptAll(incr), "n_only_full"))
    )
    return tag_pinned(out, pairs_all, base_ec, re_ec, incr, full)


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    *,
    window: int = 3,
    max_distance: int = 2,
    bucket_expr: Column | None = None,
    bucket_prefix_len: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1997) — the
    OTHER classic linkage blocking strategy, complementing this
    module's deletion/mask neighborhood: sort records on a key,
    compare only rows within ``window`` positions. Where the mask
    scheme guarantees completeness at d=1 substitution, SN catches
    arbitrary-edit near keys whose sorted forms land adjacent —
    transposed digits, truncated tails — at linear candidate cost
    (≤ window per row).

    Distributed shape: the sort is PARTITIONED by a bucket key
    (default: the key's ``bucket_prefix_len``-char prefix; pass
    ``bucket_expr`` to override) so every rank window runs parallel
    and no global single-partition sort exists. Pairs whose members
    land in different buckets are missed BY DESIGN — published SN is
    a MULTI-PASS method (re-run with a different sort key / bucket;
    the mask pass here plays that role), not a standalone complete
    blocker. Candidates are verified with exact ``levenshtein`` and
    only pairs ≤ ``max_distance`` emit.

    Output: (id1, id2, key1, key2, distance), id1 preceding id2 in
    sort order. NULL keys are excluded (they cannot rank).
    """
    # sequence(1, 0) is DESCENDING [1, 0] — offset 0 would self-pair
    # every row at distance 0 instead of yielding the empty result the
    # old rn2 > rn1 filter gave (same footgun fuzzy_pairs_deletes
    # documents); negative windows are worse. Refuse the degenerate
    # case loudly.
    if int(window) < 1:
        raise ValueError(
            f"sorted_neighborhood_pairs: window must be >= 1, got {window}"
        )
    keyed = df.filter(F.col(key_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(key_col).alias("key")
    )
    bkt = (
        bucket_expr
        if bucket_expr is not None
        else F.substring("key", 1, bucket_prefix_len)
    )
    w = Window.partitionBy("bkt").orderBy("key", "id")
    r = keyed.withColumn("bkt", bkt).withColumn(
        "rn", F.row_number().over(w)
    )
    # EQUI-join on the neighbor's exact rank, not a bucket join
    # post-filtered on rank distance: a.join(b, "bkt") materializes
    # Σ|bucket|² intermediate rows before the rank filter prunes them
    # (low-cardinality bucket expressions make that quadratic — the
    # sf0.1 customer prefix yields TWO buckets, ~125M pairs), while
    # exploding the ``window`` offsets on the left side and joining on
    # (bkt, rn1+off = rn2) generates exactly window·n candidates
    # (r10; measured 5.0 s → 0.7 s, identical output).
    a = (
        r.select(
            F.col("bkt"),
            F.col("id").alias("id1"),
            F.col("key").alias("key1"),
            F.col("rn").alias("rn1"),
        )
        .withColumn(
            "__off", F.explode(F.sequence(F.lit(1), F.lit(int(window))))
        )
        .withColumn("rn2", F.col("rn1") + F.col("__off"))
        .drop("__off")
    )
    b = r.select(
        F.col("bkt"),
        F.col("id").alias("id2"),
        F.col("key").alias("key2"),
        F.col("rn").alias("rn2"),
    )
    return (
        a.join(b, ["bkt", "rn2"])
        # bounded 3-arg levenshtein: early-exit DP, O(d·L) per pair;
        # -1 = above the bound, so >= 0 keeps [0, max_distance] with
        # values identical to the unbounded form for every kept row
        .withColumn(
            "distance",
            F.levenshtein("key1", "key2", int(max_distance)).cast("long"),
        )
        .filter(F.col("distance") >= 0)
        .select("id1", "id2", "key1", "key2", "distance")
    )
