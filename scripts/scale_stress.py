"""Scale-stress harness for the dedup/similarity family.

The sf0.1 bench can hide superlinear behavior (candidate blowup,
driver-side joins, per-round shuffle growth): this script synthesizes
a deterministic corpus at 1x and Nx (default 10x) the sf0.1 shape —
documents with planted exact/near duplicates, embeddings with planted
high-cosine neighbors — and times the SCALE-PATH operators on both:

    minhash_lsh_pairs          (banding + exact verify)
    blocked_exact_near_dup_pairs (distributed blocked GEMM)
    dedup_clusters             (LSH edges + local-contraction CC)
    curation_funnel            (filter -> exact dedup -> LSH near-dup)

For each operator it reports wall seconds at both sizes and the
observed scaling exponent  log(t_N / t_1) / log(N)  — ~1 is linear,
2 is quadratic. The verdict asserts every exponent < 1.7 (sub-
quadratic with headroom for fixed overheads at the small size, which
bias the exponent UP: constant costs inflate t_1's denominator share).

Determinism: numpy seed 42 everywhere, same generator at both sizes
(the 1x corpus is NOT sf0.1 itself, so both points share structure).
Output: one JSON line + SCALE_STRESS.json at the repo root.

Usage: python scripts/scale_stress.py [--scale 10] [--out .scale_stress]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VOCAB = (
    "the a fast slow row table agg key merge vector customer order group "
    "sort filter query window hash big small stream batch data join scan "
    "spark line column part value"
).split()

BASE_DOCS = 5_000        # sf0.1 documents rows
BASE_VECS = 2_000        # sf0.1 embeddings rows
BASE_ENTS = 1_500        # sf0.01 customer rows (entity-stream check)
DIM = 64
EXACT_DUP_FRAC = 0.02    # planted exact text duplicates
NEAR_DUP_FRAC = 0.04     # planted ~5%-token-mutated near duplicates
VEC_DUP_FRAC = 0.01      # planted high-cosine embedding neighbors


BOILERPLATE = "click here now"  # tokens deliberately OUTSIDE the vocab


def gen_documents(
    n: int, rng: np.random.Generator, *, boilerplate_frac: float = 0.0
):
    """(doc_id, text, lang, source, n_chars) rows with planted dups.

    Vocabulary SCALES with the corpus (real corpora grow vocabulary
    roughly with size): a fixed 30-word vocab at 10× would push every
    shingle's document frequency 10× too — a density no web corpus
    has — which both voids DF-capped operators (0 candidates) and
    makes posting joins artificially quadratic. Suffixed copies of
    the base vocab keep token-length/shape identical at both sizes.

    ``boilerplate_frac`` plants a Zipf-style HEAVY HITTER: the same
    3-token boilerplate snippet inserted into that fraction of the
    base docs, giving one trigram shingle a document frequency of
    ~30% of the corpus (cookie banners / nav chrome at web scale).
    An uncapped posting join on that shingle alone is (0.3n)² pairs —
    the skewed pass exists to prove the DF caps and banding keep the
    LSH/containment family sub-quadratic anyway.
    """
    vocab = np.array(
        [f"{w}{k}" if k else w for k in range(max(1, n // 5000)) for w in VOCAB]
    )
    langs = np.array(["en", "de", "es", "fr", "zh"])
    texts: list[str] = []
    n_base = n - int(n * EXACT_DUP_FRAC) - int(n * NEAR_DUP_FRAC)
    for i in range(n_base):
        toks = list(rng.choice(vocab, size=int(rng.integers(30, 81))))
        if boilerplate_frac and rng.random() < boilerplate_frac:
            pos = int(rng.integers(0, len(toks)))
            toks[pos:pos] = BOILERPLATE.split()
        texts.append(" ".join(toks))
    for _ in range(int(n * EXACT_DUP_FRAC)):
        texts.append(texts[int(rng.integers(0, n_base))])
    for _ in range(int(n * NEAR_DUP_FRAC)):
        toks = texts[int(rng.integers(0, n_base))].split()
        n_mut = max(1, int(len(toks) * 0.05))
        for pos in rng.integers(0, len(toks), size=n_mut):
            toks[int(pos)] = str(rng.choice(vocab))
        texts.append(" ".join(toks))
    ids = np.arange(len(texts), dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), size=len(texts))],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def gen_embeddings(
    n: int, rng: np.random.Generator, *, hub_frac: float = 0.0
):
    """(vec_id, embedding float32[DIM], label) with planted neighbors.

    ``hub_frac`` plants a SEMANTIC HUB: that fraction of vectors drawn
    tightly around one direction (cos ≈ 0.97 to the hub mean) — the
    embedding-space analog of boilerplate text (near-identical
    template pages at web scale). Cell-bucketed operators (SemDeDup,
    k-means IVF) see one cell holding ~hub_frac of the corpus, which
    is exactly where per-cell quadratic work would explode.
    """
    n_dup = int(n * VEC_DUP_FRAC)
    n_hub = int(n * hub_frac)
    base = rng.standard_normal((n - n_dup - n_hub, DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    parts = [base]
    if n_hub:
        hub_dir = rng.standard_normal(DIM)
        hub_dir /= np.linalg.norm(hub_dir)
        hub = hub_dir + 0.25 * rng.standard_normal((n_hub, DIM))
        hub /= np.linalg.norm(hub, axis=1, keepdims=True)
        parts.append(hub)
    src = base[rng.integers(0, len(base), size=n_dup)]
    # noise VECTOR norm ~ 0.06*sqrt(64) ~ 0.5 -> cos(src, noisy) ~ 0.9
    noisy = src + 0.06 * rng.standard_normal((n_dup, DIM))
    noisy /= np.linalg.norm(noisy, axis=1, keepdims=True)
    parts.append(noisy)
    mat = np.vstack(parts).astype(np.float32)
    n_total = len(mat)
    return {
        "vec_id": np.arange(n_total, dtype=np.int64),
        "embedding": list(mat),
        "label": rng.integers(0, 10, size=n_total).astype(np.int32),
    }


def write_parquet(out_dir: str, scale: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for mult in (1, scale):
        rng = np.random.default_rng(42)  # same stream at both sizes
        docs = gen_documents(BASE_DOCS * mult, rng)
        vecs = gen_embeddings(BASE_VECS * mult, rng)
        pq.write_table(
            pa.table(docs), f"{out_dir}/documents_x{mult}.parquet"
        )
        rng_skew = np.random.default_rng(42)
        pq.write_table(
            pa.table(
                gen_documents(
                    BASE_DOCS * mult, rng_skew, boilerplate_frac=0.3
                )
            ),
            f"{out_dir}/documents_skew_x{mult}.parquet",
        )
        rng_hub = np.random.default_rng(42)
        hub = gen_embeddings(BASE_VECS * mult, rng_hub, hub_frac=0.3)
        pq.write_table(
            pa.table(
                {
                    "vec_id": hub["vec_id"],
                    "embedding": pa.array(
                        [v.tolist() for v in hub["embedding"]],
                        type=pa.list_(pa.float32()),
                    ),
                    "label": hub["label"],
                }
            ),
            f"{out_dir}/embeddings_hub_x{mult}.parquet",
        )
        pq.write_table(
            pa.table(
                {
                    "vec_id": vecs["vec_id"],
                    "embedding": pa.array(
                        [v.tolist() for v in vecs["embedding"]],
                        type=pa.list_(pa.float32()),
                    ),
                    "label": vecs["label"],
                }
            ),
            f"{out_dir}/embeddings_x{mult}.parquet",
        )


def bench(out_dir: str, scale: int, only=None) -> dict:
    from etl_gcp_spark.functions.similarity import (
        blocked_exact_near_dup_pairs,
        pq_topk,
    )
    from etl_gcp_spark.operators.corpus import (
        cluster_keeper_dedup,
        curation_funnel,
    )
    from etl_gcp_spark.operators.graph import (
        dedup_clusters,
        embedding_dedup_clusters,
    )
    from etl_gcp_spark.functions.similarity import (
        embedding_outliers as _outliers,
    )
    from etl_gcp_spark.operators.corpus import (
        dsir_weights as _dsir,
        source_overlap_matrix as _overlap,
    )
    from etl_gcp_spark.functions.similarity import (
        embedding_pca1 as _pca,
        knn_graph as _knn,
    )
    from etl_gcp_spark.operators.corpus import contamination_bloom as _bloom
    from etl_gcp_spark.operators.text_dedup import (
        containment_pairs as _containment,
        dup_ngram_fraction as _dup_ngram,
        minhash_lsh_pairs,
        ngram_novelty as _novelty,
        shingle_cosine_pairs as _shingle_cos,
    )
    from etl_gcp_spark.functions.text import bm25_topk as _bm25
    from etl_gcp_spark.functions.multimodal import (
        ahash_near_dup_pairs as _ahash,
        attach_binary_payload as _attach_payload,
    )
    from etl_gcp_spark.functions.text import (
        token_cooccurrence_lift as _cooc,
    )
    from etl_gcp_spark.operators.text_dedup import (
        substring_dedup_rewrite as _substr_rewrite,
    )
    from etl_gcp_spark.operators.classifier import (
        chi2_feature_selection as _chi2,
        logreg_quality_report as _logreg,
    )
    from etl_gcp_spark.operators.encoding import (
        hashed_feature_stats as _hashstats,
    )
    from etl_gcp_spark.functions.text import (
        textrank_keywords as _textrank,
    )
    from etl_gcp_spark.functions.similarity import (
        ivf_drift_report_gemm as _drift_gemm,
    )
    from etl_gcp_spark.operators.text_dedup import (
        dedup_index_maintenance_audit as _idx_audit,
    )
    from etl_gcp_spark.operators.classifier import (
        logreg_calibration_bins as _calib,
    )
    from pyspark.sql import functions as F
    from etl_gcp_spark.operators.linkage import (
        entity_clusters_increment_audit as _eci_audit,
    )
    from etl_gcp_spark.operators.linkage import (
        entity_clusters_erasure_audit as _ece_audit,
    )
    from etl_gcp_spark.functions.similarity import (
        hamming_lsh_topk as _hamming_lsh,
        hamming_topk as _hamming,
        ivf_pq_residual_topk as _ivfpq_res,
        ivf_pq_topk as _ivfpq,
        margin_bitext_pairs_ann as _bitext_ann,
    )
    from etl_gcp_spark.functions.text import (
        bpe_segment_counts as _bpe_seg,
        bpe_train_merges as _bpe_train,
    )
    from etl_gcp_spark.session import get_spark

    spark = get_spark("scale_stress")

    def _names(d):
        """Short name-key frame off the documents corpus: ids 2k and
        2k+1 share an 11-char stem and differ in the final char —
        one planted lev-1 pair per id pair, component size 2, so
        candidate volume and closure work both scale linearly."""
        return d.select(
            F.col("doc_id").alias("id"),
            F.concat(
                F.lit("nm"),
                F.lpad(F.expr("doc_id div 2").cast("string"), 9, "0"),
                F.when(F.col("doc_id") % 2 == 0, F.lit("a")).otherwise(
                    F.lit("b")
                ),
            ).alias("name"),
        )

    def docs(mult: int):
        return spark.read.parquet(f"{out_dir}/documents_x{mult}.parquet")

    def vecs(mult: int):
        return spark.read.parquet(f"{out_dir}/embeddings_x{mult}.parquet")

    # n_blocks so a GEMM block stays ~constant rows at both sizes
    ops = {
        "minhash_lsh_pairs": lambda m: minhash_lsh_pairs(
            docs(m), threshold=0.8
        ),
        "blocked_gemm_pairs": lambda m: blocked_exact_near_dup_pairs(
            vecs(m), threshold=0.8, n_blocks=4 * m
        ),
        "dedup_clusters": lambda m: dedup_clusters(docs(m), threshold=0.8),
        "curation_funnel": lambda m: curation_funnel(docs(m)),
        "embedding_dedup_clusters": lambda m: embedding_dedup_clusters(
            vecs(m), threshold=0.8, n_blocks=4 * m
        ),
        "pq_adc_topk": lambda m: pq_topk(
            vecs(m), query_ids=list(range(10)), k=5
        ),
        "cluster_keeper_dedup": lambda m: cluster_keeper_dedup(docs(m)),
        "dup_ngram_fraction": lambda m: _dup_ngram(docs(m)),
        "source_overlap_matrix": lambda m: _overlap(docs(m)),
        "dsir_weights": lambda m: _dsir(docs(m)),
        "embedding_outliers": lambda m: _outliers(vecs(m)),
        "contamination_bloom": lambda m: _bloom(
            docs(m), benchmark_source="src0", min_shared=3
        ),
        "knn_graph": lambda m: _knn(vecs(m), k=5, n_blocks=4 * m),
        # FIXED max_df: the cap is containment's linearity guarantee —
        # candidates ≤ max_df · Σdf. (Scaling the cap with the corpus
        # was measured at exponent 1.976/330 s: Σdf² blows up.)
        "containment_pairs": lambda m: _containment(docs(m), threshold=0.8),
        "embedding_pca": lambda m: _pca(vecs(m)),
        "shingle_cosine_pairs": lambda m: _shingle_cos(
            docs(m), threshold=0.5
        ),
        "bm25_topk": lambda m: _bm25(
            docs(m), ["spark", "vector", "stream"], k=10
        ),
        "quality_logreg": lambda m: _logreg(docs(m)),
        "ngram_novelty": lambda m: _novelty(docs(m)),
        # round-4 continuation ops on the same posting-join substrate:
        # the rewrite's candidate set is bounded by actual duplication
        # (hash-DF>=2 prefilter), aHash pairs by band-bucket sizes,
        # and the collocation pairs by vocab^2 — all must hold at 10x
        "substring_dedup_rewrite": lambda m: _substr_rewrite(docs(m)),
        # scale-safe banding: band width must grow with log2(n) (a
        # b-bit band collides at 1/2^b, so candidates grow n²/2^b) —
        # at stress scale that is 16-bit bands / Hamming ≤ 3, the
        # same trade simhash_pairs ships; the registered sf0.01 entry
        # uses the recall-liberal 8-bit/≤7 config its 500-doc corpus
        # affords (see ahash_near_dup_pairs docstring)
        "ahash_near_dup": lambda m: _ahash(
            _attach_payload(docs(m)), max_hamming=3, n_bands=4
        ),
        "token_cooccurrence": lambda m: _cooc(docs(m)),
        # round-4 continuation-3 ops: the hashing trick is a pure
        # explode+groupBy (dim-bounded key space), chi2 a distinct
        # posting join, textrank a vocab-bounded pair explosion +
        # rank iterations on the <=vocab^2 edge list — all expected
        # ~linear; measured, not assumed
        "hashed_features": lambda m: _hashstats(docs(m)),
        "chi2_features": lambda m: _chi2(
            docs(m), label=F.col("lang") == "en"
        ),
        "textrank_keywords": lambda m: _textrank(docs(m)),
        # round-6 additions: GEMM drift scoring is one mapInPandas
        # pass over broadcast centroids (no shuffle — expected ~1);
        # the maintenance audit rides the same banding substrate as
        # minhash_lsh_pairs twice (index leg + rebuild leg) plus an
        # index write, so its exponent should track minhash's
        "ivf_drift_report_gemm": lambda m: _drift_gemm(vecs(m)),
        "dedup_index_maintenance_audit": lambda m: _idx_audit(
            docs(m), f"{out_dir}/lsh_idx_x{m}"
        ),
        # same replayable training as quality_logreg plus one
        # bounded groupBy (≤ n_bins rows) — expected to track the
        # logreg exponent
        "quality_calibration_bins": lambda m: _calib(docs(m)),
        # round-7 addition: incremental CC maintenance — mask-key
        # explode is L·n (fixed 13-char keys), each planted lev-1
        # pair shares exactly its masked variants (no heavy blocks),
        # contracted merge touches only delta-adjacent components;
        # the two entity_clusters legs dominate and are ~linear on
        # this pair structure, so the audit should be too
        "entity_clusters_increment": lambda m: _eci_audit(
            _names(docs(m)), "id", "name", f"{out_dir}/eci_idx_x{m}"
        ),
        # extended-r7 addition: deletion maintenance — affected
        # components are those holding an erased id (≈ 2/7 of the
        # planted 2-cliques), subset re-clustering is linear in the
        # touched survivor count; the base + full legs dominate like
        # the increment audit's
        "entity_erasure_audit": lambda m: _ece_audit(
            _names(docs(m)), "id", "name"
        ),
        # round-10 additions — the r9 families (VERDICT r9 item 4).
        # ANN bitext mining leg ALONE (no exact-miner audit): IVF
        # cells scale with sqrt(n) — the single-level-IVF trade that
        # keeps BOTH the k-means assignment leg (n·n_cells·dim) and
        # the per-query candidate volume (n/n_cells·n_probe) at
        # O(n^1.5) — with n_probe fixed and GEMM blocks scaled so a
        # block stays ~constant rows. Sub-quadratic by construction;
        # measured here, not assumed.
        "bitext_ann_pairs": lambda m: _bitext_ann(
            vecs(m),
            f"{out_dir}/bitextidx_x{m}",
            n_cells=int(32 * np.sqrt(m)),
            n_probe=4,
            n_blocks=4 * m,
        ),
        # binary-sign quantized serving: sign_quantize is one JVM
        # aggregate pass, the serve one XOR+popcount scan of the
        # 1/32-byte shadow corpus per query block — expected ~linear
        "hamming_topk": lambda m: _hamming(
            vecs(m), query_ids=list(range(10)), k=5
        ),
        # SRP-LSH bucketed hamming serve at the SCALE config (8-bit
        # bands): candidates bounded by probed bucket sizes (~n/256
        # per band per query), rescore XOR+popcount over candidates
        # only — the posting explode is the linear term
        "hamming_lsh_topk": lambda m: _hamming_lsh(
            vecs(m), query_ids=list(range(10)), k=5,
            n_bands=8, band_bits=8,
        ),
        # fused IVF+PQ: fixed cell count so candidates per query are
        # n·n_probe/n_cells (linear) scored as S one-byte codes each;
        # k-means train dominates the constant term
        "ivf_pq_topk": lambda m: _ivfpq(
            vecs(m), query_ids=list(range(10)), k=5,
            n_cells=32, n_iters=1, n_probe=4,
        ),
        # residual IVFPQ: identical join shape to ivf_pq_topk plus
        # one broadcast-centroid residual pass — same linear class
        "ivf_pq_residual_topk": lambda m: _ivfpq_res(
            vecs(m), query_ids=list(range(10)), k=5,
            n_cells=32, n_iters=1, n_probe=4,
        ),
        # BPE training: one corpus-sized vocabulary pass, then a
        # fixed number of VOCAB-sized rounds (the gen's vocabulary
        # scales with the corpus, so the round cost grows with it —
        # but as vocab rows, never corpus tokens)
        "bpe_train_merges": lambda m: _bpe_train(docs(m), n_merges=5),
        # apply side: vocab-sized segmentation + one corpus-sized
        # occurrence explode/join — the join is the linear term
        "bpe_segment_counts": lambda m: _bpe_seg(docs(m), n_merges=5),
    }

    # warmup: spawn python workers + codegen so the 1x points aren't
    # billed for session fixed costs
    minhash_lsh_pairs(docs(1), threshold=0.8).write.format("noop").mode(
        "overwrite"
    ).save()
    blocked_exact_near_dup_pairs(vecs(1), threshold=0.8).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.catalog.clearCache()

    # the Zipf-skew pass: same ops that ride shingle/band posting
    # joins, re-run over the corpus with the planted 30%-DF
    # boilerplate trigram — proves the DF caps (containment /
    # shingle-cosine), banding (MinHash), and their downstream
    # consumers stay sub-quadratic when one bucket is a heavy hitter
    def docs_skew(mult: int):
        return spark.read.parquet(
            f"{out_dir}/documents_skew_x{mult}.parquet"
        )

    # embedding hub: 30% of vectors around one direction — the one
    # k-means/SemDeDup cell that holds a third of the corpus
    def vecs_hub(mult: int):
        return spark.read.parquet(
            f"{out_dir}/embeddings_hub_x{mult}.parquet"
        )

    from etl_gcp_spark.functions.similarity import (
        ivf_topk_trained as _ivf_kmeans,
        semdedup_prune as _semdedup,
    )

    skew_ops = {
        "hub:semdedup_prune": lambda m: _semdedup(vecs_hub(m)),
        "hub:ivf_kmeans_topk": lambda m: _ivf_kmeans(
            vecs_hub(m), query_ids=list(range(10)), k=5
        ),
        "hub:knn_graph": lambda m: _knn(vecs_hub(m), k=5, n_blocks=4 * m),
        "hub:embedding_dedup_clusters": lambda m: embedding_dedup_clusters(
            vecs_hub(m), threshold=0.8, n_blocks=4 * m
        ),
        "skew:minhash_lsh_pairs": lambda m: minhash_lsh_pairs(
            docs_skew(m), threshold=0.8
        ),
        "skew:containment_pairs": lambda m: _containment(
            docs_skew(m), threshold=0.8
        ),
        "skew:shingle_cosine_pairs": lambda m: _shingle_cos(
            docs_skew(m), threshold=0.5
        ),
        "skew:dup_ngram_fraction": lambda m: _dup_ngram(docs_skew(m)),
        "skew:ngram_novelty": lambda m: _novelty(docs_skew(m)),
        "skew:dedup_clusters": lambda m: dedup_clusters(
            docs_skew(m), threshold=0.8
        ),
        "skew:curation_funnel": lambda m: curation_funnel(docs_skew(m)),
    }

    # Fixed-act claim checks (append/retrain/resize/stream): each is
    # addressable by name via --only so a single act can be
    # re-measured without the full matrix; artifact-dependent acts
    # rebuild their substrate when the producing check was skipped.
    fixed_results: dict[str, dict] = {}

    def _want(nm: str) -> bool:
        return only is None or nm in only

    # Index-maintenance claim check: appending a FIXED-SIZE batch to
    # the persisted IVF index must cost the same against a 1x and a
    # {scale}x base — ivf_index_append is O(|new|) because the
    # existing corpus is never read or rewritten. Measured separately
    # from the generic loop (the variable here is BASE size at fixed
    # work, so the pass criterion is exponent ~0, not sub-quadratic).
    from pyspark.sql import functions as F

    from etl_gcp_spark.functions.similarity import (
        build_ivf_index as _build_idx,
        ivf_index_append as _append_idx,
    )

    if _want("append:ivf_fixed_batch_vs_base"):
        append_t = {}
        for mult in (1, scale):
            ipath = f"{out_dir}/ivfidx_x{mult}"
            _build_idx(vecs(mult), ipath, n_cells=32, n_iters=1)  # untimed
            new_batch = vecs(1).withColumn(
                "vec_id", F.col("vec_id") + 100_000_000
            )
            t0 = time.time()
            _append_idx(spark, ipath, new_batch)
            append_t[mult] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
        aexp = float(np.log(append_t[scale] / append_t[1]) / np.log(scale))
        fixed_results["append:ivf_fixed_batch_vs_base"] = {
            f"rows_x{1}": BASE_VECS,
            f"rows_x{scale}": BASE_VECS,
            "sec_x1": append_t[1],
            f"sec_x{scale}": append_t[scale],
            "exponent": round(aexp, 3),
            # flat-in-base-size is the claim; 0.3 allows fs jitter
            "sublinear_ok": aexp < 0.3,
        }

    # Same claim for the text-side inverted index: appending a fixed
    # doc batch to a 1x vs {scale}x postings tree must be ~flat —
    # existing postings are never read; only doclen (doc-count-sized)
    # is re-aggregated for the stats refresh.
    from etl_gcp_spark.functions.text import (
        text_index_append as _tappend,
        text_index_build as _tbuild,
    )

    if _want("append:text_fixed_batch_vs_base"):
        tappend_t = {}
        for mult in (1, scale):
            tpath = f"{out_dir}/textidx_x{mult}"
            _tbuild(docs(mult), tpath)  # untimed
            newdocs = docs(1).withColumn(
                "doc_id", F.col("doc_id") + 100_000_000
            )
            t0 = time.time()
            _tappend(newdocs, tpath)
            tappend_t[mult] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
        texp = float(
            np.log(tappend_t[scale] / tappend_t[1]) / np.log(scale)
        )
        fixed_results["append:text_fixed_batch_vs_base"] = {
            f"rows_x{1}": BASE_DOCS,
            f"rows_x{scale}": BASE_DOCS,
            "sec_x1": tappend_t[1],
            f"sec_x{scale}": tappend_t[scale],
            "exponent": round(texp, 3),
            # doclen re-aggregation grows with base doc count but stays
            # metadata-sized; 0.3 allows that plus fs jitter
            "sublinear_ok": texp < 0.3,
        }

    # Retrain-swap claim check (round-8): the drift->retrain ACT edge
    # costs one k-means train + one partitioned rewrite of the
    # surviving corpus — the same ~linear class as a fresh build,
    # never quadratic. Rides the ivfidx_x{mult} artifact the append
    # check left behind (base + appended rows) plus a tombstone
    # slice, so the measured path also folds appends and makes the
    # erasure physical — the full production retrain shape.
    from etl_gcp_spark.functions.similarity import (
        ivf_index_erase as _erase_idx,
        ivf_retrain_swap as _retrain_idx,
    )

    if _want("retrain:ivf_swap_vs_corpus"):
        retrain_t = {}
        for mult in (1, scale):
            ipath = f"{out_dir}/ivfidx_x{mult}"
            if not os.path.isdir(ipath):  # append check skipped via --only
                _build_idx(vecs(mult), ipath, n_cells=32, n_iters=1)
            _erase_idx(
                spark,
                ipath,
                vecs(mult)
                .filter(F.col("vec_id") % 11 == 0)
                .select("vec_id"),
            )
            t0 = time.time()
            _retrain_idx(spark, ipath, n_cells=32, n_iters=1)
            retrain_t[mult] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
        rexp = float(
            np.log(retrain_t[scale] / retrain_t[1]) / np.log(scale)
        )
        fixed_results["retrain:ivf_swap_vs_corpus"] = {
            f"rows_x{1}": BASE_VECS,
            f"rows_x{scale}": BASE_VECS * scale,
            "sec_x1": retrain_t[1],
            f"sec_x{scale}": retrain_t[scale],
            "exponent": round(rexp, 3),
            # a retrain is a fresh build: ~linear, with fixed-cost
            # headroom at the small size biasing the exponent DOWN here
            # (unlike the sub-quadratic ops, the claim is a ceiling well
            # under quadratic, not flatness)
            "sublinear_ok": rexp < 1.3,
        }

    # Text-resize claim check (round-9): re-bucketing the postings
    # partition function is ONE partitioned pass over the corpus —
    # the text side's retrain, same ~linear ceiling — and must not
    # change served results (the score tree is bucket-invariant).
    # Rides the textidx_x{mult} artifact the append check left
    # behind (base + appended docs).
    from etl_gcp_spark.functions.text import (
        bm25_index_topk as _tserve,
        text_index_resize as _tresize,
    )

    if _want("resize:text_rebucket_vs_corpus"):
        resize_t, resize_eq = {}, {}
        _terms = ["the", "vector", "stream"]
        for mult in (1, scale):
            tpath = f"{out_dir}/textidx_x{mult}"
            if not os.path.isdir(tpath):  # append check skipped
                _tbuild(docs(mult), tpath)
            before = sorted(
                (r["doc_id"], r["bm25"])
                for r in _tserve(
                    spark, tpath, _terms, n_buckets=64
                ).collect()
            )
            t0 = time.time()
            _tresize(spark, tpath, n_buckets=128)
            resize_t[mult] = round(time.time() - t0, 3)
            after = sorted(
                (r["doc_id"], r["bm25"])
                for r in _tserve(
                    spark, tpath, _terms, n_buckets=128
                ).collect()
            )
            resize_eq[mult] = after == before
            spark.catalog.clearCache()
        zexp = float(
            np.log(resize_t[scale] / resize_t[1]) / np.log(scale)
        )
        fixed_results["resize:text_rebucket_vs_corpus"] = {
            f"rows_x{1}": BASE_DOCS * 2,
            f"rows_x{scale}": BASE_DOCS * (scale + 1),
            "sec_x1": resize_t[1],
            f"sec_x{scale}": resize_t[scale],
            "exponent": round(zexp, 3),
            "serve_equal": all(resize_eq.values()),
            # one repartition + partitioned write: linear in postings,
            # fixed-cost headroom at the small size biases DOWN
            "sublinear_ok": zexp < 1.3 and all(resize_eq.values()),
        }

    # Streaming entity-erasure claim check (round-9): per-batch work
    # is O(|batch| + touched components), NOT a corpus re-cluster.
    # Fixed erasure volume (erase_mod scales with the corpus so the
    # erased-id count is constant) while the corpus grows 10x; the
    # stream phase is isolated by subtraction — a second run on the
    # same root replays the base build + serve but consumes zero
    # batches (availableNow checkpoint), so t_run1 - t_run2 is the
    # microbatch work alone. The failure mode (re-clustering the
    # corpus every batch) measures >= 1 here because the subtraction
    # removes the one-time base build but not per-batch re-clusters.
    from etl_gcp_spark.streaming.entities import (
        run_streaming_entity_erasure as _erun,
    )

    def customers(mult: int):
        # groups of 3 share a name modulo a 1-char typo -> real
        # lev<=1 components of bounded size at every scale
        n = BASE_ENTS * mult
        return spark.range(n).select(
            F.col("id").cast("long").alias("c_custkey"),
            F.concat(
                F.lit("cust"),
                F.lpad((F.col("id") / 3).cast("long").cast("string"), 7, "0"),
                F.when(F.col("id") % 3 == 2, F.lit("x")).otherwise(
                    F.lit("q")
                ),
            ).alias("c_name"),
        )

    if _want("erasure:entity_stream_vs_touched"):
        estream_t = {}
        for mult in (1, scale):
            cpath = f"{out_dir}/entcust_x{mult}"
            customers(mult).write.mode("overwrite").parquet(cpath)
            eroot = f"{out_dir}/entstream_x{mult}"
            t0 = time.time()
            _erun(
                spark, cpath, erase_mod=7 * mult, n_batches=4, root=eroot
            ).write.format("noop").mode("overwrite").save()
            t_full = time.time() - t0
            t0 = time.time()
            _erun(
                spark, cpath, erase_mod=7 * mult, n_batches=4, root=eroot
            ).write.format("noop").mode("overwrite").save()
            t_replay = time.time() - t0
            estream_t[mult] = round(max(t_full - t_replay, 0.001), 3)
            spark.catalog.clearCache()
        eexp = float(
            np.log(estream_t[scale] / estream_t[1]) / np.log(scale)
        )
        fixed_results["erasure:entity_stream_vs_touched"] = {
            f"rows_x{1}": BASE_ENTS,
            f"rows_x{scale}": BASE_ENTS * scale,
            "sec_x1": estream_t[1],
            f"sec_x{scale}": estream_t[scale],
            "exponent": round(eexp, 3),
            # touched-component re-close is volume-bound (fixed here);
            # what grows with the corpus is the per-batch label-store
            # scan, which is I/O-light — well under linear
            "sublinear_ok": eexp < 1.0,
        }

    # Streaming decontamination claim check (round-10): per-batch
    # work is O(batch grams + affected docs) — NEVER a corpus pass.
    # Eval volume is FIXED (40 benchmark docs over a reserved token
    # namespace + 80 planted contaminated corpus docs sharing their
    # grams — tokens outside the corpus vocabulary, so the affected
    # set is the same 80 docs at every scale) while the corpus grows
    # {scale}x; the posting is bucket-partitioned on the gram hash,
    # so each batch's probe reads only its grams' buckets
    # (PartitionFilters), not the corpus. The stream phase is
    # isolated by the same checkpoint-replay subtraction as the
    # entity check (run 2 replays the base posting build, consumes
    # zero batches). The failure mode — probing the full posting or
    # re-tokenizing the corpus per batch — measures ~1 because the
    # subtraction removes only the one-time base build.
    if _want("decontam:stream_vs_corpus"):
        from etl_gcp_spark.streaming.text import (
            run_streaming_decontamination as _dcrun,
        )

        def _decon_docs(mult: int) -> str:
            dpath = f"{out_dir}/deconset_x{mult}"
            corp = docs(mult).select(
                "doc_id",
                "text",
                # no scaled-corpus doc may sit in the benchmark source
                F.lit("srcbig").alias("source"),
            )
            rows = []
            for i in range(40):  # fixed benchmark shard docs
                rows.append(
                    (
                        900_000_000 + i,
                        " ".join(f"zzz{i}t{j}" for j in range(12)),
                        "src0",
                    )
                )
            for j in range(80):  # fixed planted contaminated docs
                i = j % 40
                toks = (
                    [f"pad{j}a", f"pad{j}b"]
                    + [f"zzz{i}t{p}" for p in range(3)]
                    + [f"pad{j}c"] * 10
                )
                rows.append((910_000_000 + j, " ".join(toks), "srcbig"))
            fixed = spark.createDataFrame(
                rows, "doc_id long, text string, source string"
            )
            corp.unionByName(fixed).write.mode("overwrite").parquet(dpath)
            return dpath

        dstream_t = {}
        for mult in (1, scale):
            dpath = _decon_docs(mult)
            droot = f"{out_dir}/deconstream_x{mult}"
            t0 = time.time()
            _dcrun(spark, dpath, root=droot).write.format("noop").mode(
                "overwrite"
            ).save()
            t_full = time.time() - t0
            t0 = time.time()
            _dcrun(spark, dpath, root=droot).write.format("noop").mode(
                "overwrite"
            ).save()
            t_replay = time.time() - t0
            dstream_t[mult] = round(max(t_full - t_replay, 0.001), 3)
            spark.catalog.clearCache()
        dexp = float(
            np.log(dstream_t[scale] / dstream_t[1]) / np.log(scale)
        )
        fixed_results["decontam:stream_vs_corpus"] = {
            f"rows_x{1}": BASE_DOCS,
            f"rows_x{scale}": BASE_DOCS * scale,
            "sec_x1": dstream_t[1],
            f"sec_x{scale}": dstream_t[scale],
            "exponent": round(dexp, 3),
            # per-batch work is eval-volume-bound (fixed here); what
            # grows with the corpus is only the pruned bucket read
            "sublinear_ok": dexp < 1.0,
        }

    results: dict[str, dict] = dict(fixed_results)
    for name, fn in {**ops, **skew_ops}.items():
        if only and name not in only:
            continue
        timings = {}
        for mult in (1, scale):
            t0 = time.time()
            out = fn(mult)
            n_rows = out.count()
            timings[mult] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
            results.setdefault(name, {})[f"rows_x{mult}"] = n_rows
        exp = float(
            np.log(timings[scale] / timings[1]) / np.log(scale)
        )
        results[name].update(
            {
                "sec_x1": timings[1],
                f"sec_x{scale}": timings[scale],
                "exponent": round(exp, 3),
                "sublinear_ok": exp < 1.7,
            }
        )
    spark.stop()
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=10)
    ap.add_argument("--out", default=".scale_stress")
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated op names: measure just these and merge"
        " into the existing SCALE_STRESS.json instead of rewriting it",
    )
    args = ap.parse_args()

    if not args.skip_gen:
        write_parquet(args.out, args.scale)
    only = set(args.only.split(",")) if args.only else None
    results = bench(args.out, args.scale, only=only)
    if only:
        prior = json.load(open("SCALE_STRESS.json"))
        prior["ops"].update(results)
        prior["all_subquadratic"] = all(
            r["sublinear_ok"] for r in prior["ops"].values()
        )
        with open("SCALE_STRESS.json", "w") as f:
            json.dump(prior, f, indent=2)
        print(json.dumps({k: results[k] for k in results}))
        return
    report = {
        "scale": args.scale,
        "base_docs": BASE_DOCS,
        "base_vecs": BASE_VECS,
        "ops": results,
        "all_subquadratic": all(
            r["sublinear_ok"] for r in results.values()
        ),
    }
    with open("SCALE_STRESS.json", "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
