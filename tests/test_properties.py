"""Property-based tests (hypothesis) for operator invariants.

The reference declares hypothesis in requirements-test.txt but never
imports it (SURVEY.md §5.3); these are the properties its operators
implicitly promise.
"""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings
from pyspark.sql import Row

from etl_gcp_spark.operators.clean import clean, normalize_columns
from etl_gcp_spark.operators.dedup import dedup, dup_count
from etl_gcp_spark.schemas import normalize_name

# ---------------------------------------------------------- pure python

name_strategy = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters=" -._"
    ),
    min_size=1,
    max_size=30,
)


@given(name_strategy)
def test_normalize_name_idempotent(name):
    once = normalize_name(name)
    assert normalize_name(once) == once
    assert " " not in once and "-" not in once and "." not in once
    assert once == once.lower()


# ------------------------------------------------------------- spark

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

row_strategy = st.tuples(
    st.one_of(st.none(), st.integers(-100, 100)),
    st.one_of(st.none(), st.text(alphabet="aB c!", max_size=6)),
    st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)),
)


@_slow
@given(st.lists(row_strategy, min_size=1, max_size=12))
def test_clean_idempotent_and_null_free(spark, rows):
    df = spark.createDataFrame(
        [Row(n=r[0], s=r[1], v=r[2]) for r in rows],
        "n long, s string, v double",
    )
    once = clean(df).collect()
    twice = clean(clean(df)).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))
    for r in once:  # every cleaned column is non-null
        assert r.n is not None and r.s is not None and r.v is not None
        assert r.s == r.s.strip().lower()


@_slow
@given(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 2)), min_size=1, max_size=20))
def test_dedup_invariants(spark, rows):
    df = spark.createDataFrame([Row(a=a, b=b) for a, b in rows])
    distinct_rows = set(map(tuple, df.collect()))
    deduped = dedup(df)
    assert set(map(tuple, deduped.collect())) == distinct_rows
    assert deduped.count() == len(distinct_rows)
    # dup_count is exactly the surplus
    assert dup_count(df).collect()[0].dup_count == len(rows) - len(distinct_rows)


@_slow
@given(
    st.lists(
        st.text(alphabet="ab .-", min_size=1, max_size=10), min_size=1, max_size=5
    )
)
def test_normalize_columns_idempotent(spark, names):
    # make unique post-normalization to keep a valid schema
    uniq = {}
    for n in names:
        uniq.setdefault(normalize_name(n), n)
    cols = list(uniq.values())
    df = spark.createDataFrame([tuple(range(len(cols)))], cols)
    once = normalize_columns(df)
    assert normalize_columns(once).columns == once.columns


# ------------------------------------------- round-3 kernel invariants


@_slow
@given(
    st.lists(
        st.text(alphabet="abc1", min_size=0, max_size=7),
        min_size=2,
        max_size=10,
        unique=True,
    )
)
def test_fuzzy_d2_complete_and_sound_vs_naive(spark, names):
    # deletion-neighborhood blocking == naive quadratic levenshtein<=2
    # on arbitrary short strings (indels, empties, duplicates-by-value)
    from pyspark.sql import functions as F

    from etl_gcp_spark.operators.linkage import fuzzy_pairs_deletes

    df = spark.createDataFrame(
        [Row(id=i, name=n) for i, n in enumerate(names)]
    )
    got = sorted(
        (r.id1, r.id2, r.distance)
        for r in fuzzy_pairs_deletes(df, "id", "name").collect()
    )
    naive = sorted(
        (r.id1, r.id2, r.d)
        for r in df.alias("a")
        .join(df.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.levenshtein("a.name", "b.name").cast("int").alias("d"),
        )
        .filter(F.col("d") <= 2)
        .collect()
    )
    assert got == naive


@_slow
@given(
    st.lists(
        st.lists(
            st.floats(-4, 4, allow_nan=False, allow_infinity=False),
            min_size=4,
            max_size=4,
        ).filter(lambda v: sum(x * x for x in v) > 1e-6),
        min_size=2,
        max_size=12,
    )
)
def test_blocked_gemm_equals_broadcast_on_random_vectors(spark, vecs):
    # the distributed blocked GEMM must agree with the broadcast
    # baseline pair-for-pair on arbitrary (non-degenerate) vectors,
    # at a block count that forces cross-block pairs
    from etl_gcp_spark.functions.similarity import (
        blocked_exact_near_dup_pairs,
        exact_near_dup_pairs,
    )

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    exact = {
        (r.id1, r.id2, r.sim)
        for r in exact_near_dup_pairs(emb, threshold=0.3).collect()
    }
    blocked = {
        (r.id1, r.id2, r.sim)
        for r in blocked_exact_near_dup_pairs(
            emb, threshold=0.3, n_blocks=3
        ).collect()
    }
    assert blocked == exact


@_slow
@given(
    st.lists(
        st.lists(
            st.floats(-2, 2, allow_nan=False, allow_infinity=False),
            min_size=8,
            max_size=8,
        ).filter(lambda v: sum(x * x for x in v) > 1e-6),
        min_size=4,
        max_size=12,
    )
)
def test_pq_codes_valid_and_identical_vectors_share_codes(spark, vecs):
    from etl_gcp_spark.functions.similarity import pq_codebook, pq_encode

    # duplicate the first vector at the end: same codes guaranteed
    vecs = vecs + [vecs[0]]
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    n_codes = min(4, len(vecs))
    cb = pq_codebook(emb, n_subspaces=2, n_codes=n_codes)
    codes = {r.vec_id: list(r.codes) for r in pq_encode(emb, cb).collect()}
    assert set(codes) == set(range(len(vecs)))
    for c in codes.values():
        assert len(c) == 2 and all(1 <= x <= n_codes for x in c)
    assert codes[0] == codes[len(vecs) - 1]


# ------------------------------------------- round-3 late additions


@_slow
@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.integers(0, 1000)),
        min_size=2,
        max_size=30,
        unique=True,
    )
)
def test_zorder_key_matches_python_morton(spark, pts):
    from etl_gcp_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "id long, x long, y long"
    )
    got = {r["id"]: r["zkey"] for r in zorder_key(df, ["x", "y"]).collect()}

    xs, ys = [p[0] for p in pts], [p[1] for p in pts]

    def scale(v, lo, hi):
        return 0 if hi == lo else int((v - lo) / (hi - lo) * 255)

    def morton(x, y):
        z = 0
        for b in range(8):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for i, (x, y) in enumerate(pts):
        want = morton(
            scale(x, min(xs), max(xs)), scale(y, min(ys), max(ys))
        )
        assert got[i] == want


@_slow
@given(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=25,
    )
)
def test_bpe_merges_matches_counter(spark, words):
    from collections import Counter

    from etl_gcp_spark.functions.text import bpe_merges

    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    got = {
        r["pair"]: r["merge_count"]
        for r in bpe_merges(docs, top_k=1000).collect()
    }
    want = Counter()
    for w in words:
        if len(w) >= 2:  # single chars fail the [a-z]{2,} gate
            for i in range(len(w) - 1):
                want[w[i : i + 2]] += 1
    assert got == dict(want)


@_slow
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=3, max_size=10),
        min_size=1,
        max_size=12,
    )
)
def test_dup_ngram_fraction_matches_naive_sets(spark, docs_tokens):
    from etl_gcp_spark.operators.text_dedup import dup_ngram_fraction

    texts = [" ".join(t) for t in docs_tokens]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_ngrams"], r["dup_fraction"])
        for r in dup_ngram_fraction(df).collect()
    }
    sets = {
        i: {
            " ".join(t[j : j + 3])
            for j in range(len(t) - 2)
        }
        for i, t in enumerate(docs_tokens)
    }
    for i, s in sets.items():
        others = set().union(
            *(s2 for j, s2 in sets.items() if j != i), set()
        )
        dup = sum(1 for g in s if g in others)
        assert got[i][0] == len(s)
        assert abs(got[i][1] - round(dup / len(s), 6)) < 1e-9


@_slow
@given(
    st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=3,
        max_size=40,
    )
)
def test_winsorize_bounds_and_interior(spark, vals):
    from etl_gcp_spark.operators.clean import winsorize

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    )
    rows = winsorize(df, "v").collect()
    lo = min(r["v_w"] for r in rows)
    hi = max(r["v_w"] for r in rows)
    for r in rows:
        # clamped into [lo, hi]; interior values pass through
        assert lo <= r["v_w"] <= hi
        if lo < r["v"] < hi:
            assert r["v_w"] == r["v"]
        # clamping only ever moves values INWARD
        assert abs(r["v_w"] - r["v"]) <= abs(max(vals) - min(vals))


@_slow
@given(
    st.lists(
        st.tuples(st.integers(1, 50), st.floats(0.1, 100.0)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 8),
)
def test_priority_sample_invariants(spark, rows, k):
    from etl_gcp_spark.operators.sampling import priority_sample

    df = spark.createDataFrame(rows, "key long, w double")
    out = priority_sample(df, "key", "w", k).collect()
    # fixed size min(k, population); ranks contiguous from 1
    assert len(out) == min(k, len(rows))
    assert sorted(r.rank for r in out) == list(range(1, len(out) + 1))
    # every estimate >= its weight (est = max(w, tau)) and at most
    # one distinct tau-induced estimate among the tau-clamped rows
    assert all(r.est_weight >= round(r.weight, 4) - 1e-9 for r in out)
    # deterministic: rerun yields the identical sample
    again = priority_sample(df, "key", "w", k).collect()
    assert {(r.key, r.rank) for r in out} == {
        (r.key, r.rank) for r in again
    }


@_slow
@given(
    st.lists(
        st.tuples(
            st.integers(0, 20),
            st.one_of(st.none(), st.integers(-5, 5)),
            st.sampled_from(["a", "b", None]),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    )
)
def test_snapshot_diff_identity_and_conservation(spark, rows):
    from etl_gcp_spark.operators.cdc import snapshot_diff

    df = spark.createDataFrame(rows, "k long, v long, s string")
    out = {
        r.metric: r.n
        for r in snapshot_diff(df, df, ["k"], ["v", "s"]).collect()
    }
    # diff(x, x): everything unchanged, nothing added/removed/changed
    assert out["rows:unchanged"] == len(rows)
    assert (
        out["rows:added"] == out["rows:removed"] == out["rows:changed"]
        == out["col:v"] == out["col:s"] == 0
    )


@_slow
@given(
    st.lists(
        st.integers(0, 10_000), min_size=5, max_size=80
    ),
    st.integers(2, 5),
)
def test_hll_registers_merge_invariance(spark, keys, n_parts):
    """Register tables are merge-invariant: any partition of the rows,
    sketched separately and unioned, yields the same estimate as
    sketching the whole — the property that makes per-day/per-executor
    sketches combine at 100 TB."""
    from pyspark.sql import functions as F

    from etl_gcp_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
    )

    df = spark.createDataFrame(
        [(k, k % n_parts) for k in keys], "key long, part int"
    )
    whole = hll_estimate(
        hll_registers(df.select("key", F.lit("g").alias("g")), "key", "g")
    ).collect()[0]
    parts = None
    for p in range(n_parts):
        r = hll_registers(
            df.filter(F.col("part") == p).select(
                "key", F.lit("g").alias("g")
            ),
            "key",
            "g",
        )
        parts = r if parts is None else parts.union(r)
    merged = hll_estimate(parts).collect()[0]
    assert merged.est_distinct == whole.est_distinct
    assert merged.n_registers_used == whole.n_registers_used


@_slow
@given(
    st.lists(
        st.integers(0, 1_000_000), min_size=1, max_size=60, unique=True
    ),
    st.integers(0, 50),
    st.integers(1, 6),
)
def test_epoch_shards_is_a_partitioned_permutation(spark, ids, epoch, n_shards):
    """For ANY id set/epoch/shard count: every id appears exactly
    once, (shard, pos) pairs are unique and contiguous per shard, and
    the plan is deterministic across invocations."""
    from pyspark.sql import Row

    from etl_gcp_spark.operators.sampling import epoch_shards

    docs = spark.createDataFrame([Row(doc_id=i) for i in ids])
    a = epoch_shards(docs, epoch=epoch, n_shards=n_shards).collect()
    assert sorted(r.doc_id for r in a) == sorted(ids)
    keys = [(r.shard, r.pos) for r in a]
    assert len(set(keys)) == len(keys)
    by_shard = {}
    for r in a:
        assert 0 <= r.shard < n_shards
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    b = epoch_shards(docs, epoch=epoch, n_shards=n_shards).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@_slow
@given(
    st.lists(
        st.lists(
            st.one_of(
                st.floats(
                    min_value=-10, max_value=10, allow_nan=False
                ),
                st.just(float("nan")),
                st.just(float("inf")),
                st.just(0.0),
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_embedding_sanitize_matches_python_reference(spark, vec_lists):
    """Verdicts agree with a plain-Python reference for arbitrary
    vectors mixing NaN/Inf/zeros/wrong dims."""
    import math

    from etl_gcp_spark.functions.similarity import embedding_sanitize

    expected_dim = 4
    rows = [(i, v) for i, v in enumerate(vec_lists)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.n_dims, r.n_nonfinite, r.is_zero_norm, r.verdict)
        for r in embedding_sanitize(df, expected_dim=expected_dim).collect()
    }
    for i, v in rows:
        n_dims = len(v)
        n_nonfinite = sum(
            1 for x in v if math.isnan(x) or math.isinf(x)
        )
        is_zero = n_dims > 0 and all(x == 0.0 for x in v)
        if n_dims != expected_dim:
            verdict = "drop_wrong_dim"
        elif n_nonfinite:
            verdict = "drop_nonfinite"
        elif is_zero:
            verdict = "drop_zero_norm"
        else:
            verdict = "ok"
        assert got[i] == (n_dims, n_nonfinite, is_zero, verdict), (i, v)


@_slow
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=25,
    )
)
def test_poly_hash_matches_python_reference(spark, toks):
    """The portable 8-char polynomial hash (feature hashing) equals a
    pure-Python evaluation for arbitrary printable-ASCII tokens —
    index and sign bits both."""
    from pyspark.sql import functions as F

    from etl_gcp_spark.operators.encoding import HASH_PRIME, _poly_hash

    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = df.select(
        "tok",
        _poly_hash(F.col("tok")).alias("h"),
    ).collect()
    for r in got:
        want = sum(
            ord(c) * 31**i for i, c in enumerate(r.tok[:8])
        ) % HASH_PRIME
        assert r.h == want


@_slow
@given(
    st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=80,
    )
)
def test_ewma_fold_matches_python_reference(spark, vals):
    """The distributed EWMA fold (alpha=1/2, recency cap 64) is
    bit-identical to the sequential Python fold over the same capped
    tail — the exactness claim the oracle relies on."""
    import datetime

    from etl_gcp_spark.operators.events import ewma_by_user

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), 1, float(v))
        for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    [r] = ewma_by_user(ev, last_n=64).collect()
    tail = vals[-64:]
    acc = tail[0]
    for v in tail[1:]:
        acc = 0.5 * v + 0.5 * acc
    assert r.ewma == round(acc, 6)
    assert r.n_used == len(tail)


@_slow
@given(
    st.lists(
        st.integers(-1000, 1000), min_size=5, max_size=120, unique=True
    ),
    st.integers(2, 8),
)
def test_equi_depth_rank_matches_sorted_python(spark, vals, k):
    """Distributed two-pass rank: bucket sizes differ by at most one
    and bucket ranges tile the sorted order — for any value list and
    bucket count (ties impossible: unique values + id tiebreak)."""
    from etl_gcp_spark.operators.quality import equi_depth_histogram

    df = spark.createDataFrame(
        [(float(v), i) for i, v in enumerate(vals)], "v double, i long"
    )
    out = sorted(
        equi_depth_histogram(df, "v", ["i"], n_buckets=k).collect()
    )
    n = len(vals)
    assert sum(r.n_rows for r in out) == n
    sizes = [r.n_rows for r in out]
    assert max(sizes) - min(sizes) <= 1
    for a, b in zip(out, out[1:]):
        assert a.hi < b.lo


def test_text_operators_total_on_pathological_corpus(spark):
    """Adversarial-input sweep (review r9): the shingle-totality bug
    showed that a single sub-n / empty / NULL-text document can crash
    an operator whose expressions aren't total under codegen CSE.
    Every text-family operator must ACCEPT a corpus of empty,
    whitespace-only, single-token, sub-n, NULL, huge-token and
    unicode documents — outputs may be empty, but never a throw."""
    from pyspark.sql import functions as F

    from etl_gcp_spark.functions.text import (
        bm25_topk,
        fingerprint,
        lang_id,
        quality_score,
        tfidf_top_terms,
        token_count,
        top_ngrams,
        winnow_fingerprints,
    )
    from etl_gcp_spark.operators.corpus import (
        boilerplate_strip,
        contamination_overlap,
        decontaminate_docs,
        quality_filter,
    )
    from etl_gcp_spark.operators.text_dedup import (
        containment_pairs,
        exact_text_dedup,
        minhash_lsh_pairs,
        near_dup_dedup,
        ngram_jaccard_pairs,
        simhash_pairs,
        with_shingles,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta", "src0", "en"),
            (1, "", "src1", "en"),
            (2, "word", "src1", "en"),
            (3, "   ", "src1", "en"),
            (4, "a b", "src1", "en"),
            (5, "x" * 5000, "src1", "en"),
            (6, "tab\tand\nnewline  double  space", "src1", "en"),
            (7, None, "src1", "en"),
            (8, "é ü ß 中文 🙂 emoji", "src1", "en"),
            (9, "alpha beta gamma delta epsilon zeta", "src1", "en"),
        ],
        "doc_id long, text string, source string, lang string",
    )
    ops = {
        "with_shingles": lambda: with_shingles(docs),
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(docs),
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(docs),
        "exact_text_dedup": lambda: exact_text_dedup(docs),
        "simhash_pairs": lambda: simhash_pairs(docs),
        "near_dup_dedup": lambda: near_dup_dedup(docs),
        "containment_pairs": lambda: containment_pairs(docs),
        "winnow_fingerprints": lambda: winnow_fingerprints(docs),
        "contamination_overlap": lambda: contamination_overlap(docs),
        "decontaminate_docs": lambda: decontaminate_docs(docs),
        "quality_filter": lambda: quality_filter(docs),
        "boilerplate_strip": lambda: boilerplate_strip(docs),
        "token_count": lambda: token_count(docs),
        "lang_id": lambda: lang_id(docs),
        "quality_score": lambda: quality_score(docs),
        "fingerprint": lambda: fingerprint(docs),
        "top_ngrams": lambda: top_ngrams(docs),
        "bm25_topk": lambda: bm25_topk(docs, ["alpha", "beta"], k=5),
        "tfidf_top_terms": lambda: tfidf_top_terms(docs),
    }
    failures = {}
    for name, fn in ops.items():
        try:
            fn().count()
        except Exception as ex:  # pragma: no cover - the assert reports
            failures[name] = str(ex).splitlines()[0][:120]
    assert not failures, failures
    # and the planted duplicate still pairs up through the gauntlet
    pair_ids = {
        frozenset((r["id1"], r["id2"]))
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert frozenset((0, 9)) in pair_ids
