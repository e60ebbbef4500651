"""Text-analysis functions for training-data pipelines.

Beyond the reference's surface (it has no text ops — SURVEY.md §2.8
lists only trim/lower): language-ID, quality scoring, token counting,
and document fingerprinting over the ``documents`` table. Functions
are pure Column expressions (split/filter/transform/aggregate
higher-order functions) — JVM-side, whole-stage-codegen'd — except
where a per-document computation is strictly cheaper as one
Arrow-batched ``mapInPandas`` pass with no shuffle at all
(``repetition_signals``'s default engine); there is no row-at-a-time
Python anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# index BUILD phases are metered so bench.py can report build_sec /
# serve_sec separately — at scale the build is a rare batch job while
# serve latency is the tracked number (etl_gcp_spark/metering.py)
from etl_gcp_spark.metering import timed as _timed_phase
from etl_gcp_spark.smalldf import small_df
from etl_gcp_spark.streaming.staging import (
    REQUEST_SLICE,
    commit_swap,
    heal_swap,
    read_slices,
    write_slice,
)

_metered_build = _timed_phase("build")

# Marker-token lists for the n-gram/stopword language heuristic.
# With real corpora these are per-language stopword sets; they are
# deterministic model parameters of the operator, not derived state.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["table", "agg", "key", "merge", "vector"],
    "en": ["the", "a", "fast", "slow", "row"],
    "es": ["customer", "order", "group", "sort", "filter"],
    "fr": ["query", "window", "hash", "big", "small"],
    "zh": ["stream", "batch", "data", "join", "scan"],
}

STOPWORDS = ["the", "a"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(col), r"\s+")


def token_count(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Token + character counts per document (one projection)."""
    t = tokens(F.col(text_col))
    return documents.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_measured"),
    )


def _overlap(toks: Column, markers: list[str]) -> Column:
    """Distinct-token overlap with a marker list (set semantics)."""
    return F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(m) for m in markers])
        )
    ).cast("long")


def lang_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: distinct-token overlap against
    per-language marker sets; argmax with alphabetical tiebreak.

    The scoring is a deterministic CASE chain over the five scores,
    so the prediction is reproducible and SQL-expressible (the DuckDB
    oracle mirrors it verbatim).
    """
    toks = tokens(F.col(text_col))
    scored = documents.select(
        "doc_id",
        *[
            _overlap(toks, LANG_MARKERS[lang]).alias(f"score_{lang}")
            for lang in sorted(LANG_MARKERS)
        ],
    )
    langs = sorted(LANG_MARKERS)  # alphabetical → ties resolve to first
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    # CASE chain built so the alphabetically-first max wins ties
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return scored.withColumn("predicted_lang", pred)


def quality_score(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features + composite score.

    Features: length, token count, mean token length, stopword ratio,
    non-alphabetic ratio. Composite score is a fixed linear blend —
    a stand-in for a learned quality model, deterministic for testing.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    alpha_removed = F.length(F.regexp_replace(t, r"[a-z ]", ""))
    stop_hits = F.size(
        F.filter(toks, lambda x: (x == F.lit("the")) | (x == F.lit("a")))
    )
    mean_tok_len = (F.length(F.regexp_replace(t, r"\s+", "")) / n_tokens)
    stop_ratio = stop_hits / n_tokens
    junk_ratio = alpha_removed / n_chars
    score = (
        F.lit(1.0)
        - F.least(F.lit(1.0), junk_ratio * 4.0)
        - F.least(F.lit(0.5), stop_ratio)
    )
    return documents.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_measured"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(junk_ratio, 4).alias("junk_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def fingerprint(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical-text digest for exact dedup & change detection.

    md5 over lower(trim(text)): engine-portable (matches the oracle's
    ``md5``), and at scale lets exact dedup shuffle a 16-byte digest
    instead of the full document payload.
    """
    return documents.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("fingerprint"),
    )


# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation
# marks — the regex family GPT-2-style tokenizers apply before BPE
# merges. JVM-side regexp_extract_all; no Python in the path.
BPE_PRETOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_token_count(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counts under BPE-style pre-tokenization (vs whitespace).

    Returns both counts so downstream cost models can pick either;
    ``n_bpe_pieces`` is the better proxy for LLM token cost.
    """
    pieces = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(BPE_PRETOKEN_PATTERN), 0
    )
    return documents.select(
        "doc_id",
        F.size(tokens(F.col(text_col))).cast("long").alias("n_ws_tokens"),
        F.size(pieces).cast("long").alias("n_bpe_pieces"),
        F.size(F.array_distinct(pieces)).cast("long").alias("n_distinct_pieces"),
    )


def repetition_signals(
    documents: DataFrame, text_col: str = "text", engine: str = "arrow"
) -> DataFrame:
    """Gopher-style repetition quality signals per document: the
    fraction of tokens taken by the most frequent word, the fraction
    of bigram occurrences taken by the most frequent bigram, and the
    fraction of trigram occurrences that are repeats (Rae et al. 2021,
    "Scaling Language Models" §A1.1 repetition filters — public
    methodology; no reference-repo counterpart, extension surface).

    Row coverage: documents with NULL ``text`` produce no output row
    (NULL tokens / the ``size(toks) >= n`` filter) — unlike
    :func:`token_count`, which keeps those rows with NULL metrics.
    The DuckDB oracle mirrors the same drop.

    Scale shape: per-document metrics need NO shuffle — ``engine=
    'arrow'`` (default) computes all three signals in one Arrow-
    batched ``mapInPandas`` pass (zero exchange, cost linear in
    corpus bytes, measured 1.85 s → 0.33 s at sf0.1). ``engine='sql'``
    keeps the pure-Column form: the three gram streams are tagged and
    unioned BEFORE aggregation so one hash-partitioned count chain
    serves all three signals — the DuckDB-mirrorable baseline, and
    the fallback if Arrow is unavailable. Both produce identical
    values (same float64 arithmetic and 4-dp rounds; asserted in
    pytest and by the shared oracle).
    """
    if engine == "arrow":
        return _repetition_signals_arrow(documents, text_col)
    toks = tokens(F.col(text_col))

    def grams(n: int):
        t = F.col("__toks")
        if n == 1:
            arr = t
        else:
            # total expression: CSE can run this inside the size>=n
            # filter's stage on sub-n rows (see with_shingles, r9)
            arr = F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0))),
                lambda i: F.concat_ws(
                    " ",
                    *[
                        F.try_element_at(t, (i + j + 1).cast("int"))
                        for j in range(n)
                    ],
                ),
            )
        return (
            documents.select("doc_id", toks.alias("__toks"))
            .filter(F.size("__toks") >= n)
            .select(
                "doc_id", F.lit(n).alias("typ"), F.explode(arr).alias("g")
            )
        )

    tagged = grams(1).unionByName(grams(2)).unionByName(grams(3))
    per_gram = tagged.groupBy("doc_id", "typ", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_typ = per_gram.groupBy("doc_id", "typ").agg(
        F.max("c").alias("mx"),
        F.sum("c").alias("tot"),
        F.count(F.lit(1)).alias("dst"),
    )

    def pick(typ: int, col: str) -> Column:
        return F.max(F.when(F.col("typ") == typ, F.col(col)))

    return per_typ.groupBy("doc_id").agg(
        pick(1, "tot").cast("long").alias("n_tokens"),
        F.round(pick(1, "mx") / pick(1, "tot"), 4).alias("top_word_ratio"),
        F.coalesce(
            F.round(pick(2, "mx") / pick(2, "tot"), 4), F.lit(0.0)
        ).alias("top_bigram_ratio"),
        F.coalesce(
            F.round(
                F.lit(1.0) - pick(3, "dst") / pick(3, "tot").cast("double"), 4
            ),
            F.lit(0.0),
        ).alias("dup_trigram_ratio"),
    )


def _repetition_signals_arrow(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Zero-shuffle kernel for :func:`repetition_signals`.

    Each Arrow batch is processed with a ``collections.Counter`` per
    document — O(tokens) work, no gram strings ever leave the task.
    Output arithmetic matches the SQL form exactly: counts are exact
    integers, ratios divided in float64, rounded to 4 dp.
    """
    import re as _re

    def kernel(batches):
        import math
        from collections import Counter

        import pandas as pd

        # HALF_UP to 4 dp, matching Spark/DuckDB ROUND — Python's
        # built-in round is HALF_EVEN, which diverges on exact binary
        # halves (2/64 = 0.03125 → 0.0312 vs 0.0313)
        def r4(x: float) -> float:
            return math.floor(x * 10000.0 + 0.5) / 10000.0

        ws = _re.compile(r"\s+")
        for pdf in batches:
            out = {
                "doc_id": [],
                "n_tokens": [],
                "top_word_ratio": [],
                "top_bigram_ratio": [],
                "dup_trigram_ratio": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                if text is None:
                    continue  # same drop as the SQL form
                toks = ws.split(text.strip())
                n = len(toks)
                if n < 1:
                    continue
                uni = Counter(toks)
                out["doc_id"].append(doc_id)
                out["n_tokens"].append(n)
                out["top_word_ratio"].append(r4(max(uni.values()) / n))
                if n >= 2:
                    bi = Counter(zip(toks, toks[1:]))
                    out["top_bigram_ratio"].append(
                        r4(max(bi.values()) / (n - 1))
                    )
                else:
                    out["top_bigram_ratio"].append(0.0)
                if n >= 3:
                    tri = Counter(zip(toks, toks[1:], toks[2:]))
                    out["dup_trigram_ratio"].append(
                        r4(1.0 - len(tri) / (n - 2))
                    )
                else:
                    out["dup_trigram_ratio"].append(0.0)
            yield pd.DataFrame(out)

    return documents.select("doc_id", text_col).mapInPandas(
        kernel,
        "doc_id long, n_tokens long, top_word_ratio double, "
        "top_bigram_ratio double, dup_trigram_ratio double",
    )


def top_ngrams(
    documents: DataFrame,
    *,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-k most frequent word n-grams.

    explode → count → TakeOrderedAndProject: the count shuffles the
    8-byte hash-partitioned gram with map-side partial counts; the
    top-k never materializes a global sort. Ties break on the gram
    itself for determinism.
    """
    toked = documents.select(tokens(F.col(text_col)).alias("__toks")).filter(
        F.size("__toks") >= n
    )
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return (
        toked.select(F.explode_outer(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("ngram"))
        .limit(k)
    )


def winnow_fingerprints(
    documents: DataFrame,
    *,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprints (MOSS-style rolling-hash selection).

    Pipeline, all JVM-side per document: hash every character k-gram
    (the rolling-hash set), then keep the minimum hash of each
    ``window`` consecutive k-grams and dedup — the winnowing
    guarantee that any match of length ≥ k+window−1 shares a
    fingerprint. Output is one row per (doc, fingerprint): the
    inverted-index shape, ready for a self-join to detect local
    (substring-level) overlap that shingle/MinHash whole-set
    similarity misses.

    Hashes are content-deterministic polynomial rolling hashes (not
    SQL-portable, so this operator takes the rows-only check;
    invariants are unit-tested instead).

    Implementation is an Arrow-batched ``mapInPandas`` kernel, the
    right tool for genuinely per-document imperative logic: the
    computation never leaves the document (no shuffle — the windowed
    SQL formulation moves every k-gram through an exchange), and the
    hash/window-min/dedup pipeline vectorizes across positions in
    numpy. The pure-Column HOF form evaluated interpreted and cost
    4×; uint64 arithmetic wraps mod 2⁶⁴, so hashes are deterministic
    on every platform.
    """
    import numpy as np
    import pandas as pd

    B = np.uint64(1099511628211)  # FNV-1a prime; any odd multiplier works

    def kernel(batches):
        np.seterr(over="ignore")
        pw = B ** np.arange(k, dtype=np.uint64)[::-1]
        for pdf in batches:
            ids_out, fps_out = [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                codes = np.frombuffer(
                    txt.strip().lower().encode("utf-8"), dtype=np.uint8
                ).astype(np.uint64)
                n = len(codes) - k + 1  # k-gram count (utf-8 byte-grams)
                if n < window:
                    continue
                h = np.zeros(n, dtype=np.uint64)
                for j in range(k):
                    h += codes[j : j + n] * pw[j]
                mins = np.lib.stride_tricks.sliding_window_view(
                    h, window
                ).min(axis=1)
                fp = np.unique(mins).astype(np.int64)
                ids_out.append(np.full(len(fp), did, dtype=np.int64))
                fps_out.append(fp)
            if ids_out:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids_out),
                        "fingerprint": np.concatenate(fps_out),
                    }
                )

    return documents.select(F.col(id_col), F.col(text_col)).mapInPandas(
        kernel, f"{id_col} long, fingerprint long"
    )


def winnow_gram_hashes(
    documents: DataFrame,
    *,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The positioned k-gram rolling hashes that winnowing selects
    from — exposed so an external oracle can replay the window-min +
    dedup selection bit-exactly from the same hash values (the
    rolling hash is the one step a SQL engine can't recompute).

    Output: (id, pos, h_flip) — ``pos`` is the 0-based k-gram
    position and ``h_flip`` is the uint64 hash with its top bit
    flipped, viewed as int64: an ORDER-PRESERVING uint64→int64 map,
    so a signed MIN over h_flip picks the same gram as the kernel's
    unsigned MIN (xor the sign bit back to recover the fingerprint
    int64 view that :func:`winnow_fingerprints` emits).
    """
    import numpy as np
    import pandas as pd

    B = np.uint64(1099511628211)  # same multiplier as the kernel above
    flip = np.uint64(1) << np.uint64(63)

    def kernel(batches):
        np.seterr(over="ignore")
        pw = B ** np.arange(k, dtype=np.uint64)[::-1]
        for pdf in batches:
            ids_out, pos_out, h_out = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                codes = np.frombuffer(
                    txt.strip().lower().encode("utf-8"), dtype=np.uint8
                ).astype(np.uint64)
                n = len(codes) - k + 1
                if n < 1:
                    continue
                h = np.zeros(n, dtype=np.uint64)
                for j in range(k):
                    h += codes[j : j + n] * pw[j]
                ids_out.append(np.full(n, did, dtype=np.int64))
                pos_out.append(np.arange(n, dtype=np.int64))
                h_out.append((h ^ flip).astype(np.int64))
            if ids_out:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids_out),
                        "pos": np.concatenate(pos_out),
                        "h_flip": np.concatenate(h_out),
                    }
                )

    return documents.select(F.col(id_col), F.col(text_col)).mapInPandas(
        kernel, f"{id_col} long, pos long, h_flip long"
    )


def tfidf_top_terms(
    documents: DataFrame,
    *,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k salient terms per document by TF-IDF.

    IDF uses the log-free rational form ``(N+1)/(df+1)`` rather than
    its logarithm: ln() is not correctly-rounded in either JVM libm
    or C libm, so a log-based score can differ by 1 ulp across
    engines and flip rank ties — the rational form is plain IEEE
    division, bit-identical everywhere, and order-equivalent for
    ranking within a document whenever tf is constant. Shape: two
    keyed aggregations (doc-term tf, term df — both map-side
    partial), a term-keyed join, a broadcast scalar N, one window.
    """
    toks = documents.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    (F.col("n_docs") + F.lit(1)).cast("double")
                    / (F.col("df") + F.lit(1)).cast("double")
                ),
                4,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "score", "rank")
    )


# patterns restricted to syntax valid in BOTH Java regex (Spark) and
# RE2 (DuckDB oracle): no backreferences, no lookaround
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_LONG_DIGITS = r"\d{6,}"


def pii_redact(
    documents: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Redact common PII shapes (emails, IPv4s, long digit runs —
    phone/account/SSN-ish) from a text column; report per-doc match
    counts so downstream filters can drop high-PII documents.

    Pure ``regexp_replace``/``regexp_extract_all`` Column expressions
    — codegen, no UDF, embarrassingly parallel. Counts are computed
    BEFORE replacement; the digit-run pass runs last so emails/IPs
    containing digits are counted under their specific class.
    """
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "[EMAIL]"),
            _PII_IPV4,
            "[IP]",
        ),
        _PII_LONG_DIGITS,
        "[NUM]",
    )
    return documents.select(
        F.col(id_col),
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_IPV4), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
    )


def unigram_surprisal(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus-trained unigram LM surprisal per document — the
    SQL-expressible proxy for the LM-perplexity quality filter
    (Wenzek et al. 2020, "CCNet" — public methodology: documents with
    unusually high perplexity under a reference LM are dropped or
    down-weighted).

    score(d) = mean over tokens t of −ln P(t), with P estimated from
    the corpus itself (a held-out/reference corpus just swaps the
    frequency table). Output: (doc_id, n_tokens, mean_surprisal).

    Scale shape: one map-side-combined frequency aggregation over
    (8-byte hashed) tokens, one shuffle join of the token stream
    against the frequency table on the same key, one per-doc mean —
    all codegen. The frequency table is |vocab| rows; Catalyst
    broadcasts it when small, shuffles both sides at web-corpus vocab
    sizes. No driver collect at any size.
    """
    # F.explode (not explode_outer): a NULL/empty-text document must
    # contribute zero tokens. explode_outer would emit a NULL pseudo-token
    # that the groupBy keeps, inflating `total` (and shifting every
    # document's mean) while the inner join silently drops it — the
    # DuckDB/unnest oracle drops NULLs, so explode is the matching choice.
    posting = documents.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
    )
    freqs = posting.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freqs.agg(F.sum("c").alias("total"))
    scored = (
        posting.join(freqs, "tok")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            (-F.log(F.col("c") / F.col("total"))).alias("surprisal"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("surprisal"), 4).alias("mean_surprisal"),
    )


def bigram_surprisal(
    documents: DataFrame,
    text_col: str = "text",
    *,
    lam: float = 0.7,
) -> DataFrame:
    """Corpus-trained BIGRAM LM surprisal per document — the stronger
    sibling of :func:`unigram_surprisal` (Wenzek et al. 2020 "CCNet"
    lineage: LM surprisal as the quality signal; a bigram model
    penalizes scrambled word order that unigram statistics cannot
    see).

    Jelinek–Mercer interpolation, fixed-order and engine-portable:
    P(cur | prev) = lam * c2(prev, cur) / c1(prev)
                  + (1 - lam) * c1(cur) / N.
    score(d) = mean over bigram positions of −ln P; documents with
    fewer than 2 tokens emit no row. Output: (doc_id, n_bigrams,
    mean_surprisal).

    Scale shape: one posexplode token stream, bigrams from a lag
    window partitioned by doc (no self-join), two map-side-combined
    frequency aggregations ((prev, cur) and unigram — 8-byte-ish
    keys), two shuffle joins of the bigram stream against them, one
    per-doc mean. The scalar N broadcasts. No driver collect at any
    size — the same plan at web-corpus vocabulary.
    """
    posting = documents.select(
        "doc_id", F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = posting.select(
        "doc_id",
        F.lag("tok").over(w).alias("prev"),
        F.col("tok").alias("cur"),
    ).filter(F.col("prev").isNotNull())
    c2 = bigrams.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("c2")
    )
    c1 = posting.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    total = c1.agg(F.sum("c1").alias("total"))
    scored = (
        bigrams.join(c2, ["prev", "cur"])
        .join(c1.select(F.col("tok").alias("prev"), F.col("c1").alias("cp")), "prev")
        .join(c1.select(F.col("tok").alias("cur"), F.col("c1").alias("cc")), "cur")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            (
                -F.log(
                    F.lit(lam) * F.col("c2") / F.col("cp")
                    + F.lit(1.0 - lam) * F.col("cc") / F.col("total")
                )
            ).alias("surprisal"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("surprisal"), 4).alias("mean_surprisal"),
    )


def bpe_merges(
    documents: DataFrame,
    *,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """First BPE training iteration (Sennrich et al. 2016, public
    methodology): the ``top_k`` most frequent ADJACENT character pairs
    over the corpus word distribution — the merge candidates a BPE
    vocabulary build would fuse first.  Restricted to purely
    alphabetic lowercase word forms so the symbol alphabet is stable
    across engines.  Ties break on the pair string for determinism.

    Scale shape: word frequencies first (one map-side-combined
    aggregation — the pair explosion then runs over DISTINCT words
    weighted by count, not over every token occurrence, which is the
    standard BPE trick and cuts the explode by the corpus's
    type-token ratio); pair counting is a second combined aggregation;
    the final top-k is a ``TakeOrderedAndProject``, no global sort.
    """
    words = (
        documents.select(
            F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
        )
        .filter(F.col("word").rlike("^[a-z][a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("__wc"))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("word") - F.lit(1)),
        lambda i: F.col("word").substr(i.cast("int"), F.lit(2)),
    )
    return (
        words.select(F.explode(pairs).alias("pair"), "__wc")
        .groupBy("pair")
        .agg(F.sum("__wc").alias("merge_count"))
        .orderBy(F.desc("merge_count"), "pair")
        .limit(top_k)
    )


def normalize_text(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode + whitespace canonicalization — the normalization pass
    BEFORE hashing/dedup so that byte-different renderings of the
    same text (decomposed accents, stray control bytes, ragged
    spacing) collapse to one form:

      1. Unicode NFC composition,
      2. strip C0/DEL control characters (tab and newline survive as
         whitespace and are collapsed by step 3),
      3. collapse runs of whitespace to one space, trim.

    Zero-shuffle Arrow kernel (``mapInPandas``): NFC has no Spark
    built-in, and one vectorized pass is cheaper than stacking three
    ``regexp_replace`` JVM round trips anyway. Steps 2-3 mirror the
    DuckDB oracle's ``nfc_normalize`` + regex replays exactly.

    Output: (id, text_norm, changed). Reference analog: lowercase +
    trim only (`data_loader.py:354-360`); NFC is the part that makes
    exact-hash dedup honest on real multilingual corpora.
    """
    import re as _re

    src_cols = [id_col, text_col]

    def kernel(batches):
        import unicodedata

        import pandas as pd

        ctrl = _re.compile(r"[\x00-\x08\x0b-\x1f\x7f]")
        # ASCII \s, matching the oracle's RE2 semantics — Python's
        # Unicode \s would additionally eat NBSP etc. and diverge
        ws = _re.compile(r"\s+", _re.ASCII)
        for pdf in batches:
            ids, norm, changed = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                t = unicodedata.normalize("NFC", text)
                t = ctrl.sub("", t)
                t = ws.sub(" ", t).strip()
                ids.append(doc_id)
                norm.append(t)
                changed.append(t != text)
            yield pd.DataFrame(
                {id_col: ids, "text_norm": norm, "changed": changed}
            )

    id_type = documents.schema[id_col].dataType.simpleString()
    return documents.select(*src_cols).mapInPandas(
        kernel, f"{id_col} {id_type}, text_norm string, changed boolean"
    )


def perplexity_filter(
    documents: DataFrame,
    *,
    z_cutoff: float = 2.0,
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style perplexity screen, closed into a VERDICT: flag
    documents whose bigram-LM surprisal sits more than ``z_cutoff``
    standard deviations above the corpus mean.

    :func:`bigram_surprisal` produces the signal; this normalizes it
    against the corpus's own distribution (one 1-row aggregate,
    broadcast back) so the cutoff is scale-free — the same 2.0 works
    whether the corpus is clean prose or web scrape. Stats round to
    6 dp, z to 4 dp; σ = 0 (degenerate corpus) keeps everything.

    Output: (doc_id, n_bigrams, mean_surprisal, z, keep).
    """
    s = bigram_surprisal(documents, text_col)
    ms = F.col("mean_surprisal")
    stats = s.agg(
        F.round(F.avg(ms), 6).alias("__m"),
        F.round(
            F.sqrt(F.greatest(F.avg(ms * ms) - F.avg(ms) * F.avg(ms), F.lit(0.0))),
            6,
        ).alias("__sd"),
    )
    z = F.when(F.col("__sd") == 0, F.lit(0.0)).otherwise(
        F.round((ms - F.col("__m")) / F.col("__sd"), 4)
    )
    return (
        s.join(F.broadcast(stats))
        .select(
            "doc_id",
            "n_bigrams",
            "mean_surprisal",
            z.alias("z"),
            (z <= F.lit(z_cutoff)).alias("keep"),
        )
    )


def char_entropy(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-level Shannon entropy per document (nats) — the
    cheapest gibberish/compression-artifact signal: base64 blobs and
    key-mash score high, repeated-char padding scores near 0, natural
    language sits in a narrow band.

    Zero-shuffle Arrow kernel, one ``Counter`` pass per document.
    Computed as ln(n) − Σ c·ln(c)/n (algebraically −Σ p·ln p, but
    with one division instead of one per distinct char), terms summed
    in SORTED character order so the float accumulation is
    deterministic; result rounds to 4 dp, matching the DuckDB
    replay's grouped form. NULL text drops, same as the oracle.

    Output: (id, n_chars_measured, n_distinct_chars, entropy).
    """

    def kernel(batches):
        import math
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            ids, ns, ds, hs = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or len(text) == 0:
                    continue
                c = Counter(text)
                n = len(text)
                s = sum(v * math.log(v) for _, v in sorted(c.items()))
                ids.append(doc_id)
                ns.append(n)
                ds.append(len(c))
                hs.append(math.floor((math.log(n) - s / n) * 10000.0 + 0.5) / 10000.0)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_chars_measured": ns,
                    "n_distinct_chars": ds,
                    "entropy": hs,
                }
            )

    id_type = documents.schema[id_col].dataType.simpleString()
    return documents.select(id_col, text_col).mapInPandas(
        kernel,
        f"{id_col} {id_type}, n_chars_measured long, "
        "n_distinct_chars long, entropy double",
    )


def bm25_topk(
    documents: DataFrame,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25
    (Robertson & Walker's Okapi ranking — the standard lexical
    retrieval scorer; Spark ships no retrieval ranking at all).

    IDF uses the log-free rational form ``(N − df + 0.5)/(df + 0.5)``
    — the argument of BM25's log, without the log — for the same
    reason ``tfidf_top_terms`` does: ln() is not correctly rounded in
    either engine's libm, while +,−,×,÷ are, so a fixed arithmetic
    expression tree evaluates BIT-IDENTICALLY in the JVM and the
    DuckDB oracle. Per-term scores round to 6 dp and sum as
    DECIMAL(18,6): a float reduction's order is engine-dependent, a
    decimal sum is exact and order-free — the one place a multi-term
    score could otherwise diverge.

    Scale shape: the token stream filters to the query's terms BEFORE
    any aggregation (codegen isin over a literal list — the inverted-
    index probe), so the tf aggregation touches only matching
    postings; doc lengths reduce map-side; N/avgdl is a 1-row
    broadcast; df is |query| rows. Top-k is orderBy+limit →
    TakeOrderedAndProject, never a global window.

    Output: (doc_id, bm25) — the k highest-scoring docs, ties broken
    by id.
    """
    toks = documents.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__t")
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("__dl").alias("__total_dl"),
    )
    tf = (
        toks.filter(F.col("__t").isin(query_terms))
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    n_d = F.col("__n_docs").cast("double")
    idf = ((F.col("__n_docs") - F.col("__df")).cast("double") + F.lit(0.5)) / (
        F.col("__df").cast("double") + F.lit(0.5)
    )
    avgdl = F.col("__total_dl").cast("double") / n_d
    tf_d = F.col("__tf").cast("double")
    denom = tf_d + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("__dl").cast("double") / avgdl)
    )
    term_score = F.round((idf * (tf_d * F.lit(k1 + 1.0))) / denom, 6).cast(
        "decimal(18,6)"
    )
    scored = (
        tf.join(F.broadcast(dfreq), "__t")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(term_score).alias("__s"))
    )
    return (
        scored.select(F.col(id_col), F.col("__s").cast("double").alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def lang_confusion(
    documents: DataFrame,
    *,
    text_col: str = "text",
    gold_col: str = "lang",
) -> DataFrame:
    """Confusion matrix of :func:`lang_id` predictions against a gold
    label column — the evaluation half of the language-ID pipeline
    (per-language recall shares are what decide whether the
    lexicon-overlap heuristic is good enough for mixture routing or
    needs escalation to a trained model).

    The matrix is ≤ |langs|² rows: one prediction pass (pure Column
    expressions), one map-side-combined cell count, one broadcast
    join of per-gold-language totals. Output: (gold_lang,
    predicted_lang, n, recall_share 6 dp).
    """
    pred = lang_id(documents, text_col).select("doc_id", "predicted_lang")
    gold = documents.select(
        "doc_id", F.col(gold_col).alias("gold_lang")
    )
    cells = (
        pred.join(gold, "doc_id")
        .groupBy("gold_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = cells.groupBy("gold_lang").agg(F.sum("n").alias("__t"))
    return (
        cells.join(F.broadcast(totals), "gold_lang")
        .select(
            "gold_lang",
            "predicted_lang",
            "n",
            F.round(
                F.col("n") / F.col("__t").cast("double"), 6
            ).alias("recall_share"),
        )
        .orderBy("gold_lang", "predicted_lang")
    )


def tokenizer_fertility(
    documents: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Tokenizer FERTILITY per language: characters per BPE piece and
    pieces per whitespace word — the standard audit for how fairly a
    tokenizer treats each language in a multilingual mixture (high
    fertility = more pieces per word = that language pays more
    compute/context per sentence; public methodology from
    multilingual-tokenizer evaluations).

    Per-group ratios are quotients of exact BIGINT sums (one map-side
    combined aggregation), rounded once — no float accumulation
    anywhere. Output: (lang, n_docs, total_chars, total_pieces,
    chars_per_piece, pieces_per_word).
    """
    counts = bpe_token_count(documents, text_col).select(
        "doc_id", "n_ws_tokens", "n_bpe_pieces"
    )
    base = documents.select(
        "doc_id",
        F.col(group_col).alias("lang"),
        F.length(F.col(text_col)).cast("long").alias("__chars"),
    )
    return (
        base.join(counts, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__chars").alias("total_chars"),
            F.sum("n_bpe_pieces").alias("total_pieces"),
            F.sum("n_ws_tokens").alias("__words"),
        )
        .select(
            "lang",
            "n_docs",
            "total_chars",
            "total_pieces",
            F.round(
                F.col("total_chars")
                / F.col("total_pieces").cast("double"),
                4,
            ).alias("chars_per_piece"),
            F.round(
                F.col("total_pieces") / F.col("__words").cast("double"),
                4,
            ).alias("pieces_per_word"),
        )
        .orderBy("lang")
    )


def pii_source_report(
    documents: DataFrame,
    *,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """PII incidence rolled up per source — the governance view over
    :func:`pii_redact`'s per-document counts: which sources leak
    identifiers, at what rate, and how much of each would survive a
    zero-PII gate. Source-level rates are what decide "redact and
    keep" vs "drop the feed".

    One pass: the per-doc match counts (pure regexp Column
    expressions) reduce map-side to |sources| rows. Output:
    (source, n_docs, n_docs_with_pii, total_emails, total_ips,
    pii_doc_share 6 dp).
    """
    t = F.col(text_col)
    n_emails = F.size(
        F.regexp_extract_all(t, F.lit(_PII_EMAIL), F.lit(0))
    ).cast("long")
    n_ips = F.size(
        F.regexp_extract_all(t, F.lit(_PII_IPV4), F.lit(0))
    ).cast("long")
    per_doc = documents.select(
        F.col(source_col).alias("source"),
        n_emails.alias("__e"),
        n_ips.alias("__i"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                ((F.col("__e") + F.col("__i")) > 0).cast("long")
            ).alias("n_docs_with_pii"),
            F.sum("__e").alias("total_emails"),
            F.sum("__i").alias("total_ips"),
        )
        .select(
            "source",
            "n_docs",
            "n_docs_with_pii",
            "total_emails",
            "total_ips",
            F.round(
                F.col("n_docs_with_pii")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("pii_doc_share"),
        )
        .orderBy("source")
    )


def zipf_fit(
    documents: DataFrame,
    *,
    max_rank: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Zipf's-law fit over the token frequency spectrum: OLS slope of
    ln(freq) against ln(rank) for the top ``max_rank`` types — the
    corpus-linguistics health check (natural text sits near −1;
    template/boilerplate-heavy corpora flatten, gibberish steepens
    and breaks the line). Wired from the same regression aggregates
    as ``user_value_trend`` (regr_slope/regr_intercept/corr — moment
    sums combine map-side), with ln applied to exact BIGINT
    frequencies and ranks; outputs round to 4 dp, the engine's
    established tolerance for transcendental inputs (verified vs
    DuckDB's regr_* family).

    Output: 1 row (n_types_fit, slope, intercept, r2).
    """
    freqs = (
        documents.select(F.explode(tokens(F.col(text_col))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    # top-max_rank via orderBy+limit → TakeOrderedAndProject
    # (distributed per-partition heaps): the type spectrum is
    # VOCABULARY-sized (Heaps' law: millions+ at 100 TB), so ranking
    # it with a global row_number window would funnel every type
    # through one task. Ranks attach afterwards on the ≤ max_rank
    # frame — total order (f desc, t) makes limit-then-rank
    # deterministic and identical to rank-then-filter.
    top = freqs.orderBy(F.col("f").desc(), F.col("t")).limit(max_rank)
    # bounded: ≤ max_rank rows — the limit(max_rank) head above
    w = Window.orderBy(F.col("f").desc(), F.col("t"))
    ranked = (
        top.withColumn("r", F.row_number().over(w))
        .select(
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("f").cast("double")).alias("y"),
        )
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_types_fit"),
        F.round(F.regr_slope("y", "x"), 4).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
        F.round(F.corr("y", "x") * F.corr("y", "x"), 4).alias("r2"),
    )


def token_cooccurrence_lift(
    documents: DataFrame,
    *,
    window: int = 5,
    vocab_size: int = 200,
    min_pair: int = 10,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Collocation mining: the ``k`` most frequent ordered token
    pairs co-occurring within ``window`` positions, with their LIFT
    (observed pair count vs the independence expectation
    n_pair·N / (n1·n2)) — the corpus-statistics screen for boilerplate
    phrases, templated spans, and tokenizer-merge candidates.

    Scale discipline: pair generation is an ARRAY expression per
    document (≤ window pairs per token, no self-join), and both pair
    ends are filtered against a ``vocab_size``-row top-token frame
    via broadcast semi-joins BEFORE the pair shuffle — the shuffled
    key space is bounded by vocab², not token². Lift stays a VALUE
    column (exact integer products, one IEEE division, 6 dp); the
    top-k ranks by the integer pair count with lexicographic
    tie-break, so no float ever orders rows. Vocabulary ties at the
    cutoff break on the token itself. PMI is intentionally NOT
    emitted: it is log(lift), and libm log moves last ULPs across
    engines — rank by count, read lift, take the log offline.

    Output: (t1, t2, n_pair, lift) — t1 precedes t2 in text order.
    """
    toked = documents.filter(F.col(text_col).isNotNull()).select(
        tokens(F.col(text_col)).alias("__toks")
    )
    uni = (
        toked.select(F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = uni.agg(F.sum("n").alias("N"))
    vocab = uni.orderBy(F.col("n").desc(), F.col("tok")).limit(vocab_size)
    pairs = (
        toked.filter(F.size("__toks") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.expr(
                        f"transform(sequence(1, size(__toks) - 1), i -> "
                        f"transform(sequence(1, least({window}, "
                        f"size(__toks) - i)), d -> "
                        f"struct(element_at(__toks, i) AS t1, "
                        f"element_at(__toks, i + d) AS t2)))"
                    )
                )
            ).alias("__p")
        )
        .select(F.col("__p.t1").alias("t1"), F.col("__p.t2").alias("t2"))
    )
    v1 = vocab.select(F.col("tok").alias("t1"), F.col("n").alias("n1"))
    v2 = vocab.select(F.col("tok").alias("t2"), F.col("n").alias("n2"))
    counted = (
        pairs.join(F.broadcast(v1), "t1")
        .join(F.broadcast(v2), "t2")
        .groupBy("t1", "t2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair)
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .select(
            "t1",
            "t2",
            "n_pair",
            F.round(
                (F.col("n_pair") * F.col("N")).cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_pair").desc(), "t1", "t2")
        .limit(k)
    )


def textrank_keywords(
    documents: DataFrame,
    *,
    window: int = 2,
    vocab_size: int = 150,
    iterations: int = 3,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the token co-occurrence graph — tokens that co-occur within
    ``window`` positions vote for each other; globally central tokens
    surface as corpus keywords.

    Composition of two proven pieces: the array-expression pair
    generation of :func:`token_cooccurrence_lift` (per-document, no
    self-join; both endpoints broadcast-filtered against the
    ``vocab_size`` top-token frame BEFORE the pair shuffle, bounding
    the edge key space by vocab², not token²) and
    :func:`etl_gcp_spark.operators.graph.pagerank` (fixed iteration
    count, per-round 8-dp rounding — every intermediate replayable).
    The graph is undirected: canonical least/greatest pairs counted
    once, then emitted in both directions; self-loops dropped.

    Scale: the corpus-sized work is one explode + one bounded-key
    shuffle; everything after (vocab frame, edge list ≤ vocab²,
    rank iterations) is broadcast-sized regardless of corpus size.

    Output: top-``k`` (token, n_token, score) by score desc with
    lexicographic tie-break — deterministic because the score is a
    fixed rounded-arithmetic chain on both engines.
    """
    from etl_gcp_spark.operators.graph import pagerank

    toked = documents.filter(F.col(text_col).isNotNull()).select(
        tokens(F.col(text_col)).alias("__toks")
    )
    uni = (
        toked.select(F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = uni.orderBy(F.col("n").desc(), F.col("tok")).limit(vocab_size)
    pairs = (
        toked.filter(F.size("__toks") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.expr(
                        f"transform(sequence(1, size(__toks) - 1), i -> "
                        f"transform(sequence(1, least({window}, "
                        f"size(__toks) - i)), d -> "
                        f"struct(element_at(__toks, i) AS t1, "
                        f"element_at(__toks, i + d) AS t2)))"
                    )
                )
            ).alias("__p")
        )
        .filter(F.col("__p.t1") != F.col("__p.t2"))
        .select(
            F.least("__p.t1", "__p.t2").alias("a"),
            F.greatest("__p.t1", "__p.t2").alias("b"),
        )
    )
    va = vocab.select(F.col("tok").alias("a"))
    vb = vocab.select(F.col("tok").alias("b"))
    counted = (
        pairs.join(F.broadcast(va), "a")
        .join(F.broadcast(vb), "b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = counted.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionAll(
        counted.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "w"
        )
    )
    nodes = vocab.select(F.col("tok").alias("node"), "n")
    pr = pagerank(
        edges, nodes.select("node"), iterations=iterations
    )
    freqs = vocab.select(
        F.col("tok").alias("token"), F.col("n").alias("n_token")
    )
    return (
        pr.withColumnRenamed("node", "token")
        .join(F.broadcast(freqs), "token")
        .select("token", "n_token", F.col("pagerank").alias("score"))
        .orderBy(F.col("score").desc(), F.col("token"))
        .limit(k)
    )


@_metered_build
def text_index_build(
    documents: DataFrame,
    index_dir: str,
    *,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    meta_cols: tuple = (),
) -> None:
    """Build a PERSISTED inverted index — the text-side twin of the
    IVF vector index (functions/similarity.py::build_ivf_index): the
    directory layout IS the index.

    Artifact:
    - ``postings/`` — (term, doc_id, tf) partitioned by
      ``bucket = poly_hash(term) mod n_buckets`` (the engine-portable
      hash from operators/encoding.py, so a query planner in ANY
      language can compute which partitions to probe);
    - ``doclen/`` — (doc_id, dl);
    - ``stats/`` — 1 row (n_docs, total_dl).

    ``meta_cols`` denormalizes document attributes (lang, source,
    license …) into BOTH postings and doclen rows — the standard
    document-partitioned-index-with-attributes tradeoff (bytes for
    filter locality) that makes FILTERED retrieval an index-local
    operation: :func:`bm25_index_filtered_topk` pushes the attribute
    predicate into the same bucket-pruned postings scan instead of
    joining a forward index per query. Meta columns are functionally
    dependent on doc_id, so carrying them through the build
    aggregations adds grouping keys, not rows.

    Build is one tokenize + two aggregations; serving reads ONLY the
    probed buckets' partitions (PartitionFilters — plan-asserted) —
    at 100 TB a query touches |query-term buckets| directories, not
    the corpus.
    """
    import shutil

    from etl_gcp_spark.operators.encoding import _poly_hash

    # a rebuild is a fresh snapshot: erasures recorded against the
    # previous artifact do not carry over, and neither does a
    # text_index_resize's persisted bucket-count contract — a stale
    # meta/n_buckets from the old artifact would spuriously reject
    # (or, coincidentally matching, wrongly bless) this build's
    # caller-managed bucket count on every later append/serve
    shutil.rmtree(f"{index_dir}/tombstones", ignore_errors=True)
    shutil.rmtree(f"{index_dir}/meta", ignore_errors=True)
    meta = [F.col(c) for c in meta_cols]
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        *meta,
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    # ONE tokenize pass: the postings aggregation is the only consumer
    # of the exploded token stream; doclen derives from it (dl = Σ tf
    # per doc — identical values by definition), so the corpus is
    # scanned and tokenized once instead of once per artifact (r10;
    # guide §1.2: don't compute things twice). The persisted frame is
    # the POST-aggregation postings — the smallest full intermediate —
    # not the raw token stream.
    postings = (
        toks.groupBy("doc_id", "term", *meta_cols)
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "bucket", (_poly_hash(F.col("term")) % n_buckets).cast("int")
        )
        .persist()
    )
    try:
        postings.groupBy("doc_id", *meta_cols).agg(
            F.sum("tf").alias("dl")
        ).write.mode("overwrite").parquet(f"{index_dir}/doclen")
        dl_r = toks.sparkSession.read.parquet(f"{index_dir}/doclen")
        dl_r.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_dl"),
        ).write.mode("overwrite").parquet(f"{index_dir}/stats")
        # postings last — it is the artifact's committer marker (the
        # streaming twins' staged_ready guard keys on it); clustering
        # by bucket before the partitioned write keeps output at one
        # file per bucket partition instead of (tasks × buckets)
        # files — the same discipline text_index_compact applies
        # (guide §6: file sizing on write)
        # every bucket hashes into exactly one task whatever the
        # partition count, so capping tasks at the core count keeps
        # one file per bucket while bounding task-commit overhead
        n_part = min(
            n_buckets, toks.sparkSession.sparkContext.defaultParallelism
        )
        (
            postings.repartition(n_part, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{index_dir}/postings")
        )
    finally:
        postings.unpersist()


def poly_hash_py(tok: str) -> int:
    """Python twin of operators/encoding.py::_poly_hash — the query
    planner's side of the bucket contract (verified equal by the
    hypothesis property test)."""
    return sum(ord(c) * 31**i for i, c in enumerate(tok[:8])) % 2147483647


def _text_index_tombstones(spark, index_dir: str) -> DataFrame | None:
    """The erased-doc set (doc_id rows) of the ``tombstones`` slice
    store — request-path (:func:`text_index_erase`) and streamed
    (``streaming/text.py``) erasures alike — or None when nothing is
    erased."""
    tomb = read_slices(spark, f"{index_dir}/tombstones")
    return None if tomb is None else tomb.select("doc_id")


def text_index_erase(spark, index_dir: str, doc_ids) -> None:
    """Logically erase documents from the persisted inverted index —
    the right-to-be-forgotten operation a derived artifact needs: a
    user-deletion request must reach every downstream index, not just
    the source table (the table-side twin is operators/quality.py's
    user_erasure). Erasure is an O(|request|) tombstone APPEND to the
    tombstone store's ``REQUEST_SLICE`` (streamed erasures own the
    batch_id slices, so neither overwrites the other) — postings are
    NEVER rewritten on the request path, because a
    100-TB index cannot rewrite terabytes per deletion request. Serve
    paths anti-join the tombstone set (broadcast — bounded by erasure
    volume between compactions; the compaction cadence is what bounds
    it in production) and recompute the 1-row BM25 stats from the
    surviving doclen rows, so served results are immediately
    bit-equal to a fused scorer over the corpus minus the erased
    docs. :func:`text_index_compact` makes the erasure PHYSICAL:
    tombstoned rows drop out of the rewritten postings/doclen and the
    tombstone dir is cleared.

    ``doc_ids``: a list of ids (the usual per-request shape) or a
    (doc_id) DataFrame (bulk erasure — e.g. every doc of a withdrawn
    source — stays distributed, no driver collect).
    """
    if isinstance(doc_ids, DataFrame):
        df = doc_ids.select(F.col("doc_id").cast("long"))
    else:
        df = small_df(
            spark, [(int(i),) for i in doc_ids], "doc_id long"
        ).coalesce(1)
    write_slice(df, f"{index_dir}/tombstones", REQUEST_SLICE)


def bm25_index_topk(
    spark,
    index_dir: str,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
) -> DataFrame:
    """Serve BM25 top-k FROM the persisted index: compute the query
    terms' buckets driver-side with :func:`poly_hash_py`, scan only
    those postings partitions (partition pruning does the I/O
    elimination), and apply the identical fixed score tree as
    :func:`bm25_topk` — results are bit-equal to the fused path, so
    the same value-hash oracle attaches to the served output.

    If the index carries tombstones (:func:`text_index_erase`),
    erased docs are anti-joined out of both probe frames and the
    global stats are recomputed from the surviving doclen rows — the
    serve is then bit-equal to the fused scorer over the remaining
    corpus.
    """
    _check_n_buckets(spark, index_dir, n_buckets)
    buckets = sorted(
        {poly_hash_py(t) % n_buckets for t in query_terms}
    )
    postings = (
        spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(query_terms))
        .select("doc_id", F.col("term").alias("__t"), F.col("tf").alias("__tf"))
    )
    dl = spark.read.parquet(f"{index_dir}/doclen").select(
        "doc_id", F.col("dl").alias("__dl")
    )
    tomb = _text_index_tombstones(spark, index_dir)
    if tomb is not None:
        postings = postings.join(F.broadcast(tomb), "doc_id", "left_anti")
        dl = dl.join(F.broadcast(tomb), "doc_id", "left_anti")
        stats = dl.agg(
            F.count(F.lit(1)).alias("__n_docs"),
            F.sum("__dl").alias("__total_dl"),
        )
    else:
        stats = spark.read.parquet(f"{index_dir}/stats").select(
            F.col("n_docs").alias("__n_docs"),
            F.col("total_dl").alias("__total_dl"),
        )
    return bm25_score_frames(postings, dl, stats, k=k, k1=k1, b=b)


def bm25_index_filtered_topk(
    spark,
    index_dir: str,
    query_terms: list[str],
    *,
    doc_pred,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
) -> DataFrame:
    """FILTERED retrieval from the persisted inverted index — the
    text twin of the filtered IVF serve ("BM25 top-k WHERE
    lang='en'"): ``doc_pred`` (a Column over attributes baked in via
    ``text_index_build(meta_cols=...)``) restricts BOTH the postings
    probe and the doclen read, and the predicate lands in the SAME
    bucket-pruned postings scan (PartitionFilters on bucket +
    PushedFilters on the attribute — plan-asserted), never a
    per-query forward-index join.

    Semantics are SUB-CORPUS BM25: document frequency, n_docs, and
    avgdl all come from the filtered document set (stats aggregated
    on the fly from the filtered doclen — one doc-count-sized scan;
    a production deployment would precompute per-attribute stats
    rows). The contract, pytest-locked and shared with the oracle:
    the filtered serve is bit-equal to the fused :func:`bm25_topk`
    over ``documents.filter(doc_pred)``.
    """
    _check_n_buckets(spark, index_dir, n_buckets)
    buckets = sorted(
        {poly_hash_py(t) % n_buckets for t in query_terms}
    )
    postings = (
        spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(query_terms))
        .filter(doc_pred)
        .select("doc_id", F.col("term").alias("__t"), F.col("tf").alias("__tf"))
    )
    dl = (
        spark.read.parquet(f"{index_dir}/doclen")
        .filter(doc_pred)
        .select("doc_id", F.col("dl").alias("__dl"))
    )
    tomb = _text_index_tombstones(spark, index_dir)
    if tomb is not None:
        postings = postings.join(F.broadcast(tomb), "doc_id", "left_anti")
        dl = dl.join(F.broadcast(tomb), "doc_id", "left_anti")
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("__dl").alias("__total_dl"),
    )
    return bm25_score_frames(postings, dl, stats, k=k, k1=k1, b=b)


def bm25_score_frames(
    postings: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """The BM25 score tree over already-probed index frames —
    extracted from :func:`bm25_index_topk` so the streaming-ingested
    index (base tree ∪ append trees) serves through the IDENTICAL
    arithmetic: ``postings`` = (doc_id, __t, __tf) filtered to the
    query terms, ``dl`` = (doc_id, __dl), ``stats`` = one
    (__n_docs, __total_dl) row. Fixed decimal score sums, 6-dp
    per-term rounding, take-ordered top-k — bit-equal to the fused
    :func:`bm25_topk`."""
    dfreq = postings.groupBy("__t").agg(
        F.count(F.lit(1)).alias("__df")
    )
    n_d = F.col("__n_docs").cast("double")
    idf = (
        (F.col("__n_docs") - F.col("__df")).cast("double") + F.lit(0.5)
    ) / (F.col("__df").cast("double") + F.lit(0.5))
    avgdl = F.col("__total_dl").cast("double") / n_d
    tf_d = F.col("__tf").cast("double")
    denom = tf_d + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * (F.col("__dl").cast("double") / avgdl)
    )
    term_score = F.round(
        (idf * (tf_d * F.lit(k1 + 1.0))) / denom, 6
    ).cast("decimal(18,6)")
    scored = (
        postings.join(F.broadcast(dfreq), "__t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("__s"))
    )
    return (
        scored.select(
            "doc_id", F.col("__s").cast("double").alias("bm25")
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


@_metered_build
def text_index_append(
    new_documents: DataFrame,
    index_dir: str,
    *,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    meta_cols: tuple = (),
) -> None:
    """Grow the persisted inverted index — the text twin of
    ivf_index_append: new documents' postings land as NEW FILES in
    the existing bucket partitions (append mode — the existing
    postings are never read or rewritten), doclen rows append, and
    the 1-row stats table is recomputed from the doc-count-sized
    doclen directory (BM25's global statistics are additive, so the
    refresh never touches postings). Serving after append is
    bit-equal to a fused scorer over the union corpus — one oracle
    covers the whole build → append → serve lifecycle.
    ``meta_cols`` must match the build's — mixed-schema trees would
    break filtered serves — so the base doclen tree's schema is
    checked first and a mismatch in either direction fails fast
    (same contract as ivf_index_append's guard on the vector side).
    """
    from etl_gcp_spark.operators.encoding import _poly_hash

    spark = new_documents.sparkSession
    _check_n_buckets(spark, index_dir, n_buckets)
    base_meta = set(
        spark.read.parquet(f"{index_dir}/doclen").schema.names
    ) - {"doc_id", "dl"}
    if base_meta != set(meta_cols):
        raise ValueError(
            "text_index_append meta_cols mismatch: index at "
            f"{index_dir!r} carries metadata columns "
            f"{sorted(base_meta)}, append supplies {sorted(meta_cols)}"
        )
    toks = new_documents.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in meta_cols],
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    # one tokenize pass for the delta, same as text_index_build (r10):
    # doclen derives from the aggregated postings (dl = Σ tf per doc)
    postings = (
        toks.groupBy("doc_id", "term", *meta_cols)
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "bucket",
            (_poly_hash(F.col("term")) % n_buckets).cast("int"),
        )
        .persist()
    )
    try:
        postings.groupBy("doc_id", *meta_cols).agg(
            F.sum("tf").alias("dl")
        ).write.mode("append").parquet(f"{index_dir}/doclen")
        # cluster by bucket before the partitioned append, exactly like
        # text_index_build: the persisted frame materializes at the
        # STATIC shuffle-partition count (cached plans bypass AQE
        # coalescing), so an unclustered write fans out to
        # (cache partitions × touched buckets) files — measured r11:
        # 48 → 792 postings files and the append entry 2.4× slower on
        # a quiet host (the r10 driver's 11× under throttled I/O).
        # One exchange of the post-agg delta bounds it at one file per
        # bucket per append (guide §6).
        n_part = min(
            n_buckets, spark.sparkContext.defaultParallelism
        )
        (
            postings.repartition(n_part, "bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(f"{index_dir}/postings")
        )
    finally:
        postings.unpersist()
    stats = (
        spark.read.parquet(f"{index_dir}/doclen")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_dl"),
        )
        .collect()[0]
    )
    small_df(
        spark,
        [(stats["n_docs"], stats["total_dl"])],
        "n_docs long, total_dl long",
    ).write.mode("overwrite").parquet(f"{index_dir}/stats")


@_metered_build
def text_index_compact(spark, index_dir: str, *, n_buckets: int = 64) -> None:
    """Fold accumulated append files back into one file per postings
    bucket — the text twin of ivf_index_compact: ordinary parquet
    maintenance that bounds small-file count after many appends
    (each append adds ≥1 file per touched bucket; a year of hourly
    appends is 9K files per bucket without this). Hash-repartition
    on the bucket column puts each bucket in one task → one output
    file per partition directory; the swap is write-new-then-rename
    (never overwrite-in-place of a tree being read). Compaction
    moves bytes, not semantics: serving before and after returns
    identical results (pytest + the shared oracle).
    """
    import shutil

    postings = f"{index_dir}/postings"
    heal_swap(postings)
    heal_swap(f"{index_dir}/doclen")
    # full payload, not a fixed projection — a meta-enriched index
    # (text_index_build(meta_cols=...)) must keep its attribute
    # columns through compaction or filtered serves break after it
    allp = spark.read.parquet(postings)
    # compaction is where erasure becomes PHYSICAL: tombstoned rows
    # (text_index_erase) drop out of the rewritten postings + doclen,
    # stats are recomputed over the survivors, and the tombstone dir
    # is cleared — after this, no trace of the erased docs remains in
    # any index artifact
    tomb = _text_index_tombstones(spark, index_dir)
    if tomb is not None:
        allp = allp.join(F.broadcast(tomb), "doc_id", "left_anti")
    allp.repartition(n_buckets, "bucket").write.partitionBy(
        "bucket"
    ).mode("overwrite").parquet(postings + "_compacting")
    commit_swap(postings)
    if tomb is not None:
        doclen = f"{index_dir}/doclen"
        kept = spark.read.parquet(doclen).join(
            F.broadcast(tomb), "doc_id", "left_anti"
        )
        kept.write.mode("overwrite").parquet(doclen + "_compacting")
        commit_swap(doclen)
        spark.read.parquet(doclen).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_dl"),
        ).write.mode("overwrite").parquet(f"{index_dir}/stats")
        shutil.rmtree(f"{index_dir}/tombstones", ignore_errors=True)


@_metered_build
def text_index_resize(spark, index_dir: str, *, n_buckets: int) -> None:
    """Re-bucket the persisted inverted index to a NEW bucket count —
    the text side's "retrain" (vector twin:
    similarity.py::ivf_retrain_swap): the term-hash bucket is the
    index's partition function, and its count fixes the serve-time
    pruning granularity (a probe reads |query_terms| buckets ≈
    1/n_buckets of the postings each). A corpus grown far past its
    build-time sizing leaves each bucket arbitrarily large — resizing
    is the maintenance act the bucket-count choice defers, exactly as
    retraining is for drifted centroids.

    One pass: postings (minus tombstones) re-hash to
    ``poly_hash(term) % n_buckets``, republished
    write-new-then-rename (:func:`~etl_gcp_spark.streaming.staging.
    commit_swap`; crash self-repairs via heal_swap on the next
    maintenance call). Like a retrain, the rebuild is a fresh
    snapshot: tombstoned docs drop out of every artifact (doclen
    filtered, stats recomputed) and the tombstone dir is cleared.
    Serves must pass the new ``n_buckets`` — the score tree is
    bucket-invariant, so results are bit-equal before and after
    (pytest + the shared fused oracle).
    """
    import shutil

    from etl_gcp_spark.operators.encoding import _poly_hash
    postings = f"{index_dir}/postings"
    doclen = f"{index_dir}/doclen"
    heal_swap(postings)
    heal_swap(doclen)
    allp = spark.read.parquet(postings).drop("bucket")
    tomb = _text_index_tombstones(spark, index_dir)
    if tomb is not None:
        allp = allp.join(F.broadcast(tomb), "doc_id", "left_anti")
    (
        allp.withColumn(
            "bucket",
            (_poly_hash(F.col("term")) % n_buckets).cast("int"),
        )
        .repartition(n_buckets, "bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(postings + "_compacting")
    )
    commit_swap(postings)
    # record the new partition function: appends and serves at the
    # OLD count would misroute terms silently (wrong bucket -> probe
    # misses), so the count is persisted and checked fail-fast by
    # _check_n_buckets in every bucket-dependent operation
    small_df(
        spark, [(int(n_buckets),)], "n_buckets int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/meta")
    if tomb is not None:
        kept = spark.read.parquet(doclen).join(
            F.broadcast(tomb), "doc_id", "left_anti"
        )
        kept.write.mode("overwrite").parquet(doclen + "_compacting")
        commit_swap(doclen)
        spark.read.parquet(doclen).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_dl"),
        ).write.mode("overwrite").parquet(f"{index_dir}/stats")
        shutil.rmtree(f"{index_dir}/tombstones", ignore_errors=True)


def _check_n_buckets(spark, index_dir: str, n_buckets: int) -> None:
    """Fail fast when a bucket-dependent operation (append, compact,
    serve) is called with a bucket count different from the one a
    :func:`text_index_resize` recorded — a mismatched count would
    hash terms into the wrong partitions (appends) or probe the wrong
    ones (serves), both silent. Indexes never resized carry no meta
    file and keep their caller-managed contract."""
    meta = f"{index_dir}/meta"
    if not os.path.isdir(meta):
        return
    stored = spark.read.parquet(meta).collect()[0]["n_buckets"]
    if int(stored) != int(n_buckets):
        raise ValueError(
            f"index at {index_dir!r} was resized to n_buckets={stored}; "
            f"got n_buckets={n_buckets}"
        )


def _bpe_train_loop(
    documents: DataFrame,
    n_merges: int,
    text_col: str,
    end_marker: str,
):
    """Shared BPE training loop: returns (merge rows, FINAL
    segmentation frame (w, freq, syms) — localCheckpointed; callers
    unpersist). The frame keeps the word key so the apply side
    (:func:`bpe_segment_counts`) can join per-occurrence doc words
    against the trained segmentation."""
    words = (
        documents.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), r"\s+")
            ).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = words.select(
        "w",
        "freq",
        F.concat(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ),
            F.array(F.lit(end_marker)),
        ).alias("syms"),
    ).localCheckpoint(eager=True)

    out_rows = []
    for rank in range(1, n_merges + 1):
        n = F.size("syms")
        pairs = (
            syms.filter(n >= 2)
            .select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), F.lit(1), n - 1).alias(
                            "ls"
                        ),
                        F.slice(F.col("syms"), F.lit(2), n - 1).alias(
                            "rs"
                        ),
                    )
                ).alias("p"),
            )
            .select(
                F.col("p.ls").alias("l"),
                F.col("p.rs").alias("r"),
                "freq",
            )
            .groupBy("l", "r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        l, r, cnt = pairs[0]["l"], pairs[0]["r"], int(pairs[0]["cnt"])
        out_rows.append((rank, l, r, l + r, cnt))
        merged = F.aggregate(
            "syms",
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(l))
                & (x == F.lit(r)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.concat(F.element_at(acc, -1), x)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        nxt = syms.select(
            "w", "freq", merged.alias("syms")
        ).localCheckpoint(eager=True)
        syms.unpersist()
        syms = nxt
    return out_rows, syms


def bpe_train_merges(
    documents: DataFrame,
    *,
    n_merges: int = 10,
    text_col: str = "text",
    end_marker: str = "</w>",
) -> DataFrame:
    """Distributed BPE merge training (Sennrich, Haddow & Birch 2016,
    "Neural Machine Translation of Rare Words with Subword Units") —
    the full iterative tokenizer-TRAINING loop, extending
    :func:`bpe_merges` (which ranks only the FIRST iteration's merge
    candidates): learn the merge table itself from the corpus.

    Algorithm, exactly the paper's: words (whitespace-split,
    lowercased) become character sequences with an end-of-word
    symbol; each round counts all adjacent symbol pairs weighted by
    word frequency, takes the most frequent pair (ties broken
    lexicographically on (left, right) — deterministic across
    engines), and greedily merges it left-to-right in every word
    (non-overlapping: ``aaa`` with pair (a,a) → ``[aa, a]``).

    Scale shape — the reason BPE training map-reduces: after ONE
    corpus pass the working set is the (word, freq) VOCABULARY, not
    the corpus; every round is then (1) a pair-count aggregation
    over vocabulary rows (map-side combined, shuffle carries (pair,
    partial count)), (2) a single-row argmax collect (the same
    bounded-collect class as k-means centroids), (3) a pure-
    expression greedy fold over each word's symbol array — no
    shuffle at all. Lineage is truncated per round
    (``localCheckpoint``) so the plan stays flat across rounds. At
    web scale the vocabulary is millions of rows against a corpus of
    billions — the one corpus-sized pass is the explode/groupBy that
    builds it.

    Stops early when no adjacent pair remains. Output:
    (rank, left_sym, right_sym, merged, pair_count) — one row per
    learned merge, rank 1-based in merge order.
    """
    out_rows, syms = _bpe_train_loop(
        documents, n_merges, text_col, end_marker
    )
    syms.unpersist()
    return small_df(
        documents.sparkSession,
        out_rows,
        "rank int, left_sym string, right_sym string,"
        " merged string, pair_count long",
    )


def bpe_segment_counts(
    documents: DataFrame,
    *,
    n_merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    end_marker: str = "</w>",
) -> DataFrame:
    """The APPLY half of the tokenizer lifecycle: train the merge
    table (:func:`bpe_train_merges`\'s loop) and segment every
    document under it, reporting per-document token counts — the
    number a data pipeline actually budgets by (sequence packing,
    context-length filtering, cost estimation run on TOKENS of the
    production vocabulary, not whitespace words).

    Scale shape: segmentation is computed ONCE PER DISTINCT WORD
    (the training loop's vocabulary frame already holds the final
    symbol arrays — zero extra merge work), then one join from the
    per-occurrence (doc_id, word) explode onto that vocabulary and a
    map-side-combined count/sum per document. The corpus-sized work
    is the explode + join; everything BPE is vocab-sized.

    Output: (doc_id, n_words, n_subwords) — n_subwords counts each
    word\'s post-merge symbols (end-of-word marker included, the
    standard BPE accounting).
    """
    _, syms = _bpe_train_loop(documents, n_merges, text_col, end_marker)
    occurrences = documents.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.col(text_col)), r"\s+")
        ).alias("w"),
    ).filter(F.length("w") > 0)
    out = (
        occurrences.join(
            syms.select("w", F.size("syms").alias("__n_sub")), "w"
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__n_sub").alias("n_subwords"),
        )
    )
    from etl_gcp_spark.caching import tag_pinned

    return tag_pinned(out, syms)
