"""Trainable quality classifier: distributed logistic regression over
document surface statistics — the fastText-style quality-classifier
leg of a training-data curation pipeline (GPT-3/LLaMA lineage: a
linear model scores "quality" and gates or re-weights documents;
public methodology, e.g. Brown et al. 2020 §A, Touvron et al. 2023).

The reference has no model training at all (its quality gates are
static thresholds, data_validator.py:70-118); this module supplies
the trainable counterpart while keeping the engine's exact-replay
discipline:

- **Algebraic sigmoid.** σ(z) is replaced by the fast sigmoid
  ``0.5 + z / (2·(1 + |z|))`` — same range, same monotonicity, same
  0.5-at-0 decision boundary, but built ONLY from +,−,×,÷,|·| —
  operations IEEE requires correctly rounded, so a fixed expression
  tree evaluates bit-identically in the JVM and the DuckDB oracle.
  exp() carries no such guarantee in either libm.
- **Order-free gradient reduction.** Per-row gradient contributions
  round to 6 dp and sum as DECIMAL(18,6): float summation order is
  engine- and partition-dependent; decimal summation is exact and
  associative, so the gradient — and therefore every subsequent
  weight — is independent of partitioning. Weights round to 6 dp
  once per step (the single rounding point, as in the PCA power
  iteration in functions/similarity.py).
- **Scale shape.** One token-stream aggregation builds the feature
  table (map-side combined), which is persisted and re-scanned once
  per step; each step is a single crossJoin(broadcast 1-row weights)
  + one aggregation — no driver-side data movement, weights never
  leave the plan. T steps = T scans of the cached features, the
  textbook distributed-GD layout.

On the synthetic test corpus the label carries no real signal — the
registered entry verifies TRAINING MECHANICS (descent, replayability),
not model quality; the unit tests train on a separable corpus and
assert the model actually learns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_gcp_spark.functions.text import tokens


def _fast_sigmoid(z: Column) -> Column:
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def doc_feature_table(
    documents: DataFrame,
    *,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, y, x1, x2, x3): length/100, type-token ratio, mean
    token length/10 — cheap surface statistics with every division a
    single correctly-rounded op on exact integer aggregates."""
    toks = documents.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    stats = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.countDistinct("__tok").alias("__d"),
        F.sum(F.length("__tok")).alias("__len"),
    )
    n_d = F.col("__n").cast("double")
    return documents.select(F.col(id_col), label.alias("y")).join(
        stats, id_col
    ).select(
        id_col,
        "y",
        (n_d / F.lit(100.0)).alias("x1"),
        (F.col("__d").cast("double") / n_d).alias("x2"),
        ((F.col("__len").cast("double") / n_d) / F.lit(10.0)).alias("x3"),
    )


def _z(w_prefix: str = "") -> Column:
    p = w_prefix
    return (
        (
            F.col(p + "w1") * F.col("x1")
            + F.col(p + "w2") * F.col("x2")
        )
        + F.col(p + "w3") * F.col("x3")
    ) + F.col(p + "b")


def train_logreg(
    feats: DataFrame,
    *,
    n_steps: int = 5,
    lr: float = 0.5,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Batch gradient descent; returns the 1-row weight DataFrame
    (b, w1, w2, w3) after ``n_steps`` exact-replayable steps.

    The previous step's weights are carried THROUGH the gradient
    aggregation (``min`` over the constant broadcast columns) rather
    than re-joined afterwards: referencing ``w`` twice per step would
    double the logical plan each iteration — exponential analysis
    cost (observed: driver heap OOM at 25 steps). With the carry the
    plan grows linearly, and a ``localCheckpoint`` of the 1-row
    weight frame every ``checkpoint_every`` steps truncates even that
    (same lineage discipline as the contraction loop in
    operators/graph.py)."""
    spark = feats.sparkSession
    w = spark.sql("SELECT 0.0 b, 0.0 w1, 0.0 w2, 0.0 w3")
    n_dbl = F.col("__n").cast("double")
    for step in range(1, n_steps + 1):
        p = _fast_sigmoid(_z())
        err = p - F.col("y")
        grads = feats.crossJoin(F.broadcast(w)).agg(
            F.sum(F.round(err * F.lit(1.0), 6).cast("decimal(18,6)"))
            .alias("__g0"),
            F.sum(F.round(err * F.col("x1"), 6).cast("decimal(18,6)"))
            .alias("__g1"),
            F.sum(F.round(err * F.col("x2"), 6).cast("decimal(18,6)"))
            .alias("__g2"),
            F.sum(F.round(err * F.col("x3"), 6).cast("decimal(18,6)"))
            .alias("__g3"),
            F.count(F.lit(1)).alias("__n"),
            F.min("b").alias("b"),
            F.min("w1").alias("w1"),
            F.min("w2").alias("w2"),
            F.min("w3").alias("w3"),
        )
        w = grads.select(
            *[
                F.round(
                    F.col(wc)
                    - F.lit(lr)
                    * (F.col(gc).cast("double") / n_dbl),
                    6,
                ).alias(wc)
                for wc, gc in (
                    ("b", "__g0"),
                    ("w1", "__g1"),
                    ("w2", "__g2"),
                    ("w3", "__g3"),
                )
            ]
        )
        if step % checkpoint_every == 0 and step < n_steps:
            w = w.localCheckpoint()
    return w


def logreg_quality_report(
    documents: DataFrame,
    *,
    label: Column | None = None,
    n_steps: int = 5,
    lr: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train and evaluate in one lazy plan. Output: 1 row —
    (n_docs, w_bias, w_len, w_ttr, w_wlen, train_acc)."""
    if label is None:
        # coalesce: a NULL lang must be the NEGATIVE class (0.0), not
        # a NULL label that silently drops out of the decimal gradient
        # sums while the SQL oracle's CASE ... ELSE 0.0 keeps it
        label = F.coalesce(
            (F.col("lang") == "en").cast("double"), F.lit(0.0)
        )
    feats = doc_feature_table(
        documents, label=label, text_col=text_col, id_col=id_col
    ).persist()
    w = train_logreg(feats, n_steps=n_steps, lr=lr)
    p = _fast_sigmoid(_z())
    correct = (
        ((p >= F.lit(0.5)) == (F.col("y") >= F.lit(0.5)))
        .cast("long")
    )
    out = (
        feats.crossJoin(F.broadcast(w))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("b").alias("w_bias"),
            F.min("w1").alias("w_len"),
            F.min("w2").alias("w_ttr"),
            F.min("w3").alias("w_wlen"),
            F.sum(correct).alias("__c"),
        )
        .select(
            "n_docs",
            "w_bias",
            "w_len",
            "w_ttr",
            "w_wlen",
            F.round(
                F.col("__c").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("train_acc"),
        )
    )
    from etl_gcp_spark.caching import tag_pinned

    return tag_pinned(out, feats)


def logreg_calibration_bins(
    documents: DataFrame,
    *,
    label: Column | None = None,
    n_steps: int = 5,
    lr: float = 0.5,
    n_bins: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reliability diagram for the quality classifier — the
    calibration gate a scored-corpus curation pipeline needs before
    thresholding on predicted quality: a classifier can hold high
    accuracy while its probabilities drift far from empirical rates,
    silently shifting how much data a fixed quality cutoff keeps.

    Trains the same replayable GD logreg as
    :func:`logreg_quality_report` (identical features, steps, exact
    decimal gradient sums), then buckets every document's predicted
    probability into ``n_bins`` equal-width bins:
    ``bin = min(floor(p·n_bins), n_bins−1)``. Per bin: document
    count, mean predicted probability (exact DECIMAL sums before one
    IEEE division), empirical positive rate, and the absolute
    calibration gap. The fast sigmoid is pure IEEE arithmetic
    (+,*,/,abs), so ``p`` is bit-identical across engines and the
    floor-binning replays exactly — no interpolation, no boundary
    ambiguity. One aggregation pass; output ≤ ``n_bins`` rows."""
    if label is None:
        label = F.coalesce(
            (F.col("lang") == "en").cast("double"), F.lit(0.0)
        )
    feats = doc_feature_table(
        documents, label=label, text_col=text_col, id_col=id_col
    ).persist()
    w = train_logreg(feats, n_steps=n_steps, lr=lr)
    p = _fast_sigmoid(_z())
    scored = feats.crossJoin(F.broadcast(w)).select(
        F.least(
            F.floor(p * F.lit(float(n_bins))).cast("int"),
            F.lit(n_bins - 1),
        ).alias("bin"),
        F.round(p, 6).alias("p6"),
        "y",
    )
    out = (
        scored.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("p6").cast("decimal(18,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_pred"),
            F.round(
                F.sum(F.col("y").cast("decimal(18,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("pos_rate"),
        )
        .withColumn(
            "abs_gap",
            F.round(F.abs(F.col("mean_pred") - F.col("pos_rate")), 6),
        )
        .orderBy("bin")
    )
    from etl_gcp_spark.caching import tag_pinned

    return tag_pinned(out, feats)


def chi2_feature_selection(
    documents: DataFrame,
    *,
    label,
    min_df: int = 5,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """χ² feature selection: rank tokens by dependence between
    document-level presence and a binary label — the classic
    pre-filter that picks the vocabulary a quality/topic classifier
    trains on (Yang & Pedersen 1997).

    Per token a 2×2 contingency over DISTINCT (doc, token) presence:
    a = docs with token ∧ label, b = with token ∧ ¬label,
    c/d = the complements from the global label counts. χ² =
    N(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)) as a FIXED tree of
    correctly-rounded double ops on exact integer counts (every
    count ≤ 2^53 is double-exact; the two products round once
    each), rounded to 6 dp — bit-identical across engines, so the
    top-k cut (χ² desc, token asc tiebreak) is deterministic.

    Scale: explode → distinct(doc, token) → groupBy(token) with a
    min_df cut (drops the hapax tail before ranking); the global
    label counts are a broadcast 1-row frame. One shuffle on token;
    output is k rows.
    """
    docs = documents.select(
        F.col(id_col).alias("doc_id"),
        F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("__y"),
        F.col(text_col),
    )
    totals = docs.agg(
        F.sum("__y").alias("__n1"),
        F.count(F.lit(1)).alias("__n"),
    )
    presence = (
        docs.select(
            "doc_id",
            "__y",
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
                "token"
            ),
        )
        .filter(F.length("token") > 0)
        .select("doc_id", "__y", "token")
        .distinct()
    )
    counts = presence.groupBy("token").agg(
        F.sum("__y").alias("a"),
        F.sum(F.lit(1) - F.col("__y")).alias("b"),
    )
    a = F.col("a").cast("double")
    b = F.col("b").cast("double")
    n1 = F.col("__n1").cast("double")
    n = F.col("__n").cast("double")
    c = n1 - a
    d = (n - n1) - b
    diff = a * d - b * c
    den = ((a + b) * (c + d)) * ((a + c) * (b + d))
    # a token present in EVERY doc (or a constant label) zeroes a
    # margin: χ² is 0 by definition there, and engines disagree on
    # double x/0 (Inf vs NULL), so the guard is explicit
    chi2 = F.when(
        den > 0, F.round(n * (diff * diff) / den, 6)
    ).otherwise(F.lit(0.0))
    return (
        counts.filter(F.col("a") + F.col("b") >= min_df)
        .crossJoin(F.broadcast(totals))
        .select(
            "token",
            (F.col("a") + F.col("b")).alias("df_docs"),
            "a",
            "b",
            chi2.alias("chi2"),
        )
        .orderBy(F.col("chi2").desc(), F.col("token"))
        .limit(k)
    )
