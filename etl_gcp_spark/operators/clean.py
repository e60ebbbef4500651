"""Cleaning & normalization operators (reference parity, SURVEY.md §2.2).

Semantics are matched to the reference exactly — including its quirks:

- P1 normalize_columns: lowercase; ``' '``, ``'-'``, ``'.'`` → ``'_'``
  (data_extractor.py:387-390).
- P3 date coercion applies to every column whose NAME contains
  ``'date'``, with unparseable → NULL (``errors='coerce'``,
  data_loader.py:326-328).
- P4 numeric null-fill with 0 (data_loader.py:329-330).
- P5 string fill-then-casefold: ``fillna('Unknown')`` THEN
  ``.str.lower().str.strip()`` — so the sentinel lands as
  ``'unknown'``, lowercase (data_loader.py:331-332). Equivalent
  single expression: ``coalesce(lower(trim(c)), 'unknown')``.
- P6 bulk TRIM of text columns (data_loader.py:312-320) is subsumed
  by P5's trim.
- P7 audit stamp ``loaded_at``/``load_date``
  (data_loader.py:426-427); P8 drop-meta (CODE_FLOW.md:464-465).

All operators are pure column expressions — no UDFs — so they stay
inside whole-stage codegen and cost one projection at any scale.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_gcp_spark.schemas import METADATA_COLUMNS, normalize_name

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def normalize_columns(df: DataFrame) -> DataFrame:
    """P1: rename every column via the reference's name cleaner."""
    return df.toDF(*[normalize_name(c) for c in df.columns])


def clean(df: DataFrame, *, string_fill: str = "Unknown") -> DataFrame:
    """P3+P4+P5 in one projection, in the reference's order.

    Column dispatch (on the column's ORIGINAL dtype, as in pandas):

    1. name contains ``'date'`` → ``to_timestamp`` (coerce-to-null);
    2. numeric → fill nulls with 0;
    3. string → fill nulls with ``string_fill`` then lower+trim —
       net effect ``coalesce(lower(trim(c)), lower(string_fill))``;
    4. anything else passes through.

    The fill-then-lower order means the sentinel is ``'unknown'``
    (lowercase) — an intentional reference quirk kept for parity
    (SURVEY.md §7.3 fidelity trap a).
    """
    sentinel = string_fill.lower().strip()
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if "date" in f.name.lower():
            if isinstance(f.dataType, (T.TimestampType,)):
                cols.append(c.alias(f.name))
            else:
                # try_to_timestamp, not to_timestamp: under Spark 4's
                # default ANSI mode a malformed string THROWS, but the
                # reference's errors='coerce' contract is NULL
                cols.append(F.try_to_timestamp(c).alias(f.name))
        elif isinstance(f.dataType, _NUMERIC_TYPES):
            cols.append(F.coalesce(c, F.lit(0).cast(f.dataType)).alias(f.name))
        elif isinstance(f.dataType, T.StringType):
            cols.append(
                F.coalesce(F.lower(F.trim(c)), F.lit(sentinel)).alias(f.name)
            )
        else:
            cols.append(c.alias(f.name))
    return df.select(*cols)


def audit_stamp(
    df: DataFrame,
    *,
    fixed_time: _dt.datetime | None = None,
) -> DataFrame:
    """P7: append ``loaded_at`` (timestamp) and ``load_date`` (date).

    ``fixed_time`` freezes the stamp for deterministic tests/oracle
    comparison (SURVEY.md §7.3 fidelity trap d); production use omits
    it and gets ``current_timestamp()``/``current_date()``.
    """
    if fixed_time is not None:
        ts = F.lit(fixed_time).cast(T.TimestampType())
        dt = F.lit(fixed_time.date()).cast(T.DateType())
    else:
        ts, dt = F.current_timestamp(), F.current_date()
    return df.withColumn("loaded_at", ts).withColumn("load_date", dt)


def drop_meta(df: DataFrame) -> DataFrame:
    """P8: drop audit columns prior to a re-stamp or re-export."""
    return df.drop(*METADATA_COLUMNS)


def winsorize(
    df: DataFrame,
    col: str,
    *,
    lower: float = 0.01,
    upper: float = 0.99,
    suffix: str = "_w",
) -> DataFrame:
    """Robust outlier clamp: append ``col + suffix`` = ``col`` clipped
    to its exact [``lower``, ``upper``] percentile bounds (rounded to
    4 dp so the bound itself is replayable).  The data-cleaning step
    between "drop the row" (loses signal) and "trust the sensor"
    (poisons every mean downstream).

    One exact-percentile aggregation (single 1-row frame — at corpus
    scale swap in ``approx_percentile`` at the call site if the exact
    sort-based percentile's per-group memory matters), broadcast back,
    clamp via ``least/greatest`` — codegen end to end, no second
    pass.  Reference analog: none (its validator only FLAGS
    out-of-range rows, data_validator.py:104-118; this is the repair).
    """
    # ONE array-percentile aggregate, not two scalar ones: each
    # F.percentile buffers the column independently, so the scalar
    # pair costs two full sort-buffers (measured 4.1 s vs 1.9 s at
    # sf0.1 — 2.1x)
    pair = df.agg(
        F.percentile(col, F.array(F.lit(lower), F.lit(upper))).alias("__p")
    )
    bounds = pair.select(
        F.round(F.element_at("__p", 1), 4).alias("__lo"),
        F.round(F.element_at("__p", 2), 4).alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds))
        .withColumn(
            col + suffix,
            F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi")),
        )
        .drop("__lo", "__hi")
    )


def impute_group_mean(
    df: DataFrame,
    col: str,
    *,
    group_col: str,
    suffix: str = "_f",
) -> DataFrame:
    """NULL repair one step smarter than the reference's global
    fill-0 (`data_loader.py:330-336` fills every numeric NULL with 0,
    which poisons group means): fill with the GROUP's mean (rounded
    4 dp), falling back to the global mean for all-NULL groups.

    Group means reduce map-side to one row per group; the small stats
    frame broadcasts back — no shuffle of the data side, one pass.
    """
    stats = df.groupBy(group_col).agg(
        F.round(F.avg(col), 4).alias("__gm")
    )
    glob = df.agg(F.round(F.avg(col), 4).alias("__m"))
    return (
        df.join(F.broadcast(stats), group_col, "left")
        .join(F.broadcast(glob))
        .withColumn(
            col + suffix,
            F.coalesce(F.col(col), F.col("__gm"), F.col("__m")),
        )
        .drop("__gm", "__m")
    )


def mad_outliers(
    df: DataFrame,
    col: str,
    *,
    group_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier summary via the Median Absolute
    Deviation: (group, n, median, mad, n_outliers) where a row is an
    outlier when |x − median| > k · 1.4826 · MAD.

    The z-score screen (see ``zscore_outliers``) breaks down exactly
    when it matters — outliers inflate the very σ they are measured
    against. MAD's 50% breakdown point survives heavy contamination;
    1.4826 rescales it to σ-equivalents under normality (standard
    robust-statistics constant).

    Two exact-percentile passes over group-keyed aggregates (the
    medians), one counting pass — each a map-side-combining shuffle
    on the group key. Medians/MAD round to 4 dp so the flag threshold
    is replayable.
    """
    med = df.groupBy(group_col).agg(
        F.round(F.percentile(col, F.lit(0.5)), 4).alias("med")
    )
    # NOT pinned: the deviation frame is consumed twice (MAD
    # aggregation, counting pass), but it is a 2-column pruned scan +
    # broadcast join — measured at sf0.1, persisting it COSTS ~0.9 s
    # per cold call (memory materialization of the wide row batches)
    # vs ~0 saved recompute. The two sequential per-group percentile
    # buffers dominate either way (inherent to MAD — the second
    # median's input does not exist until the first resolves). On
    # remote object storage, persist upstream at the caller if the
    # second scan is the bottleneck.
    dev = (
        df.select(F.col(group_col), F.col(col))
        .join(F.broadcast(med), group_col)
        .withColumn("__ad", F.abs(F.col(col) - F.col("med")))
    )
    mad = dev.groupBy(group_col).agg(
        F.round(F.percentile("__ad", F.lit(0.5)), 4).alias("mad")
    )
    out = (
        dev.join(F.broadcast(mad), group_col)
        .groupBy(group_col, "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    F.col("__ad") > F.lit(k) * F.lit(1.4826) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
        .select(group_col, "n", "med", "mad", "n_outliers")
    )
    return out


def user_erasure(
    events: DataFrame,
    orders: DataFrame,
    user_keys: list[int],
    *,
    event_user_col: str = "user_id",
    order_user_col: str = "o_custkey",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Right-to-be-forgotten propagation: remove every row belonging
    to the given subjects across the fact tables and return (cleaned
    events, cleaned orders, audit) — the audit is the per-table
    removed/remaining counts a deletion request must report back.
    Complements the prevention-side privacy ops (``pii_redact``
    scrubs content, ``k_anonymity_suppress`` blocks re-identification;
    this executes deletion).

    The key list is a literal ``isin`` filter — pushed to the scan,
    no join, no shuffle; at production scale the same shape runs as a
    broadcast anti-join against a deletion-request table. Counts are
    one aggregate per table, unioned.
    """
    keys = [int(k) for k in user_keys]
    ev_clean = events.filter(~F.col(event_user_col).isin(keys))
    ord_clean = orders.filter(~F.col(order_user_col).isin(keys))

    def _audit(df: DataFrame, col: str, table: str) -> DataFrame:
        return df.agg(
            F.lit(table).alias("table_name"),
            F.sum(F.col(col).isin(keys).cast("long")).alias("n_removed"),
            F.sum((~F.col(col).isin(keys)).cast("long")).alias(
                "n_remaining"
            ),
        )

    audit = _audit(events, event_user_col, "events").unionByName(
        _audit(orders, order_user_col, "orders")
    )
    return ev_clean, ord_clean, audit


def winsorize_by_group(
    df: DataFrame,
    col: str,
    *,
    group_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    suffix: str = "_w",
) -> DataFrame:
    """Per-GROUP percentile clamp — :func:`winsorize` with bounds
    computed within each group: one global envelope clamps nothing in
    low-range groups and everything in high-range ones when ranges
    differ by group (per-category prices, per-sensor readings).

    One array-percentile aggregate PER GROUP (single buffer, same
    measured 2x as the global form), bounds rounded 4 dp, broadcast
    back on the group key, clamp in codegen.
    """
    pair = df.groupBy(F.col(group_col)).agg(
        F.percentile(col, F.array(F.lit(lower), F.lit(upper))).alias(
            "__p"
        )
    )
    bounds = pair.select(
        group_col,
        F.round(F.element_at("__p", 1), 4).alias("__lo"),
        F.round(F.element_at("__p", 2), 4).alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .withColumn(
            col + suffix,
            F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi")),
        )
        .drop("__lo", "__hi")
    )
