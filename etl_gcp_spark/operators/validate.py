"""Rule-based validation engine (reference parity, SURVEY.md §2.2/2.4).

The reference hard-codes three checks in ``validate_data``
(data_loader.py:339-388): a theta filter (``yearstart > yearend``), a
range predicate (``datavalue < 0 OR datavalue > 100``), and per-column
null counts, then exports the union of violation rows
(``pd.concat(...).drop_duplicates()``, data_loader.py:379-384). Here
that becomes a declarative rule engine: a rule is ``(name, violation
predicate)``; the engine emits (a) the deduplicated violation rows,
(b) a per-rule summary — both as DataFrames so they compose and the
counts run as ONE aggregation pass over the data instead of one scan
per rule.

Note the reference computes these per 10K-row chunk (it cannot see
cross-chunk duplicates, SURVEY.md §3.2); this engine is global —
an intentional correctness upgrade.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """A named violation predicate: rows matching ``condition`` are bad."""

    name: str
    condition: Column


def violations(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """P14: deduplicated union of all violating rows.

    Single filter on the OR of all predicates + ``dropDuplicates`` —
    one scan, one shuffle, regardless of rule count (the reference
    concatenates per-rule frames, scanning once per rule).
    """
    if not rules:
        return df.limit(0)
    combined = reduce(lambda a, b: a | b, [r.condition for r in rules])
    return df.filter(combined).dropDuplicates()


def violation_summary(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Per-rule violation counts as (rule, violations) rows.

    All rules are counted in ONE aggregation pass via conditional
    sums (the reference's A3/A7 pattern, data_validator.py:94-96),
    then unpivoted driver-side (rule count is tiny, data is not).
    """
    agg_row = df.agg(
        *[
            F.sum(F.when(r.condition, 1).otherwise(0))
            .cast("long")
            .alias(r.name)
            for r in rules
        ]
    )
    stack_expr = ", ".join(f"'{r.name}', `{r.name}`" for r in rules)
    return agg_row.selectExpr(
        f"stack({len(rules)}, {stack_expr}) as (rule, violations)"
    )


def range_rule(col: str, lo: float, hi: float) -> Rule:
    """P12 analog: value outside [lo, hi] is a violation
    (reference data_loader.py:356-359)."""
    return Rule(
        f"{col}_out_of_range",
        (F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi)),
    )


def order_rule(low_col: str, high_col: str) -> Rule:
    """P11 analog: logical-consistency theta predicate
    (reference data_loader.py:350-353, yearstart > yearend)."""
    return Rule(f"{low_col}_gt_{high_col}", F.col(low_col) > F.col(high_col))


def not_null_rule(col: str) -> Rule:
    """P13 analog: NULL in a critical column is a violation."""
    return Rule(f"{col}_null", F.col(col).isNull())


def uniqueness_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """Rows beyond the first per key combination — the dbt-style
    UNIQUE test (the validator family's P11-P14 check values; this
    checks IDENTITY). One map-side-combined count per key; output is
    the violating key combinations with their multiplicities."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def referential_violations(
    child: DataFrame, parent: DataFrame, child_key: str, parent_key: str
) -> DataFrame:
    """Orphaned child rows — the dbt-style RELATIONSHIP test: child
    keys with no matching parent (a broadcast/shuffle anti-join,
    whichever side AQE picks). Output: (orphan key, n_rows)."""
    return (
        child.join(
            parent.select(F.col(parent_key).alias(child_key)).dropDuplicates(),
            child_key,
            "left_anti",
        )
        .groupBy(child_key)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def integrity_report(
    orders: DataFrame, lineitem: DataFrame, customer: DataFrame
) -> DataFrame:
    """One row per integrity rule over the TPC-H core: primary-key
    uniqueness and both fact→dimension relationships — the schema-
    integrity complement to the value-level validator (P11-P14).
    Each rule is an independent aggregate; Spark runs the subtrees as
    parallel stages. Output: (rule, n_violations) — all zeros on
    healthy data, and the zeros are the point: this is the gate that
    PROVES key integrity before joins assume it.
    """
    uniq = uniqueness_violations(orders, ["o_orderkey"]).agg(
        F.lit("unique:o_orderkey").alias("rule"),
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_violations"),
    )
    fk_li = referential_violations(
        lineitem, orders, "l_orderkey", "o_orderkey"
    ).agg(
        F.lit("fk:lineitem.l_orderkey->orders").alias("rule"),
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_violations"),
    )
    fk_cust = referential_violations(
        orders, customer, "o_custkey", "c_custkey"
    ).agg(
        F.lit("fk:orders.o_custkey->customer").alias("rule"),
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_violations"),
    )
    return uniq.unionByName(fk_li).unionByName(fk_cust)


def price_reconciliation_audit(
    orders: DataFrame, lineitem: DataFrame, *, tolerance: float = 0.01
) -> DataFrame:
    """Cross-table financial reconciliation: does each order's header
    total equal the sum of its lines' extended charges? The audit
    every billing/ledger pipeline runs between a rollup table and its
    detail — and the honest report when they DON'T match (this
    engine's synthetic data is deliberately unreconciled; the audit
    says so rather than assuming the invariant).

    Line charges round to 4 dp and sum as DECIMAL(28,8) per order
    (exact, order-free), the order-level diff rounds to 2 dp, and the
    verdict counts reduce to one row. Orders with no lines are
    counted by anti-join — absent detail is a different failure from
    mismatched detail. Output: (n_orders, n_no_lines, n_reconciled,
    n_mismatched, max_abs_diff).
    """
    line_val = F.round(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax")),
        4,
    ).cast("decimal(28,8)")
    calc = lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.round(F.sum(line_val), 2).cast("double").alias("__calc")
    )
    joined = orders.select("o_orderkey", "o_totalprice").join(
        calc, "o_orderkey", "left"
    )
    diff = F.round(F.abs(F.col("o_totalprice") - F.col("__calc")), 2)
    return joined.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("__calc").isNull().cast("long")).alias("n_no_lines"),
        F.sum((diff <= tolerance).cast("long")).alias("n_reconciled"),
        F.sum((diff > tolerance).cast("long")).alias("n_mismatched"),
        F.max(diff).alias("max_abs_diff"),
    )
