"""Dedup + validation engine contracts (SURVEY.md §2.2-2.4)."""

from __future__ import annotations

from pyspark.sql import Row

from etl_gcp_spark.operators.dedup import dedup, dedup_keep_first, dup_count
from etl_gcp_spark.operators.quality import (
    Threshold,
    gate_exit_code,
    quality_gate,
    quality_metrics,
)
from etl_gcp_spark.operators.validate import (
    not_null_rule,
    order_rule,
    range_rule,
    violation_summary,
    violations,
)


def _dupes(spark):
    return spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=1, v="a"), Row(k=1, v="b"), Row(k=2, v="c")]
    )


def test_dedup_full_row(spark):
    assert dedup(_dupes(spark)).count() == 3


def test_dedup_subset(spark):
    assert dedup(_dupes(spark), subset=["k"]).count() == 2


def test_dedup_hashed_matches_distinct(spark):
    from etl_gcp_spark.operators.dedup import dedup_hashed

    out = dedup_hashed(_dupes(spark))
    assert out.columns == ["k", "v"]
    assert sorted((r.k, r.v) for r in out.collect()) == [
        (1, "a"),
        (1, "b"),
        (2, "c"),
    ]


def test_dedup_hashed_null_positions_distinct(spark):
    # xxhash64 skips NULL inputs, so (1, NULL) and (NULL, 1) hash the
    # same without the null-bitmap disambiguation — both must survive
    from etl_gcp_spark.operators.dedup import dedup_hashed

    df = spark.createDataFrame(
        [Row(a=1, b=None), Row(a=None, b=1), Row(a=1, b=None)],
        "a int, b int",
    )
    assert dedup_hashed(df).count() == 2


def test_dedup_keep_first_deterministic(spark):
    out = dedup_keep_first(_dupes(spark), keys=["k"], order_by=["v"])
    got = {(r.k, r.v) for r in out.collect()}
    assert got == {(1, "a"), (2, "c")}


def test_dup_count(spark):
    # 4 rows, 3 distinct -> 1 surplus duplicate
    assert dup_count(_dupes(spark)).collect()[0].dup_count == 1
    # empty frame -> 0, not null
    empty = _dupes(spark).limit(0)
    assert dup_count(empty).collect()[0].dup_count == 0


def _quality_df(spark):
    return spark.createDataFrame(
        [
            Row(ys=2000, ye=1999, val=150.0, topic=None),   # order + range + null
            Row(ys=2000, ye=2001, val=50.0, topic="t"),     # clean
            Row(ys=2001, ye=2002, val=-1.0, topic="t"),     # range
        ]
    )


RULES = None


def _rules():
    return [
        order_rule("ys", "ye"),
        range_rule("val", 0, 100),
        not_null_rule("topic"),
    ]


def test_violations_union_dedup(spark):
    # row 1 violates three rules but appears ONCE (reference P14 dedup)
    out = violations(_quality_df(spark), _rules())
    assert out.count() == 2


def test_violation_summary_counts(spark):
    got = {r.rule: r.violations for r in violation_summary(_quality_df(spark), _rules()).collect()}
    assert got == {"ys_gt_ye": 1, "val_out_of_range": 2, "topic_null": 1}


def test_quality_metrics_and_gate(spark):
    m = quality_metrics(
        _quality_df(spark), distinct_cols=["ys"], null_cols=["topic"]
    )
    row = m.collect()[0]
    assert row.row_count == 3 and row.distinct_ys == 2 and row.null_topic == 1

    report = quality_gate(
        m,
        [Threshold("row_count", 2), Threshold("distinct_ys", 5)],
    )
    got = {r.check: r.passed for r in report.collect()}
    assert got == {"row_count": True, "distinct_ys": False}
    assert gate_exit_code(report) == 1

    ok_report = quality_gate(m, [Threshold("row_count", 1)])
    assert gate_exit_code(ok_report) == 0


def test_k_anonymity_suppresses_small_groups(spark):
    from pyspark.sql import Row

    from etl_gcp_spark.operators.quality import k_anonymity_suppress

    rows = [Row(uid=i, city="A", age=30) for i in range(5)]
    rows += [Row(uid=10, city="B", age=40)]  # singleton: re-identifiable
    rows += [Row(uid=11, city="A", age=40), Row(uid=12, city="A", age=40)]
    df = spark.createDataFrame(rows)
    kept = k_anonymity_suppress(df, ["city", "age"], k=2)
    got = sorted(r["uid"] for r in kept.collect())
    assert got == [0, 1, 2, 3, 4, 11, 12]  # the (B,40) singleton is gone
    assert "__gsize" not in kept.columns


def test_l_diversity_suppresses_homogeneous_groups(spark):
    from pyspark.sql import Row

    from etl_gcp_spark.operators.quality import l_diversity_suppress

    # group (A,30): 4 rows but ONLY 2 distinct diagnoses -> suppressed
    # at l=3 even though it is k-anonymous at k=4 (homogeneity attack)
    rows = [Row(uid=i, city="A", age=30, dx="flu") for i in range(3)]
    rows += [Row(uid=3, city="A", age=30, dx="cold")]
    # group (B,40): 3 rows, 3 distinct diagnoses -> kept
    rows += [
        Row(uid=10, city="B", age=40, dx="flu"),
        Row(uid=11, city="B", age=40, dx="cold"),
        Row(uid=12, city="B", age=40, dx="cough"),
    ]
    # NULL sensitive values do not count toward diversity
    rows += [
        Row(uid=20, city="C", age=50, dx=None),
        Row(uid=21, city="C", age=50, dx="flu"),
        Row(uid=22, city="C", age=50, dx="cold"),
    ]
    df = spark.createDataFrame(rows)
    kept = l_diversity_suppress(df, ["city", "age"], "dx", l=3)
    got = sorted(r["uid"] for r in kept.collect())
    assert got == [10, 11, 12]
    assert "__ndistinct" not in kept.columns


def test_benford_uniform_data_deviates(spark):
    from etl_gcp_spark.operators.quality import benford_check

    # leading digits uniform over 1..9 (shares = 1/9): digit 1 is
    # heavily under Benford's .301, digit 9 over its .0458
    df = spark.createDataFrame(
        [(float(d) * 100.0,) for d in range(1, 10) for _ in range(10)],
        "amount double",
    )
    rows = {r.digit: r for r in benford_check(df, "amount").collect()}
    assert len(rows) == 9
    assert all(abs(rows[d].obs_share - 1 / 9) < 1e-6 for d in rows)
    assert rows[1].abs_dev > 0.18
    assert rows[9].abs_dev < 0.07


def test_benford_excludes_sub_one_and_null(spark):
    from etl_gcp_spark.operators.quality import benford_check

    df = spark.createDataFrame(
        [(0.5,), (None,), (123.0,), (0.0,)], "amount double"
    )
    rows = benford_check(df, "amount").collect()
    assert len(rows) == 1
    assert rows[0].digit == 1 and rows[0].n == 1 and rows[0].obs_share == 1.0


def test_boxplot_stats_hand_computed(spark):
    from etl_gcp_spark.operators.quality import boxplot_stats

    # values 1..9 plus a wild 100: q1=3.25, med=6.5? no -- with 10
    # values quantile_cont interpolates; just assert the invariants
    df = spark.createDataFrame(
        [(float(v), "g") for v in range(1, 10)] + [(100.0, "g")],
        "x double, g string",
    )
    r = boxplot_stats(df, "x", group_col="g").collect()[0]
    assert r.n == 10 and r.min_v == 1.0 and r.max_v == 100.0
    assert r.q1 < r.median < r.q3 < r.max_v
    # 100 is far beyond q3 + 1.5 IQR -> exactly one fence outlier
    assert r.n_outliers == 1


def test_integrity_report_catches_planted_violations(spark):
    from etl_gcp_spark.operators.validate import integrity_report

    orders = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 99)],  # dup orderkey; custkey 99 orphan
        "o_orderkey long, o_custkey long",
    )
    lineitem = spark.createDataFrame(
        [(1,), (7,)], "l_orderkey long"  # 7 has no order
    )
    customer = spark.createDataFrame([(10,)], "c_custkey long")
    out = {r.rule: r.n_violations for r in
           integrity_report(orders, lineitem, customer).collect()}
    assert out["unique:o_orderkey"] == 2
    assert out["fk:lineitem.l_orderkey->orders"] == 1
    assert out["fk:orders.o_custkey->customer"] == 1


def test_price_reconciliation_audit_classifies(spark):
    from etl_gcp_spark.operators.validate import price_reconciliation_audit

    orders = spark.createDataFrame(
        [(1, 110.0), (2, 500.0), (3, 42.0)],
        "o_orderkey long, o_totalprice double",
    )
    # order 1 reconciles (100 * 1.1 = 110); order 2 off by 390;
    # order 3 has no lines at all
    lineitem = spark.createDataFrame(
        [(1, 100.0, 0.0, 0.1), (2, 100.0, 0.0, 0.1)],
        "l_orderkey long, l_extendedprice double, "
        "l_discount double, l_tax double",
    )
    r = price_reconciliation_audit(orders, lineitem).collect()[0]
    assert r.n_orders == 3 and r.n_no_lines == 1
    assert r.n_reconciled == 1 and r.n_mismatched == 1
    assert r.max_abs_diff == 390.0
