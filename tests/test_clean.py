"""Cleaning operator contracts (SURVEY.md §2.2, reference fidelity).

The fidelity traps from SURVEY.md §7.3 get explicit coverage:
fill-then-lower sentinel is lowercase 'unknown' (P5), date coercion
hits any column whose NAME contains 'date' with coerce-to-null (P3),
numeric fill-0 (P4).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from etl_gcp_spark.operators.clean import (
    audit_stamp,
    clean,
    drop_meta,
    normalize_columns,
)


def test_normalize_columns(spark):
    df = spark.createDataFrame([(1, "x", 0.5)], ["Year Start", "Loc-Abbr", "Data.Value"])
    assert normalize_columns(df).columns == ["year_start", "loc_abbr", "data_value"]


def test_clean_string_fill_then_lower(spark):
    # reference fills 'Unknown' THEN lowercases: sentinel must be 'unknown'
    df = spark.createDataFrame(
        [Row(topic="  MiXeD  "), Row(topic=None)], "topic string"
    )
    got = {r.topic for r in clean(df).collect()}
    assert got == {"mixed", "unknown"}


def test_clean_numeric_fill_zero_preserves_type(spark):
    df = spark.createDataFrame(
        [Row(v=1.5), Row(v=None)], "v double"
    )
    out = clean(df)
    assert dict(out.dtypes)["v"] == "double"
    assert sorted(r.v for r in out.collect()) == [0.0, 1.5]


def test_clean_date_name_coercion(spark):
    # any column whose NAME contains 'date' is cast; garbage -> NULL
    df = spark.createDataFrame(
        [Row(start_date="2024-01-02", other="2024-01-02")],
    )
    out = clean(df)
    types = dict(out.dtypes)
    assert types["start_date"] == "timestamp"
    assert types["other"] == "string"  # untouched by date rule
    row = out.collect()[0]
    assert row.start_date == dt.datetime(2024, 1, 2)

    bad = spark.createDataFrame([Row(start_date="not-a-date")])
    assert clean(bad).collect()[0].start_date is None


def test_audit_stamp_and_drop_meta(spark):
    df = spark.createDataFrame([Row(a=1)])
    fixed = dt.datetime(2024, 5, 1, 12, 0, 0)
    stamped = audit_stamp(df, fixed_time=fixed)
    row = stamped.collect()[0]
    assert row.loaded_at == fixed
    assert row.load_date == fixed.date()
    assert drop_meta(stamped).columns == ["a"]


def test_clean_is_single_projection(spark):
    """Scale contract: clean() must not add shuffles/extra stages."""
    df = spark.createDataFrame([Row(topic="x", v=1.0, start_date="2024-01-01")])
    plan = clean(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_user_erasure_removes_and_audits(spark):
    from pyspark.sql import functions as F

    from etl_gcp_spark.operators.clean import user_erasure

    events = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20)], "event_id long, user_id long"
    )
    orders = spark.createDataFrame(
        [(100, 10), (101, 30)], "o_orderkey long, o_custkey long"
    )
    ev, od, audit = user_erasure(events, orders, [10])
    assert {r.user_id for r in ev.collect()} == {20}
    assert {r.o_custkey for r in od.collect()} == {30}
    a = {r.table_name: r for r in audit.collect()}
    assert a["events"].n_removed == 2 and a["events"].n_remaining == 1
    assert a["orders"].n_removed == 1 and a["orders"].n_remaining == 1


def test_winsorize_by_group_uses_group_bounds(spark):
    from etl_gcp_spark.operators.clean import winsorize_by_group

    # group a ranges 0..100, group b ranges 1000..1100: a global
    # clamp would flatten one of them; per-group bounds clamp only
    # each group's own tails
    rows = [(float(v), "a") for v in range(101)] + [
        (float(1000 + v), "b") for v in range(101)
    ]
    df = spark.createDataFrame(rows, "x double, g string")
    out = winsorize_by_group(
        df, "x", group_col="g", lower=0.05, upper=0.95
    ).collect()
    a = [r for r in out if r.g == "a"]
    b = [r for r in out if r.g == "b"]
    assert max(r.x_w for r in a) == 95.0 and min(r.x_w for r in a) == 5.0
    assert max(r.x_w for r in b) == 1095.0 and min(r.x_w for r in b) == 1005.0
