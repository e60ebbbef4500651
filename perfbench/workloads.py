"""The workloads: their operations, the layer each is charged to,
and how each result is forced and checked.

An operation is one call into a layer's public function, forced to a
complete result: a ``noop`` write for batch results, the op's own sink
for writes, and a collect for registry entries (the rows a caller
receives).
Every result is then checked, outside the timed interval, against the
DuckDB oracle digest or the counts the input generator planted.
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable
from dataclasses import dataclass

from stats import frame_digest

FIXED_TS = dt.datetime(2026, 1, 1)


class Mismatch(Exception):
    """An operation's output differs from its reference."""


@dataclass(frozen=True)
class Op:
    """``run(ctx)`` makes the call and forces its result; it returns a
    ``verify()`` callable (or None) that checks the result afterwards,
    outside the timed interval, raising :class:`Mismatch`."""

    name: str
    layer: str
    run: Callable


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def counted(df, write) -> dict:
    """Run ``write(observed_df)`` and return the row count (``rows``)
    observed on the way, with no extra Spark job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get


def expect(what: str, got, want) -> None:
    if got != want:
        raise Mismatch(f"{what}: got {got!r}, want {want!r}")


def collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


# ------------------------------------------------------------ daily_etl

RELATIONAL = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_late_shipments", "q5_regional_revenue", "q6_revenue_forecast",
    "q7_nation_volume", "q8_market_share", "q9_product_margin",
    "q10_returned_items", "q11_important_parts", "q12_shipmode_priority",
    "q13_order_distribution", "q14_promo_share", "q15_top_supplier",
    "q16_supplier_variety", "q17_small_qty_revenue", "q18_large_orders",
    "q19_disjunctive_revenue", "q20_bulk_shippers", "q21_waiting_suppliers",
    "q22_idle_customers",
]


def registry_op(name: str, layer: str) -> Op:
    """A registry entry on the seed's star schema. Its result is
    collected (the rows a caller receives) and checked against the
    DuckDB oracle digest."""

    def run(ctx):
        cols, rows = collect(ctx.registry[name](ctx.spark, ctx.data))
        ctx.release_pins()
        return lambda: expect(
            f"{name} digest", frame_digest(cols, rows), ctx.oracle(name)
        )

    return Op(name, layer, run)


def _rules():
    from etl_gcp_spark.operators.validate import order_rule, range_rule

    return [order_rule("yearstart", "yearend"), range_rule("datavalue", 0, 100)]


def _thresholds():
    from etl_gcp_spark.operators.quality import Threshold

    return [
        Threshold("row_count", 100),
        Threshold("distinct_yearstart", 5),
        Threshold("distinct_locationabbr", 10),
    ]


DISTINCT = ["yearstart", "locationabbr", "topic"]
NULLS = ["yearstart", "yearend", "locationabbr", "topic"]


def _extract(ctx):
    from etl_gcp_spark.sources.readers import read_csv_inferred

    ctx.state["raw"] = raw = read_csv_inferred(
        ctx.spark, os.path.join(ctx.data, "cdc_indicators.csv")
    )
    got = counted(raw, noop)

    def verify():
        expect("csv columns", len(raw.columns), 34)
        expect("csv rows", got["rows"], ctx.cdc["csv_rows"])

    return verify


def _clean(ctx):
    from etl_gcp_spark.operators.clean import clean, normalize_columns

    ctx.state["clean"] = df = clean(normalize_columns(ctx.state["raw"]))
    got = counted(df, noop)

    def verify():
        expect("normalized names", set(NULLS) <= set(df.columns), True)
        expect("cleaned rows", got["rows"], ctx.cdc["csv_rows"])

    return verify


def _dedup(ctx):
    from etl_gcp_spark.operators.dedup import dedup

    ctx.state["dedup"] = df = dedup(ctx.state["clean"])
    got = counted(df, noop)
    return lambda: expect("rows after dedup", got["rows"], ctx.cdc["unique_rows"])


def _stamp(ctx):
    from etl_gcp_spark.operators.clean import audit_stamp

    ctx.state["stamped"] = df = audit_stamp(ctx.state["dedup"], fixed_time=FIXED_TS)
    got = counted(df, noop)

    def verify():
        expect("stamped rows", got["rows"], ctx.cdc["unique_rows"])
        expect("stamp columns", {"loaded_at", "load_date"} <= set(df.columns), True)

    return verify


def _write_layer(name: str, source: Callable, rows_key: str):
    def run(ctx):
        from etl_gcp_spark.sinks.writers import write_table

        path = os.path.join(ctx.out, name)
        got = counted(source(ctx), lambda df: write_table(df, path))
        ctx.state[name] = ctx.spark.read.parquet(path)
        return lambda: expect(f"{name} rows", got["rows"], ctx.cdc[rows_key])

    return run


def _bronze_source(ctx):
    from etl_gcp_spark.operators.clean import normalize_columns

    return normalize_columns(ctx.state["raw"])


def _violations(ctx):
    from etl_gcp_spark.operators.validate import violations

    got = counted(violations(ctx.state["silver"], _rules()), noop)
    return lambda: expect("violating rows", got["rows"], ctx.cdc["violating_rows"])


def _violation_summary(ctx):
    from etl_gcp_spark.operators.validate import violation_summary

    got = {r[0]: r[1] for r in violation_summary(ctx.state["silver"], _rules()).collect()}
    return lambda: expect("violation summary", got, {
        "yearstart_gt_yearend": ctx.cdc["order_violations"],
        "datavalue_out_of_range": ctx.cdc["range_violations"],
    })


def _quality_metrics(ctx):
    from etl_gcp_spark.operators.quality import quality_metrics

    df = quality_metrics(ctx.state["silver"], distinct_cols=DISTINCT, null_cols=NULLS)
    ctx.state["metrics"] = df
    row = df.first().asDict()

    def verify():
        expect("row_count", row["row_count"], ctx.cdc["unique_rows"])
        expect("distinct_yearstart", row["distinct_yearstart"], ctx.cdc["distinct_yearstart"])
        expect(
            "distinct_locationabbr", row["distinct_locationabbr"],
            ctx.cdc["distinct_locationabbr"],
        )
        expect("nulls after clean", sum(row[f"null_{c}"] for c in NULLS), 0)

    return verify


def _quality_gate(ctx):
    from etl_gcp_spark.operators.quality import quality_gate

    rows = quality_gate(ctx.state["metrics"], _thresholds()).collect()
    return lambda: expect("gate checks passed", [r["passed"] for r in rows], [True] * 3)


def _pipeline(ctx):
    from etl_gcp_spark.pipeline import run_pipeline

    res = run_pipeline(
        ctx.state["raw"],
        rules=_rules(),
        thresholds=_thresholds(),
        distinct_cols=DISTINCT,
        null_cols=NULLS,
        fixed_time=FIXED_TS,
        materialize=os.path.join(ctx.out, "pipeline"),
    )
    got = counted(res.violations, noop)

    def verify():
        expect("pipeline exit code", res.exit_code, 0)
        expect("pipeline gold rows", res.gold.count(), ctx.cdc["unique_rows"])
        expect("pipeline violations", got["rows"], ctx.cdc["violating_rows"])

    return verify


def daily_etl() -> list[Op]:
    """The staged reference flow one op at a time, the fused pipeline,
    then the warehouse read side."""
    return [
        Op("read_csv_inferred", "sources", _extract),
        Op("normalize_clean", "operators.clean", _clean),
        Op("dedup", "operators.dedup", _dedup),
        Op("audit_stamp", "operators.clean", _stamp),
        Op("write_bronze", "sinks", _write_layer("bronze", _bronze_source, "csv_rows")),
        Op("write_silver", "sinks", _write_layer(
            "silver", lambda c: c.state["stamped"], "unique_rows")),
        Op("write_gold", "sinks", _write_layer(
            "gold", lambda c: c.state["silver"], "unique_rows")),
        Op("violations", "operators.validate", _violations),
        Op("violation_summary", "operators.validate", _violation_summary),
        Op("quality_metrics", "operators.quality", _quality_metrics),
        Op("quality_gate", "operators.quality", _quality_gate),
        Op("run_pipeline", "pipeline", _pipeline),
        *[registry_op(q, "operators.relational") for q in RELATIONAL],
        registry_op("cdc_upsert_orders", "operators.cdc"),
        registry_op("scd2_order_history", "operators.cdc"),
    ]


# --------------------------------------------------------- dedup_stream

# Batch linkage, then exact, near-duplicate and semantic dedup
# clustering, then the streaming forms of linkage and near-dup dedup.
# The streaming erasure runner ingests the records before it erases, so
# it also covers the ingest path. (entity_clusters_increment,
# entity_erasure_audit, streaming_entity_ingest and entity_label_compact
# cost 4-9 s each on this host and repeat the same linkage and
# label-store code; a run has to stay short, see README.md.)
DEDUP_STREAM = [
    ("entity_clusters", "operators.linkage"),
    ("doc_fingerprint", "functions.text"),
    ("dedup_clusters", "operators.graph"),
    ("semdedup_prune", "functions.similarity"),
    ("streaming_entity_erasure", "streaming"),
    ("streaming_near_dup_dedup", "streaming"),
]


def dedup_stream() -> list[Op]:
    return [registry_op(name, layer) for name, layer in DEDUP_STREAM]


WORKLOADS = {"daily_etl": daily_etl, "dedup_stream": dedup_stream}
