"""Validation CLI: the reference's exit-code contract (R4).

The reference validator runs checks against the warehouse and exits
0/1 so the orchestrator can gate downstream tasks
(``data_validator.py:214-219`` in /root/reference; DAG trigger rules
``dags/etl_dag_updt.py:60,69``). Here the same contract wraps the
engine's one-pass quality metrics + threshold gate:

    python -m etl_gcp_spark.validate_cli /root/testdata/sf0.001 \
        --table events --min-rows 100 --distinct user_id:10

Exit 0 when every threshold passes, 1 otherwise; the report prints as
JSON lines so an orchestrator can both gate on the code and scrape
the metrics.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("sf_dir")
    p.add_argument("--table", default="events")
    p.add_argument("--min-rows", type=float, default=1.0)
    p.add_argument(
        "--distinct",
        action="append",
        default=[],
        metavar="COL:MIN",
        help="require count(distinct COL) >= MIN (repeatable)",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from etl_gcp_spark.operators.quality import (
        Threshold,
        gate_exit_code,
        quality_gate,
        quality_metrics,
    )
    from etl_gcp_spark.sources.readers import load_table

    # reuse an active session if the caller has one, as it is (a
    # builder .config() would write onto it) and leave it running;
    # only configure and stop a session this CLI itself created
    spark = SparkSession.getActiveSession()
    owned = spark is None
    if owned:
        spark = (
            SparkSession.builder.master("local[*]")
            .appName("etl-gcp-spark-validate")
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    try:
        pairs = [d.split(":") for d in args.distinct]
        df = load_table(spark, args.sf_dir, args.table)
        metrics = quality_metrics(df, distinct_cols=[c for c, _ in pairs])
        thresholds = [Threshold("row_count", args.min_rows)] + [
            Threshold(f"distinct_{c}", float(m)) for c, m in pairs
        ]
        report = quality_gate(metrics, thresholds)
        for row in report.collect():
            print(json.dumps(row.asDict(), default=str))
        return gate_exit_code(report)
    finally:
        if owned:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
