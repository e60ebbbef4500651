"""Source/sink contracts: parquet loaders (incl. the NANOS-timestamp
path), schema-inferring CSV, atomic overwrite/append, evolution policy,
chunked CSV export."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_gcp_spark.operators.quality import quality_metrics
from etl_gcp_spark.sinks.writers import (
    write_chunked_csv,
    write_table,
)
from etl_gcp_spark.sources.readers import (
    TABLES,
    load_table,
    read_csv_inferred,
)


def test_load_table_events_nanos_timestamps(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.limit(1).count() == 1


def test_mixed_precision_dir_raises(spark, sf_dir, tmp_path):
    # a directory mixing TIMESTAMP(NANOS) and micros parquet files
    # must be rejected, not silently classified by its first file
    import shutil

    import pytest

    from etl_gcp_spark.sources.readers import _nanos_timestamp_cols

    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "a_nanos.parquet")
    # micros twin with the same column name
    spark.createDataFrame([(1,)], "event_id long").selectExpr(
        "event_id", "timestamp'2024-01-01' as ts"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "mp"))
    src = next((tmp_path / "mp").glob("*.parquet"))
    shutil.copy(src, d / "b_micros.parquet")
    with pytest.raises(ValueError, match="mixed timestamp precisions"):
        _nanos_timestamp_cols(str(d))


def test_load_all_tables_nonempty(spark, sf_dir):
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        assert df.limit(1).count() == 1, name


def test_csv_roundtrip_with_inference(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(k=i, v=float(i), s=f"s{i}") for i in range(10)]
    )
    path = str(tmp_path / "csv")
    write_chunked_csv(df, path, rows_per_file=3)
    back = read_csv_inferred(spark, path)
    assert back.count() == 10
    types = dict(back.dtypes)
    assert types["k"] == "int" and types["v"] == "double" and types["s"] == "string"
    # maxRecordsPerFile bound respected
    files = glob.glob(os.path.join(path, "*.csv"))
    assert files and all(
        sum(1 for _ in open(f)) <= 4 for f in files  # 3 rows + header
    )


def test_write_table_overwrite_is_atomic_replace(spark, tmp_path):
    path = str(tmp_path / "t")
    df1 = spark.createDataFrame([Row(a=1)])
    df2 = spark.createDataFrame([Row(a=2), Row(a=3)])
    write_table(df1, path)
    write_table(df2, path)  # overwrite default
    assert sorted(r.a for r in spark.read.parquet(path).collect()) == [2, 3]


def test_write_table_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "p")
    df = spark.createDataFrame(
        [Row(k=i % 2, v=i) for i in range(10)]
    )
    write_table(df, path, partition_by=["k"])
    pruned = spark.read.parquet(path).filter(F.col("k") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (pruned layout, not a post-filter)
    assert "PartitionFilters: [isnotnull(k" in plan
    assert pruned.count() == 5


def test_quality_metrics_on_real_table(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    row = quality_metrics(
        li, distinct_cols=["l_returnflag"], null_cols=["l_orderkey"]
    ).collect()[0]
    assert row.row_count > 0
    assert row.distinct_l_returnflag >= 1
    assert row.null_l_orderkey == 0


def test_dynamic_partition_pruning_on_fact_join(spark, sf_dir, tmp_path):
    """A selective dim filter must prune FACT partitions at runtime
    (dynamic partition pruning), not just at the dim scan — the
    mechanism that keeps a star join from scanning 100 TB of fact
    partitions when the dim filter hits a handful of them."""
    fact = os.path.join(str(tmp_path), "orders_by_priority")
    load_table(spark, sf_dir, "orders").write.partitionBy(
        "o_orderpriority"
    ).parquet(fact)
    dim = spark.createDataFrame(
        [Row(priority="1-URGENT", tier="hot"), Row(priority="5-LOW", tier="cold")]
    ).filter(F.col("tier") == "hot")
    joined = (
        spark.read.parquet(fact)
        .join(F.broadcast(dim), F.col("o_orderpriority") == F.col("priority"))
        .groupBy("o_orderpriority")
        .count()
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan
    rows = joined.collect()
    assert len(rows) == 1 and rows[0]["o_orderpriority"] == "1-URGENT"


def test_compact_files_preserves_rows_and_reduces_files(spark, tmp_path):
    import os

    from etl_gcp_spark.sinks.writers import compact_files, write_table

    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS g")
    write_table(df.repartition(8), src, max_records_per_file=50)
    n_src = sum(1 for f in os.listdir(src) if f.endswith("parquet"))
    n_dst = compact_files(spark, src, dst, target_files=1)
    assert n_src >= 8 and n_dst == 1
    back = spark.read.parquet(dst)
    assert back.count() == 1000
    assert sorted(r["id"] for r in back.collect()) == list(range(1000))


def test_orc_roundtrip_matches_source(spark, tmp_path):
    from etl_gcp_spark.sinks.writers import write_table

    path = str(tmp_path / "orc")
    df = spark.range(0, 500).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS v")
    write_table(df, path, fmt="orc")
    back = spark.read.orc(path)
    assert back.count() == 500
    assert dict(back.dtypes) == dict(df.dtypes)


def test_dynamic_partition_overwrite_touches_only_loaded_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_gcp_spark.sinks.writers import write_table

    path = str(tmp_path / "dyn")
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 2 == 0).cast("string").alias("p")
    )
    write_table(df, path, partition_by=["p"])
    # reload ONLY partition p='true' with a 10-row subset
    write_table(
        df.filter((F.col("p") == "true") & (F.col("id") < 20)),
        path,
        partition_by=["p"],
        dynamic_overwrite=True,
    )
    back = spark.read.parquet(path)
    assert back.filter("p = 'false'").count() == 50   # untouched
    assert back.filter("p = 'true'").count() == 10    # replaced


def test_profile_table_one_pass_and_values(spark):
    from pyspark.sql import Row

    from etl_gcp_spark.operators.quality import profile_table

    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=2, b="y"), Row(a=None, b="x")]
    )
    got = {r["column_name"]: r for r in profile_table(df).collect()}
    assert got["a"]["n_rows"] == 3 and got["a"]["n_nulls"] == 1
    assert got["a"]["n_distinct"] == 2
    assert got["a"]["min_value"] == 1.0 and got["a"]["max_value"] == 2.0
    assert got["b"]["n_nulls"] == 0 and got["b"]["n_distinct"] == 2
    assert got["b"]["min_value"] is None
    # single aggregate over a single scan: no join, no second scan
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_observation_metrics_piggyback_on_action(spark):
    # df.observe: aggregate metrics collected as a side effect of the
    # main action - the zero-extra-pass monitoring hook quality gates
    # want at scale (no second scan for counts).
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("ingest_metrics")
    df = spark.range(0, 1000).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").alias("id_sum"),
        F.count_if(F.col("id") % 2 == 0).alias("n_even"),
    )
    assert df.count() == 1000  # the action
    got = obs.get
    assert got == {"n_rows": 1000, "id_sum": 499500, "n_even": 500}
