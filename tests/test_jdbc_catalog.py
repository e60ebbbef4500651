"""JDBC wrappers (S6/S8/S9/S10) + catalog probes (S11/S12).

Runs against embedded Apache Derby — on Spark's own classpath — so
the real ``format('jdbc')`` read/write path is exercised, not a mock
(reference data_extractor.py:266-294, :379-412).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from etl_gcp_spark.sources.jdbc import (
    DERBY_EMBEDDED_DRIVER,
    derby_memory_url,
    read_jdbc,
    write_jdbc,
)


def _df(spark):
    return spark.createDataFrame(
        [Row(k=i, grp=i % 3, name=f"row_{i}") for i in range(20)]
    )


def test_jdbc_roundtrip_partitioned(spark):
    url = derby_memory_url("unit_rt")
    write_jdbc(
        _df(spark),
        url,
        "T_RT",
        mode="overwrite",
        driver=DERBY_EMBEDDED_DRIVER,
        batchsize=7,
    )
    back = read_jdbc(
        spark,
        url,
        "T_RT",
        partition_column="K",
        lower_bound=0,
        upper_bound=20,
        num_partitions=4,
        driver=DERBY_EMBEDDED_DRIVER,
    )
    assert back.rdd.getNumPartitions() == 4
    got = sorted((r.k, r.grp, r.name) for r in back.collect())
    assert got == [(i, i % 3, f"row_{i}") for i in range(20)]


def test_jdbc_overwrite_truncate_keeps_ddl(spark):
    url = derby_memory_url("unit_trunc")
    write_jdbc(
        _df(spark), url, "T_TR", mode="overwrite",
        driver=DERBY_EMBEDDED_DRIVER,
    )
    # second overwrite with truncate=True reuses the DDL (TRUNCATE
    # path — the reference's schema-match fast path)
    write_jdbc(
        _df(spark).filter("k < 5"), url, "T_TR",
        mode="overwrite", truncate=True, driver=DERBY_EMBEDDED_DRIVER,
    )
    back = read_jdbc(spark, url, "T_TR", driver=DERBY_EMBEDDED_DRIVER)
    assert back.count() == 5


def test_jdbc_partitioned_requires_full_spec(spark):
    with pytest.raises(ValueError, match="partitioned JDBC read"):
        read_jdbc(
            spark,
            derby_memory_url("unit_bad"),
            "T",
            partition_column="K",
            lower_bound=0,
        )
