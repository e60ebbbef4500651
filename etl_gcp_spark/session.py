"""SparkSession factory.

The reference pipeline runs three sequential single-process jobs with
hand-tuned chunk sizes (reference ``data_extractor.py:59``,
``data_loader.py:412``) to stay inside a 2 GiB container. In Spark the
equivalent knobs are partition sizing + AQE; everything else
(pipelining, spill, vectorization) is native. These defaults target
local[N] development but are chosen to be correct on a large cluster:
AQE re-plans shuffle partition counts and join strategies at runtime,
so the static ``shuffle.partitions`` value is only a ceiling.
"""

from __future__ import annotations

import os
import warnings

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl_gcp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing of shuffle partitions, dynamic
      broadcast-join switching, skew-join splitting — the knobs that
      make one config work from sf0.001 to 100 TB.
    - UTC session timezone: deterministic timestamp semantics across
      engines (the driver's DuckDB oracle reads naive timestamps).
    - Arrow enabled: vectorized pandas interchange for the few
      Pandas-UDF operators.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    master = master or (f"local[{cpus}]" if cpus else "local[*]")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8) if cpus else 32
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # SPARK_GRAFT_SPARK_CONF="k=v;k=v" — session-construction overrides
    # for config A/B experiments (shuffle codec, committer algorithm,
    # join-strategy preference). Unset (the default, and what the
    # driver's bench runs with) this is a no-op, so benchmark
    # methodology is unchanged; cluster deployments set their
    # scale-appropriate values here instead of editing code. ';'
    # separates pairs, so a value cannot contain one; a non-empty pair
    # without '=' is an error, not a silent skip.
    overrides = dict(extra_conf or {})
    for pair in os.environ.get("SPARK_GRAFT_SPARK_CONF", "").split(";"):
        if not pair.strip():
            continue
        k, sep, v = pair.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"SPARK_GRAFT_SPARK_CONF: expected key=value, got {pair!r}"
            )
        overrides[k.strip()] = v.strip()
    for k, v in overrides.items():
        builder = builder.config(k, v)
    if overrides and SparkContext._active_spark_context is not None:
        # getOrCreate() reuses the running context: static and core
        # settings (master, memory, event log) keep their old values
        warnings.warn(
            "get_spark: a SparkContext is already running, so config "
            f"overrides {sorted(overrides)} apply only where they are "
            "runtime SQL settings",
            RuntimeWarning,
            stacklevel=2,
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
