"""Streaming runners leave the caller's session alone.

A query that needs its own conf (the pinned state-store partition
count, the nanos reader flag) runs on a child session
(``streaming/staging.py::child_session``). These tests hold the
runners to that: the conftest session keeps ``shuffle.partitions=4``
through a pinned ``foreachBatch`` runner and a memory-sink runner, two
pinned runners racing on one session cannot leave it at the pinned
value, and a runtime-set timezone still reaches the batch body.
"""

from __future__ import annotations

import os
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

SHUFFLE = "spark.sql.shuffle.partitions"
TZ = "spark.sql.session.timeZone"


@pytest.fixture
def caller(spark):
    """The conftest session at ``shuffle.partitions=4`` for the test,
    then back to what it was: an earlier test in the suite can leave
    another value on the shared session (``validate_cli.main`` reuses it
    through ``getOrCreate`` with 32)."""
    prev = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "4")
    yield spark
    spark.conf.set(SHUFFLE, prev)


@pytest.fixture
def conf_watch(caller, monkeypatch):
    """Record every ``RuntimeConfig.set``/``unset`` aimed at the
    caller's session, and sample its shuffle-partition count from a
    second thread while the test body runs."""
    spark = caller
    target = spark.conf._jconf
    writes: list[tuple] = []
    for name in ("set", "unset"):
        orig = getattr(RuntimeConfig, name)

        def spy(self, *args, _orig=orig, _name=name):
            if self._jconf.equals(target):
                writes.append((_name, *args))
            return _orig(self, *args)

        monkeypatch.setattr(RuntimeConfig, name, spy)
    seen: set[str] = set()
    stop = threading.Event()

    def sample():
        while not stop.wait(0.02):
            seen.add(spark.conf.get(SHUFFLE))

    t = threading.Thread(target=sample, daemon=True)
    t.start()
    yield writes, seen
    stop.set()
    t.join(timeout=10)
    assert not t.is_alive()


def test_runners_never_write_the_callers_conf(
    spark, sf_dir, tmp_path, conf_watch
):
    from etl_gcp_spark.sources.readers import load_table
    from etl_gcp_spark.streaming.events import (
        run_streaming_hourly_counts,
        run_streaming_topk,
    )

    # load_table writes reader settings itself; load before watching
    events = load_table(spark, sf_dir, "events")
    writes, seen = conf_watch
    writes.clear()
    top = run_streaming_topk(spark, events, k=5, root=str(tmp_path / "topk"))
    assert top.count() > 0
    hourly = run_streaming_hourly_counts(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    assert hourly.count() > 0
    assert writes == []
    assert seen == {"4"}
    assert spark.conf.get(SHUFFLE) == "4"


def test_pooled_pinned_runners_keep_the_callers_partitions(
    caller, sf_dir, tmp_path
):
    spark = caller
    from etl_gcp_spark.sources.readers import load_table
    from etl_gcp_spark.streaming.events import run_streaming_cms, run_streaming_topk

    events = load_table(spark, sf_dir, "events")
    jobs = [
        lambda: run_streaming_topk(
            spark, events, k=5, root=str(tmp_path / "topk")
        ).collect(),
        lambda: run_streaming_cms(
            spark, events, [1, 2, 3], root=str(tmp_path / "cms")
        ).collect(),
    ]
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(j) for j in jobs]:
            assert f.result(timeout=300)
    assert spark.conf.get(SHUFFLE) == "4"


def test_pinned_batches_see_the_callers_timezone(caller, tmp_path):
    spark = caller
    from etl_gcp_spark.streaming.staging import (
        PINNED_CONF,
        STATE_PARTITIONS,
        child_session,
        run_microbatches,
        staged_stream,
    )

    root = str(tmp_path / "tz")
    spark.range(20).coalesce(2).write.parquet(os.path.join(root, "in"))
    seen = []

    def body(batch_df, batch_id):
        conf = batch_df.sparkSession.conf
        tz = batch_df.select(F.current_timezone()).first()[0]
        seen.append((conf.get(SHUFFLE), conf.get(TZ), tz))

    spark.conf.set(TZ, "America/New_York")
    try:
        run_microbatches(
            staged_stream(child_session(spark, PINNED_CONF), root, "id long"),
            root,
            body,
        )
        assert spark.conf.get(SHUFFLE) == "4"
    finally:
        spark.conf.set(TZ, "UTC")
    ny = "America/New_York"
    assert seen == [(str(STATE_PARTITIONS), ny, ny)] * 2


def test_memory_sink_sees_the_callers_timezone(caller, sf_dir):
    spark = caller
    from etl_gcp_spark.streaming.events import _run_to_memory

    spark.conf.set(TZ, "Asia/Tokyo")
    try:
        out = _run_to_memory(
            spark,
            os.path.join(sf_dir, "events.parquet"),
            lambda events: events().select(F.current_timezone().alias("tz")),
            output_mode="append",
        )
        assert {r.tz for r in out.distinct().collect()} == {"Asia/Tokyo"}
        assert spark.conf.get(SHUFFLE) == "4"
    finally:
        spark.conf.set(TZ, "UTC")


def test_memory_sink_removes_its_staged_copy(spark, sf_dir):
    from etl_gcp_spark.streaming.events import run_streaming_hourly_counts

    def copies():
        return {
            e
            for e in os.listdir(tempfile.gettempdir())
            if e.startswith("etl_gcp_spark_stream_")
        }

    before = copies()
    out = run_streaming_hourly_counts(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    assert out.count() > 0
    assert copies() - before == set()


def test_child_session_follows_the_caller_and_is_reused(spark, tmp_path):
    from etl_gcp_spark.streaming.staging import (
        PINNED_CONF,
        child_session,
        run_microbatches,
        staged_stream,
    )

    key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "1234")
    try:
        assert child_session(spark, PINNED_CONF).conf.get(key) == "1234"
    finally:
        spark.conf.unset(key)
    assert child_session(spark, PINNED_CONF).conf.get(key) == "0"

    # every session that starts a stream adds a listener to the
    # context's bus for good; reusing the child keeps that to one
    bus = spark.sparkContext._jsc.sc().listenerBus()
    counts = []
    for i in range(3):
        run = str(tmp_path / f"run{i}")
        spark.range(4).coalesce(1).write.parquet(os.path.join(run, "in"))
        run_microbatches(
            staged_stream(child_session(spark, PINNED_CONF), run, "id long"),
            run,
            lambda df, _: df.count(),
        )
        counts.append(bus.listeners().size())
    assert counts[0] == counts[-1]
