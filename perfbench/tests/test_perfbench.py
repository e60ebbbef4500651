"""Self-tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import fold  # noqa: E402
import inputs  # noqa: E402
from run import END_TO_END  # noqa: E402
from stats import check_name, check_unit, frame_digest, median, tail  # noqa: E402
from worker import Tally  # noqa: E402
from workloads import Mismatch, Op  # noqa: E402

# ---------------------------------------------------------------- fold

T0 = 1_700_000_000.0  # epoch seconds


def _ms(t: float) -> int:
    return int(round((T0 + t) * 1000))


def _job_start(jid, t, stages, tags=None, xid=None):
    props = {}
    if tags is not None:
        props["spark.job.tags"] = ",".join(tags)
    if xid is not None:
        props["spark.sql.execution.id"] = str(xid)
    return {
        "Event": "SparkListenerJobStart", "Job ID": jid,
        "Submission Time": _ms(t), "Stage IDs": stages, "Properties": props,
    }


def _job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": _ms(t)}


def _task_end(stage, shuffle=0, spill=0, read=0, written=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read},
            "Output Metrics": {"Bytes Written": written},
        },
    }


def canned_log() -> list[str]:
    sql = fold.SQL_EVENT
    events = [
        # op span: streaming, 0..10 s; nested graph span 2..5 s
        _job_start(0, 0.5, [0, 1], tags=["layer=streaming", "other"], xid=7),
        _task_end(0, shuffle=100, read=1000),
        _task_end(0, shuffle=50, read=24),
        _task_end(1, spill=4096, written=300),
        _job_end(0, 1.5),
        # untagged, submitted inside the graph span: attributed there
        _job_start(1, 3.0, [2]),
        _task_end(2, shuffle=7),
        _job_end(1, 4.0),
        # re-lists stage 0 (skipped); its tasks stay with job 0
        _job_start(2, 6.0, [0, 3], tags=["layer=streaming"]),
        _task_end(3),
        _job_end(2, 7.0),
        # outside every span: not counted
        _job_start(3, 20.0, [4]),
        _task_end(4, shuffle=999),
        _job_end(3, 21.0),
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 7,
         "sparkPlanInfo": {"nodeName": "Execute", "metrics": [
             {"name": "number of written files", "accumulatorId": 41}],
             "children": [{"nodeName": "Exchange", "metrics": [
                 {"name": "shuffle bytes written", "accumulatorId": 42}],
                 "children": []}]}},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 7,
         "accumUpdates": [[41, 3], [42, 12345]]},
        {"Event": fold.PROGRESS_EVENT, "progress": {
            "durationMs": {"triggerExecution": 400},
            "sources": [{"numInputRows": 10}]}},
        {"Event": fold.PROGRESS_EVENT, "progress": {
            "durationMs": {"triggerExecution": 200},
            "sources": [{"numInputRows": 5}, {"numInputRows": 1}]}},
        {"Event": "SparkListenerLogStart", "Spark Version": "4"},
    ]
    return [json.dumps(e) for e in events]


def test_fold_canned_event_log():
    spans = [
        fold.Span("operators.graph", T0 + 2.0, T0 + 5.0),
        fold.Span("streaming", T0 + 0.0, T0 + 10.0),
    ]
    res = fold.fold(canned_log(), spans)
    m = res.metrics
    assert m["streaming.jobs"] == 2
    assert m["streaming.tasks"] == 4
    assert m["streaming.single_task_jobs"] == 1  # job 2 ran one task
    assert m["streaming.shuffle_bytes"] == 150
    assert m["streaming.spill_bytes"] == 4096
    assert m["streaming.busy_s"] == pytest.approx(2.0)
    # streaming is innermost for 10 - 3 = 7 s, of which 2 s are its jobs
    assert m["streaming.driver_gap_s"] == pytest.approx(5.0)
    assert m["operators.graph.jobs"] == 1
    assert m["operators.graph.single_task_jobs"] == 1
    assert m["operators.graph.shuffle_bytes"] == 7
    assert m["operators.graph.busy_s"] == pytest.approx(1.0)
    assert m["operators.graph.driver_gap_s"] == pytest.approx(2.0)
    assert m["operators.relational.jobs"] == 0
    assert m["sources.bytes_read"] == 1024
    assert m["sinks.bytes_written"] == 300
    assert m["sinks.files_written"] == 3
    assert m["streaming.triggers"] == 2
    assert m["streaming.input_rows"] == 16
    assert m["streaming.trigger_p50_s"] == pytest.approx(0.3)
    assert res.untagged_jobs == 2
    assert res.unattributed_jobs == 1


def test_innermost_and_intervals():
    spans = [fold.Span("a", 0, 10), fold.Span("b", 2, 5), fold.Span("c", 3, 4)]
    pieces = fold.innermost(spans)
    assert pieces == [
        (0, 2, "a"), (2, 3, "b"), (3, 4, "c"), (4, 5, "b"), (5, 10, "a"),
    ]
    u = fold.union([(0, 1), (0.5, 2), (3, 4), (4, 4)])
    assert u == [(0, 2), (3, 4)]
    assert fold.measure(fold.intersect(u, [(1, 3.5)])) == pytest.approx(1.5)


# ------------------------------------------------- percentiles, names


def test_tail_rule_needs_ten_beyond():
    v, p, n = tail([float(i) for i in range(100)])
    assert (p, n) == (90.0, 10)
    assert v == 89.0
    v, p, n = tail([float(i) for i in range(1000)])
    assert (p, n) == (99.0, 10)
    v, p, n = tail([float(i) for i in range(36)])
    assert n >= 10 and p == 72.0
    # too few samples for any percentile from 50 up: the median
    v, p, n = tail([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (v, p) == (3.0, 50.0)


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_metric_name_grammar():
    names = list(fold.per_layer_units()) + list(END_TO_END)
    assert len(names) == len(set(names))
    for name in names:
        assert check_name(name) == name
    for unit in list(fold.per_layer_units().values()) + list(END_TO_END.values()):
        assert check_unit(unit) == unit
    for bad in ("", "-x", "a b", "a/b", "x" * 65, "é"):
        with pytest.raises(ValueError):
            check_name(bad)


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert {w["name"] for w in spec["workloads"]} == set(inputs_workloads())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == fold.per_layer_units()
    assert len(spec["per_layer"]) <= 128
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def inputs_workloads():
    from workloads import WORKLOADS

    return WORKLOADS


# -------------------------------------------------------------- inputs


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = inputs.generate(5, str(tmp_path / "a"))
    b = inputs.generate(5, str(tmp_path / "b"))
    c = inputs.generate(6, str(tmp_path / "c"))
    ta, tb, tc = _tree_bytes(a), _tree_bytes(b), _tree_bytes(c)
    assert ta == tb
    assert set(ta) == set(tc)
    assert all(ta[k] != tc[k] for k in ta if k not in ("region.parquet", "nation.parquet"))
    assert os.path.basename(a) != os.path.basename(c)


def test_planted_counts_are_consistent(tmp_path):
    import pyarrow.csv as pcsv

    path = inputs.generate(7, str(tmp_path))
    cdc = inputs.load_manifest(path)["cdc"]
    table = pcsv.read_csv(os.path.join(path, "cdc_indicators.csv"))
    assert table.num_rows == cdc["csv_rows"]
    assert table.column_names == inputs.CDC_COLUMNS
    assert len(set(map(tuple, table.to_pandas().astype(str).values))) == cdc["unique_rows"]
    assert cdc["duplicate_rows"] == cdc["csv_rows"] - cdc["unique_rows"] > 0
    assert 0 < cdc["range_violations"] and 0 < cdc["order_violations"]


# ------------------------------------------------------------ failures


def test_wrong_op_counts_as_failed():
    def wrong_result(ctx):
        def verify():
            raise Mismatch("digest differs")

        return verify

    def raises(ctx):
        raise RuntimeError("boom")

    def fine(ctx):
        return lambda: None

    tally = Tally()
    latencies = [
        tally.run(op, None)
        for op in (
            Op("good", "sources", fine), Op("bad", "sources", wrong_result),
            Op("boom", "sinks", raises), Op("good", "sources", fine),
        )
    ]
    assert (tally.attempted, tally.failed) == (4, 2)
    assert tally.failed / tally.attempted == 0.5
    assert [m.split(":")[0] for m in tally.failures] == ["bad", "boom"]
    # a wrong result still has a latency; an op that raised has none
    assert [x is None for x in latencies] == [False, False, True, False]


def test_frame_digest_is_order_insensitive():
    a = frame_digest(["b", "a"], [(1, 2.0), (3, None)])
    b = frame_digest(["a", "b"], [(None, 3), (2.0, 1)])
    assert a == b
    assert a != frame_digest(["a", "b"], [(2.0, 1)])
