"""Fold a Spark event log into per-layer numbers.

Input: the JSON-lines event log of one traced session, and the spans
the benchmark recorded around its calls into each layer (wall-clock
epoch seconds, the same clock the event log stamps in milliseconds).

A job belongs to the layer named by its ``layer=<name>`` job tag, which
the tracer sets on the submitting thread (streaming threads inherit the
tag of the thread that started the query). A job without that tag
belongs to the innermost span open when it was submitted. Jobs outside
every span (warm-up, probes) are not counted.

Per layer ``L``:

- ``busy_s``: length of the union of L's job intervals;
- ``jobs``, ``single_task_jobs``, ``tasks``;
- ``shuffle_bytes``: shuffle bytes written by L's tasks;
- ``spill_bytes``: bytes L's tasks spilled to disk;
- ``driver_gap_s``: time when L was the innermost open span and none
  of L's jobs ran — driver-side Python, planning and waiting.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from stats import median, tail

LAYERS = (
    "sources",
    "sinks",
    "pipeline",
    "operators.clean",
    "operators.dedup",
    "operators.validate",
    "operators.quality",
    "operators.relational",
    "operators.cdc",
    "operators.linkage",
    "operators.graph",
    "operators.text_dedup",
    "streaming",
    "functions.similarity",
    "functions.text",
)
GENERIC = (
    ("busy_s", "s"),
    ("jobs", "count"),
    ("single_task_jobs", "count"),
    ("tasks", "count"),
    ("shuffle_bytes", "B"),
    ("spill_bytes", "B"),
    ("driver_gap_s", "s"),
)
EXTRAS = (
    ("session.build_s", "s"),
    ("session.warmup_s", "s"),
    ("sources.bytes_read", "B"),
    ("sinks.bytes_written", "B"),
    ("sinks.files_written", "count"),
    ("streaming.triggers", "count"),
    ("streaming.input_rows", "count"),
    ("streaming.trigger_p50_s", "s"),
    ("streaming.trigger_tail_s", "s"),
    ("functions.similarity.build_s", "s"),
    ("functions.similarity.serve_s", "s"),
    ("functions.text.build_s", "s"),
    ("functions.text.serve_s", "s"),
    ("caching.leaked_rdds", "count"),
    ("caching.leaked_views", "count"),
    ("caching.leaked_streams", "count"),
    ("caching.leaked_tmp_files", "count"),
    ("trace.overhead_s", "s"),
)
TAG_PREFIX = "layer="
SQL_EVENT = "org.apache.spark.sql.execution.ui."
PROGRESS_EVENT = (
    "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in GENERIC}
    units.update(EXTRAS)
    return units


@dataclass
class Span:
    layer: str
    start: float
    end: float


@dataclass
class _Job:
    start: float
    end: float
    layer: str | None
    tasks: int = 0
    shuffle: int = 0
    spill: int = 0


@dataclass
class Fold:
    metrics: dict[str, float] = field(default_factory=dict)
    unattributed_jobs: int = 0
    untagged_jobs: int = 0


# ----------------------------------------------------------- intervals


def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def measure(merged) -> float:
    return sum(b - a for a, b in merged)


def intersect(x, y) -> list[tuple[float, float]]:
    """Intersection of two merged interval lists."""
    out, i, j = [], 0, 0
    while i < len(x) and j < len(y):
        a, b = max(x[i][0], y[j][0]), min(x[i][1], y[j][1])
        if a < b:
            out.append((a, b))
        if x[i][1] < y[j][1]:
            i += 1
        else:
            j += 1
    return out


def innermost(spans: list[Span]) -> list[tuple[float, float, str]]:
    """Split time into pieces, each labelled with the layer of the
    innermost open span (the latest-started one still open)."""
    bounds = []
    for k, s in enumerate(spans):
        bounds.append((s.start, 1, k))
        bounds.append((s.end, 0, k))
    bounds.sort()
    active: list[int] = []
    pieces = []
    prev = None
    for t, kind, k in bounds:
        if prev is not None and active and t > prev:
            top = max(active, key=lambda i: (spans[i].start, i))
            pieces.append((prev, t, spans[top].layer))
        if kind == 1:
            active.append(k)
        else:
            active.remove(k)
        prev = t
    return pieces


def _layer_at(pieces, t: float) -> str | None:
    lo, hi = 0, len(pieces)
    while lo < hi:
        mid = (lo + hi) // 2
        if pieces[mid][1] <= t:
            lo = mid + 1
        else:
            hi = mid
    if lo < len(pieces) and pieces[lo][0] <= t:
        return pieces[lo][2]
    return None


# ------------------------------------------------------------ the fold


def _plan_metric_names(plan: dict, names: dict[int, str]) -> None:
    stack = [plan]
    while stack:
        node = stack.pop()
        for m in node.get("metrics", ()):
            names[int(m["accumulatorId"])] = m["name"]
        stack.extend(node.get("children", ()))


def fold(lines, spans: list[Span]) -> Fold:
    """Fold event-log lines (an iterable of JSON strings) over the
    recorded spans. Returns the generic per-layer metrics plus the
    event-log extras (bytes read and written, files written, streaming
    triggers); the caller adds the session, metering and leak extras."""
    pieces = innermost(spans)
    jobs: dict[int, _Job] = {}
    stage_job: dict[int, int] = {}
    exec_layer: dict[int, str | None] = {}
    accum_names: dict[int, str] = {}
    files_by_exec: dict[int, int] = {}
    bytes_read = bytes_written = 0
    triggers: list[float] = []
    input_rows = 0
    result = Fold()

    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            props = e.get("Properties") or {}
            tags = (props.get("spark.job.tags") or "").split(",")
            layer = next(
                (x[len(TAG_PREFIX):] for x in tags if x.startswith(TAG_PREFIX)),
                None,
            )
            if layer is None:
                result.untagged_jobs += 1
                layer = _layer_at(pieces, t)
            if layer is None:
                result.unattributed_jobs += 1
            jid = e["Job ID"]
            jobs[jid] = _Job(start=t, end=t, layer=layer)
            for sid in e.get("Stage IDs", ()):
                stage_job.setdefault(sid, jid)
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                exec_layer.setdefault(int(xid), layer)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"], -1))
            if job is None or job.layer is None:
                continue
            m = e.get("Task Metrics") or {}
            job.tasks += 1
            job.shuffle += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            job.spill += m.get("Disk Bytes Spilled", 0)
            bytes_read += m.get("Input Metrics", {}).get("Bytes Read", 0)
            bytes_written += m.get("Output Metrics", {}).get("Bytes Written", 0)
        elif kind in (
            SQL_EVENT + "SparkListenerSQLExecutionStart",
            SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            _plan_metric_names(e.get("sparkPlanInfo") or {}, accum_names)
        elif kind == SQL_EVENT + "SparkListenerDriverAccumUpdates":
            xid = int(e["executionId"])
            for acc, value in e.get("accumUpdates", ()):
                if accum_names.get(int(acc)) == "number of written files":
                    files_by_exec[xid] = files_by_exec.get(xid, 0) + int(value)
        elif kind == PROGRESS_EVENT:
            p = e["progress"]
            dur = (p.get("durationMs") or {}).get("triggerExecution")
            if dur is not None:
                triggers.append(dur / 1000.0)
                input_rows += sum(
                    int(s.get("numInputRows") or 0) for s in p.get("sources", ())
                )

    by_layer: dict[str, list[_Job]] = {}
    for job in jobs.values():
        if job.layer is not None:
            by_layer.setdefault(job.layer, []).append(job)
    out = result.metrics
    for layer in LAYERS:
        js = by_layer.get(layer, [])
        busy = union((j.start, j.end) for j in js)
        own = union((a, b) for a, b, lay in pieces if lay == layer)
        out[f"{layer}.busy_s"] = measure(busy)
        out[f"{layer}.jobs"] = len(js)
        out[f"{layer}.single_task_jobs"] = sum(1 for j in js if j.tasks == 1)
        out[f"{layer}.tasks"] = sum(j.tasks for j in js)
        out[f"{layer}.shuffle_bytes"] = sum(j.shuffle for j in js)
        out[f"{layer}.spill_bytes"] = sum(j.spill for j in js)
        out[f"{layer}.driver_gap_s"] = measure(own) - measure(intersect(own, busy))
    out["sources.bytes_read"] = bytes_read
    out["sinks.bytes_written"] = bytes_written
    out["sinks.files_written"] = sum(
        n for xid, n in files_by_exec.items() if exec_layer.get(xid) is not None
    )
    out["streaming.triggers"] = len(triggers)
    out["streaming.input_rows"] = input_rows
    out["streaming.trigger_p50_s"] = median(triggers) if triggers else 0.0
    out["streaming.trigger_tail_s"] = tail(triggers)[0] if triggers else 0.0
    return result


def fold_file(path: str, spans: list[Span]) -> Fold:
    with open(path) as f:
        return fold(f, spans)
