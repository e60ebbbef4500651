"""Tracing for the ``--trace 1`` run: layer spans with Spark job tags,
and the leak probe between operations.

Spans are recorded from the benchmark's side only. Each operation is
one span of its layer. While tracing, the public functions of the layer
modules are wrapped so that a call into another layer (linkage into the
graph kernel, a streaming runner into the text-dedup operators) opens a
nested span. On entering a span the submitting thread's ``layer=<name>``
job tag is swapped for the new layer's; on leaving it is restored. The
wrappers keep the wrapped function's module and qualified name, so a
function shipped to Python workers still pickles by reference and the
workers run the original.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import threading
import time
import types

from fold import TAG_PREFIX, Span

LAYER_OF_MODULE = {
    "etl_gcp_spark.sources.readers": "sources",
    "etl_gcp_spark.sinks.writers": "sinks",
    "etl_gcp_spark.pipeline": "pipeline",
    "etl_gcp_spark.operators.clean": "operators.clean",
    "etl_gcp_spark.operators.dedup": "operators.dedup",
    "etl_gcp_spark.operators.validate": "operators.validate",
    "etl_gcp_spark.operators.quality": "operators.quality",
    "etl_gcp_spark.operators.relational": "operators.relational",
    "etl_gcp_spark.operators.cdc": "operators.cdc",
    "etl_gcp_spark.operators.linkage": "operators.linkage",
    "etl_gcp_spark.operators.graph": "operators.graph",
    "etl_gcp_spark.operators.text_dedup": "operators.text_dedup",
    "etl_gcp_spark.streaming.entities": "streaming",
    "etl_gcp_spark.streaming.events": "streaming",
    "etl_gcp_spark.streaming.staging": "streaming",
    "etl_gcp_spark.streaming.text": "streaming",
    "etl_gcp_spark.streaming.vectors": "streaming",
    "etl_gcp_spark.functions.similarity": "functions.similarity",
    "etl_gcp_spark.functions.text": "functions.text",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patched: list[tuple[types.ModuleType, str, object]] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        stack = self._local.__dict__.setdefault("stack", [])
        if stack and stack[-1] == layer:
            yield
            return
        prev = [t for t in self.sc.getJobTags() if t.startswith(TAG_PREFIX)]
        for t in prev:
            self.sc.removeJobTag(t)
        self.sc.addJobTag(TAG_PREFIX + layer)
        stack.append(layer)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self.sc.removeJobTag(TAG_PREFIX + layer)
            for t in prev:
                self.sc.addJobTag(t)
            self.spans.append(Span(layer, start, end))

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every public function of the layer modules, wherever a
        loaded module of the package holds a reference to it."""
        for name in LAYER_OF_MODULE:
            importlib.import_module(name)
        wrappers: dict[int, object] = {}
        for mod_name, module in list(sys.modules.items()):
            if not (
                mod_name.startswith("etl_gcp_spark") or mod_name == "__spark_entry__"
            ):
                continue
            for attr, val in list(vars(module).items()):
                if (
                    not isinstance(val, types.FunctionType)
                    or val.__name__.startswith("_")
                    or val.__module__ not in LAYER_OF_MODULE
                ):
                    continue
                w = wrappers.get(id(val))
                if w is None:
                    w = wrappers[id(val)] = self._wrap(
                        val, LAYER_OF_MODULE[val.__module__]
                    )
                setattr(module, attr, w)
                self._patched.append((module, attr, val))

    def uninstall(self) -> None:
        for module, attr, val in reversed(self._patched):
            setattr(module, attr, val)
        self._patched.clear()


class LeakProbe:
    """What an operation left behind: persistent RDDs, temp views,
    active streams and new top-level entries under the run's TMPDIR,
    counted as increases from before the op to after it."""

    KEYS = ("rdds", "views", "streams", "tmp_files")

    def __init__(self, spark, tmpdir: str):
        self.spark = spark
        self.tmpdir = tmpdir
        self.totals = dict.fromkeys(self.KEYS, 0)
        self._before = None

    def _state(self):
        return (
            self.spark.sparkContext._jsc.getPersistentRDDs().size(),
            sum(1 for t in self.spark.catalog.listTables() if t.isTemporary),
            len(self.spark.streams.active),
            set(os.listdir(self.tmpdir)),
        )

    def before(self) -> None:
        self._before = self._state()

    def after(self) -> None:
        rdds, views, streams, files = self._state()
        b = self._before
        self.totals["rdds"] += max(0, rdds - b[0])
        self.totals["views"] += max(0, views - b[1])
        self.totals["streams"] += max(0, streams - b[2])
        self.totals["tmp_files"] += len(files - b[3])
