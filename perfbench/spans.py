"""Spans around the calls into the package's layers, recorded from outside.

A :class:`Tracer` wraps every public function of the layer modules in a
span (name, start, end, parent span) and, while the span is open, sets the
calling thread's Spark job group to the span id so that the event log
ties each job to the span that ran it. Names are patched where they are
looked up: on the defining module and on every package module that bound
the same function object at import (``plans.inmet_pipeline`` imports
``read_inmet_*`` by name; the c4 query imports its operators inside the
function body, which reads the module attribute at call time).

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import sys
import threading
import time
from dataclasses import dataclass

PACKAGE = "airflow_etl_pyspark_inmet_spark"

# Layers named after the package's modules. functions.cleaning is absent on
# purpose: its Column expressions are evaluated inside the stage that uses
# them, so their cost shows in that stage's span.
LAYER_MODULES = (
    "sources.inmet_csv",
    "plans.inmet_pipeline",
    "operators.relational",
    "operators.dedup",
    "operators.text",
    "operators.curation",
    "operators.mixing",
    "operators.util",
    "operators.similarity",
    "operators.multimodal",
)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"span-{span.span_id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        span = Span(next(self._ids), name, stack[-1].span_id if stack else None, time.time())
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        self._set_group(span)
        try:
            yield span
        finally:
            span.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, sink_name) -> None:
        """Wrap every public function of the layer modules, and
        ``DataFrameWriter.parquet`` in a span named ``sink_name(path)``."""
        mods = [importlib.import_module(f"{PACKAGE}.{short}") for short in LAYER_MODULES]
        package = [m for name, m in list(sys.modules.items()) if name.startswith(PACKAGE)]
        for short, mod in zip(LAYER_MODULES, mods):
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                traced = self._wrap(f"{short}.{attr}", fn)
                for other in package:
                    if vars(other).get(attr) is fn:
                        self._patch(other, attr, traced)
        from pyspark.sql.readwriter import DataFrameWriter

        original = DataFrameWriter.parquet

        @functools.wraps(original)
        def parquet(writer, path, *args, **kwargs):
            with self.span(sink_name(path)):
                return original(writer, path, *args, **kwargs)

        self._patch(DataFrameWriter, "parquet", parquet)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patched):
            setattr(owner, attr, old)
        self._patched.clear()

