"""In-memory spans around the calls the benchmark makes into each layer.

A ``Tracer`` records ``(name, start, end, parent, group)`` for every
span and keeps them in memory until the run ends. While a span is open
the Spark local property ``perfbench.layer`` holds the path of open
span names (``op/operators/sources``), so every Spark job submitted
inside it is tagged in the event log and the reducer can attribute
jobs to layers. Spans of one operation share its ``setJobGroup`` id.

``install_wrappers`` patches the engine's public entry points with
span-recording wrappers and returns a function that undoes the patch;
the engine's own files are not touched.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

LAYER_PROPERTY = "perfbench.layer"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    group: str


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.group = ""

    def set_group(self, group: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.group = ""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.group))
        self._stack.append(idx)
        self.sc.setLocalProperty(LAYER_PROPERTY, self._path())
        try:
            yield
        finally:
            self._stack.pop()
            self.sc.setLocalProperty(LAYER_PROPERTY, self._path() if self._stack else None)
            self.spans[idx].end = time.perf_counter()

    def _path(self) -> str:
        return "/".join(self.spans[i].name for i in self._stack)

    def wrap(self, owner, attr: str, name: str) -> Callable[[], None]:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)


def _targets() -> list[tuple[object, str, str]]:
    """(owner, attribute, span name) for every wrapped entry point."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    from etl_java_spark import queries
    from etl_java_spark.plans import pipeline
    from etl_java_spark.sources import readers
    from etl_java_spark.sinks import writers

    out = [
        (queries, "_t", "sources"),
        (DataFrameReader, "parquet", "sources"),
        (DataFrame, "localCheckpoint", "plans"),
        (DataFrame, "checkpoint", "plans"),
        (DataFrame, "persist", "plans"),
        (DataFrame, "cache", "plans"),
        (pipeline.Pipeline, "run", "pipeline.run"),
        (pipeline.Pipeline, "build", "pipeline.build"),
        (writers, "merge_by_pk", "sinks"),
        (writers, "insert_if_absent", "sinks"),
        (writers, "merge_dataframes", "sinks"),
        (writers, "insert_if_absent_dataframes", "sinks"),
    ]
    for attr in sorted(vars(readers)):
        fn = getattr(readers, attr)
        if (
            callable(fn)
            and getattr(fn, "__module__", "") == readers.__name__
            and attr.startswith(("read_", "load_", "register_"))
        ):
            out.append((readers, attr, "sources"))
    return out


def install_wrappers(tracer: Tracer) -> Callable[[], None]:
    undo = [tracer.wrap(owner, attr, name) for owner, attr, name in _targets()]

    def uninstall() -> None:
        for u in reversed(undo):
            u()

    return uninstall

