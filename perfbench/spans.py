"""Spans around layer calls, and call-site tagging of Spark jobs.

``Tracer`` keeps spans (name, start, end, parent, trace id) in memory;
the benchmark writes them out when it ends. ``CallSiteTagger`` is used in
the traced run only: it wraps the PySpark entry points that submit jobs so
that each job carries, as the local property ``eventlog.CALLSITE_PROP``,
the first source line outside PySpark that called them. Spark's own
``callSite.short`` is set for Python ``collect`` calls only, so without
this the jobs fired by ``count``/``localCheckpoint``/reads and by AQE
query stages could not be tied to a package module.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from contextlib import contextmanager

from eventlog import CALLSITE_PROP


class Tracer:
    """In-memory spans; times are epoch seconds, like the event log's."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, group: str | None = None):
        """A span; ``group`` is the Spark job group the benchmark set for it."""
        parent = self._stack[-1] if self._stack else None
        if trace_id is None and parent is not None:
            trace_id = self.spans[parent]["trace"]
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "trace": trace_id, "group": group}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def windows(self) -> list[tuple[str, float, float]]:
        """(job group, start ms, end ms) of every span run under a group."""
        return [(s["group"], s["start"] * 1e3, s["end"] * 1e3)
                for s in self.spans if s["group"]]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        out: dict[str, float] = {}
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        for s, kids in zip(self.spans, child_time):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - kids
        return out


_PYSPARK_DIR = os.path.dirname(os.path.abspath(__import__("pyspark").__file__))
_HERE = os.path.abspath(__file__)


def _caller_site(action: str) -> str | None:
    f = sys._getframe(2)
    while f is not None:
        fn = os.path.abspath(f.f_code.co_filename)
        if not fn.startswith(_PYSPARK_DIR) and fn != _HERE:
            return f"{action} at {fn}:{f.f_lineno}"
        f = f.f_back
    return None


class CallSiteTagger:
    """Wraps job-submitting PySpark methods to tag jobs with their caller."""

    def __init__(self) -> None:
        from pyspark.rdd import RDD
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        self._targets = {
            DataFrame: ("collect", "count", "isEmpty", "first", "head", "take",
                        "tail", "toPandas", "toArrow", "toLocalIterator",
                        "localCheckpoint", "checkpoint", "foreach",
                        "foreachPartition", "show"),
            DataFrameReader: ("load", "csv", "parquet", "json", "table", "orc", "text"),
            DataFrameWriter: ("save", "parquet", "csv", "json", "saveAsTable",
                              "insertInto", "orc", "text"),
            DataStreamWriter: ("start",),
            RDD: ("collect", "count", "take", "first", "reduce", "fold", "sum",
                  "countByKey", "collectAsMap", "isEmpty", "max", "min"),
        }
        self._saved: list[tuple[type, str, object]] = []
        self._depth = threading.local()

    def _wrap(self, fn, action: str):
        depth = self._depth

        @functools.wraps(fn)
        def tagged(*args, **kwargs):
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            outer = getattr(depth, "n", 0) == 0
            if outer and sc is not None:
                sc.setLocalProperty(CALLSITE_PROP, _caller_site(action))
            depth.n = getattr(depth, "n", 0) + 1
            try:
                return fn(*args, **kwargs)
            finally:
                depth.n -= 1
                if outer and sc is not None:
                    sc.setLocalProperty(CALLSITE_PROP, None)

        return tagged

    def install(self) -> None:
        for cls, names in self._targets.items():
            for name in names:
                fn = cls.__dict__.get(name)
                if fn is not None:
                    self._saved.append((cls, name, fn))
                    setattr(cls, name, self._wrap(fn, name))

    def uninstall(self) -> None:
        for cls, name, fn in reversed(self._saved):
            setattr(cls, name, fn)
        self._saved.clear()
