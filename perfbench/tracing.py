"""Spans around layer calls, with Spark counters attributed by job group.

A span has a name, start, end, parent span and op id.  While a span is
open its id is the Spark job group, so every job a call launches is
charged to the innermost open span.  Spans are kept in memory and
written out when the benchmark ends.

``instrument`` wraps the public layer functions a runner job calls, as
module attributes, from outside the package; ``uninstrument`` puts the
originals back.  A lazy call (one that only builds a plan) gets a span
for the construction; when the runner itself later runs an action on
that frame, the action's span is named after the layer that built it,
so execution time is charged to that layer too.  Actions the runner
takes on frames no wrapped call built are ``runner.*`` spans.
"""

from __future__ import annotations

import contextlib
import functools
import time

from pyspark.sql import DataFrame

_TAG = "_perfbench_layer"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"perfbench-{sid}", "start": time.monotonic(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def at_root(self) -> bool:
        """True when the open span is an op's root span."""
        return len(self._stack) == 1

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover."""
    out = {s["id"]: duration(s) for s in spans}
    for s in spans:
        if s["parent"] in out:
            out[s["parent"]] -= duration(s)
    return out


def descendants(spans: list[dict], sid: int) -> list[dict]:
    out, todo = [], [sid]
    while todo:
        p = todo.pop()
        kids = [s for s in spans if s["parent"] == p]
        out.extend(kids)
        todo.extend(k["id"] for k in kids)
    return out


def _leaf(target: str) -> str:
    return target.rstrip("/").rsplit("/", 1)[-1]


# (module, attribute, span name).  Names are "<layer>.<what>".  A call
# that returns a DataFrame tags it with the span name.
CALLS = [
    ("pdf_ocr_api_spark.lineage", "run", "lineage.run"),
    ("pdf_ocr_api_spark.lineage", "extract_transcripts", "pipeline.plan"),
    ("pdf_ocr_api_spark.ops.corpus", "extract_transcripts", "pipeline.plan"),
    ("pdf_ocr_api_spark.conversation", "conversation_records", "conversation.plan"),
    ("pdf_ocr_api_spark.ops.corpus", "clean_corpus_incremental", "ops.clean_incremental"),
    ("pdf_ocr_api_spark.ops.corpus", "sync_signatures", "ops.sync_signatures"),
    ("pdf_ocr_api_spark.ops.corpus", "corpus_signatures", "ops.signatures"),
    ("pdf_ocr_api_spark.ops.corpus", "log_run", "ops.log_run"),
    ("pdf_ocr_api_spark.ops.corpus", "dedup_metrics", "ops.dedup_metrics"),
    ("pdf_ocr_api_spark.ops.substrings", "dedup_substrings_incremental", "ops.substrings"),
    ("pdf_ocr_api_spark.ops.substrings", "substring_index", "ops.substring_index"),
]
IO = [
    ("pdf_ocr_api_spark.sources.io", "write_table"),
    ("pdf_ocr_api_spark.lineage", "write_table"),
    ("pdf_ocr_api_spark.sources.io", "read_table"),
    ("pdf_ocr_api_spark.lineage", "read_table"),
    ("pdf_ocr_api_spark.sources.io", "table_exists"),
    ("pdf_ocr_api_spark.lineage", "table_exists"),
]
ACTIONS = ["localCheckpoint", "collect", "count"]


def instrument(tracer: Tracer) -> list[tuple]:
    """Install the wrappers; returns what ``uninstrument`` restores."""
    import importlib

    saved: list[tuple] = []

    def patch(owner, attr, wrapper):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def layer_call(name):
        def wrap(orig):
            def call(*a, **kw):
                with tracer.span(name):
                    out = orig(*a, **kw)
                if isinstance(out, DataFrame):
                    setattr(out, _TAG, name)
                return out
            return call
        return wrap

    def io(attr):
        def wrap(orig):
            def call(*a, **kw):
                target = a[1] if len(a) > 1 else kw.get("target", "")
                verb = attr.split("_")[0]
                with tracer.span(f"io.{verb}.{_leaf(str(target))}"):
                    return orig(*a, **kw)
            return call
        return wrap

    def action(method):
        def wrap(orig):
            def call(self, *a, **kw):
                if not tracer.at_root():
                    return orig(self, *a, **kw)
                with tracer.span(f"{getattr(self, _TAG, 'runner')}.{method}"):
                    return orig(self, *a, **kw)
            return call
        return wrap

    for mod, attr, name in CALLS:
        patch(importlib.import_module(mod), attr, layer_call(name))
    for mod, attr in IO:
        patch(importlib.import_module(mod), attr, io(attr))
    for method in ACTIONS:
        patch(DataFrame, method, action(method))
    return saved


def uninstrument(saved: list[tuple]) -> None:
    for owner, attr, orig in reversed(saved):
        setattr(owner, attr, orig)
