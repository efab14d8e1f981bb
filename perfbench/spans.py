"""In-memory span recorder for the traced benchmark run.

A span is one call into a sketchlib layer: name, start, end, parent span
and run id (plus the workload it ran under).  Spans stay in memory and are
written out once, when the run ends.

``instrument()`` wraps each public function of a layer wherever a module
binds it, so a call made by the harness and a call made by another layer
(``streaming.sketch_sink`` calling ``agg.build_many``) both record a span
with the right parent.  Only driver-side calls are seen: code Spark runs in
its Python workers is covered by the status-store counters instead
(``sparkstats.py``).

A layer's self time is a span's duration minus the part of its interval
that its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import sys
import threading
import time
from dataclasses import asdict, dataclass

# (layer, module, attribute) — attribute may be "Class.method".  The sink
# factories of the streaming layer return the foreachBatch callable; their
# spans wrap the returned callable (see _wrap_factory).
LAYER_FUNCTIONS = [
    ("session", "sketchlib.spark.session", "get_spark"),
    ("testdata", "sketchlib.testdata", "generate_transcripts"),
    ("io", "sketchlib.io", "TranscriptsTable.write"),
    ("io", "sketchlib.io", "TranscriptsTable.read_days"),
    ("agg", "sketchlib.spark.agg", "build_many"),
    ("agg", "sketchlib.spark.agg", "sketch_partials"),
    ("suite_sql", "sketchlib.spark.suite_sql", "suite_cell_rows"),
    ("suite_sql", "sketchlib.spark.suite_sql", "build_suite_sql"),
    ("suite_sql", "sketchlib.spark.suite_sql", "_materialize"),
    ("suite_sql", "sketchlib.spark.suite_sql", "materialize_suite_cells"),
    ("suite_sql", "sketchlib.spark.suite_sql", "merge_suite_cells"),
    ("suite_sql", "sketchlib.spark.suite_sql", "write_suite_cells"),
    ("suite_sql", "sketchlib.spark.suite_sql", "read_suite_cells"),
    ("probe", "sketchlib.spark.probe", "probe_column"),
    ("probe_join", "sketchlib.spark.probe_join", "build_sharded_states"),
    ("probe_join", "sketchlib.spark.probe_join", "save_states"),
    ("probe_join", "sketchlib.spark.probe_join", "load_states"),
    ("probe_join", "sketchlib.spark.probe_join", "probe_sharded"),
    ("store", "sketchlib.store", "SketchStore.save_kernel"),
    ("store", "sketchlib.store", "SketchStore.load_kernel"),
    ("rollup", "sketchlib.spark.rollup", "sketch_rollup"),
    ("rollup", "sketchlib.spark.rollup", "write_rollup"),
    ("rollup", "sketchlib.spark.rollup", "read_rollup"),
    ("rollup", "sketchlib.spark.rollup", "merge_range"),
    ("streaming", "sketchlib.streaming", "sketch_sink"),
    ("streaming", "sketchlib.streaming", "cells_sink"),
    ("streaming", "sketchlib.streaming", "rollup_sink"),
    ("streaming", "sketchlib.streaming", "rollup_range_from_store"),
]

_FACTORIES = {"sketch_sink", "cells_sink", "rollup_sink"}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    workload: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """Records spans opened on the owning thread while ``enabled``; calls
    on other threads (the library's merge pools) pass through untraced."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.workload = ""
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._owner = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._owner:
            yield
            return
        s = Span(
            len(self.spans), name, time.perf_counter(), 0.0,
            self._stack[-1] if self._stack else None, self.run_id, self.workload,
        )
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    # -- instrumentation ----------------------------------------------------
    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def _wrap_factory(self, name: str, factory):
        @functools.wraps(factory)
        def make(*args, **kwargs):
            return self._wrap(name, factory(*args, **kwargs))

        return make

    def instrument(self) -> None:
        """Wrap every layer function in LAYER_FUNCTIONS, in its defining
        module and in every sketchlib module that imported the same object
        by name.  The harness calls layers through their modules
        (``agg.build_many``), so its own calls resolve to the wrappers."""
        for layer, modname, attr in LAYER_FUNCTIONS:
            mod = importlib.import_module(modname)
            owner_name, _, fname = attr.rpartition(".")
            name = f"{layer}.{fname}"
            if owner_name:
                owner = getattr(mod, owner_name)
                orig = owner.__dict__[fname]
                self._patch(owner, fname, self._wrap(name, orig))
                continue
            orig = getattr(mod, fname)
            wrapped = (
                self._wrap_factory(name, orig) if fname in _FACTORIES
                else self._wrap(name, orig)
            )
            for key, m in list(sys.modules.items()):
                if m is None or not key.startswith("sketchlib"):
                    continue
                if getattr(m, fname, None) is orig:
                    self._patch(m, fname, wrapped)

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstrument(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    # -- analysis -----------------------------------------------------------
    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append(s.duration - covered)
        return out

    def layer_self_time(self) -> dict[str, dict[str, float]]:
        """{workload: {layer: seconds of self time}}."""
        out: dict[str, dict[str, float]] = {}
        for s, st in zip(self.spans, self.self_times()):
            w = out.setdefault(s.workload, {})
            w[s.layer] = w.get(s.layer, 0.0) + st
        return out

    def median_duration(self, name: str, workload: str | None = None, parent: str | None = None) -> float:
        """Median duration of the spans called ``name`` (optionally only
        under ``workload``, and only directly under a span called
        ``parent``); 0.0 when there are none."""
        out = [
            s.duration for s in self.spans
            if s.name == name
            and (workload is None or s.workload == workload)
            and (parent is None or (s.parent is not None and self.spans[s.parent].name == parent))
        ]
        return statistics.median(out) if out else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
