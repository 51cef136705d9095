"""In-memory span tracer for the traced benchmark run.

The tracer wraps the engine's module-level public functions at the module
attributes through which the engine reaches them (``engine.agg.*``,
``validate.compile_suite``, ``official_suite.plan_test`` ...), records one
span per call, tags the Spark jobs a call launches with a per-layer job
group, and counts py4j round trips per layer. Spans stay in memory; the
benchmark reduces them per iteration with :func:`self_times`.

Self time is wall-clock attribution. Every instant of an iteration belongs
to the innermost open span of each thread that has one; when several
threads have an open span, the instant is split equally among them. A span
opened on a worker thread with no open span of its own hangs under the span
that the main thread has open at that moment, so a main thread blocked on a
thread pool is not charged while its workers run. Layer self times plus the
root span's self time (the unattributed residual) therefore sum exactly to
the iteration wall time.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from collections import Counter
from contextlib import contextmanager

# span label for Spark actions issued through DataFrame.collect: the time is
# folded into the enclosing layer (its job time), and also summed on its own
COLLECT = "spark.collect"
ROOT = "iteration"

# (module, attribute, layer): where the engine reaches each public function.
# Functions imported by name into another module are patched at every
# module that calls them, since each holds its own reference.
PATCH_POINTS = [
    ("schemasaurus_spark.validate", "compile_suite", "compiler.compile_s"),
    ("schemasaurus_spark.validate", "validate", "validate.build_s"),
    ("schemasaurus_spark.engine", "validate", "validate.build_s"),
    ("schemasaurus_spark.official_suite", "validate", "validate.build_s"),
    ("schemasaurus_spark.official_suite", "plan_test", "official_suite.plan_s"),
    ("schemasaurus_spark.operators.aggregates", "uniqueness_check",
     "aggregates.uniqueness_s"),
    ("schemasaurus_spark.operators.aggregates", "fused_aggregate_pass",
     "aggregates.fused_pass_s"),
    ("schemasaurus_spark.operators.aggregates", "referential_check",
     "aggregates.referential_s"),
    ("schemasaurus_spark.operators.aggregates", "null_rate_violations_from_stats",
     "aggregates.null_rate_s"),
    ("schemasaurus_spark.operators.aggregates", "hist_rows_to_map",
     "aggregates.drift_s"),
    ("schemasaurus_spark.operators.aggregates", "drift_from_counts",
     "aggregates.drift_s"),
    ("schemasaurus_spark.operators.aggregates", "drift_violations",
     "aggregates.drift_s"),
]


class Span:
    __slots__ = ("layer", "start", "end", "parent")

    def __init__(self, layer, start, parent):
        self.layer, self.start = layer, start
        self.end = None
        self.parent = parent


class Tracer:
    """Collects spans and py4j counts while ``enabled``; a no-op otherwise.

    Install once per process (after the SparkSession exists) and toggle
    ``enabled`` per iteration, so traced and untraced iterations alternate
    in one process."""

    def __init__(self, sc):
        self._sc = sc
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[Span] = []
        self._undo: list = []
        self.enabled = False
        self.spans: list[Span] = []
        self.py4j = Counter()  # layer of the innermost open span -> calls

    # ------------------------------------------------------------ spans

    def _stack(self) -> list:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, layer: str, job_group: bool = True):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif stack is not self._main_stack and self._main_stack:
            parent = self._main_stack[-1]
        else:
            parent = None
        s = Span(layer, time.perf_counter(), parent)
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        prev_group = self._set_group(layer) if job_group else None
        try:
            yield
        finally:
            if job_group:
                self._restore_group(prev_group)
            stack.pop()
            s.end = time.perf_counter()

    def _set_group(self, layer: str):
        """Tag jobs launched inside the call with the layer's job group
        (thread-local in Spark). The tracer's own py4j calls are not
        counted."""
        self._local.quiet = True
        try:
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup("perfbench." + layer, layer)
            return prev
        finally:
            self._local.quiet = False

    def _restore_group(self, prev):
        self._local.quiet = True
        try:
            self._sc.setLocalProperty("spark.jobGroup.id", prev)
        finally:
            self._local.quiet = False

    def reset(self):
        self.spans = []
        self.py4j = Counter()

    # ------------------------------------------------------------ patching

    def install(self):
        for mod_name, attr, layer in PATCH_POINTS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._wrap(getattr(mod, attr), layer))

        from pyspark.sql.classic.dataframe import DataFrame

        orig_collect = DataFrame.collect
        tracer = self

        @functools.wraps(orig_collect)
        def collect(df):
            with tracer.span(COLLECT, job_group=False):
                return orig_collect(df)

        self._patch(DataFrame, "collect", collect)

        from py4j.java_gateway import GatewayClient

        orig_send = GatewayClient.send_command

        @functools.wraps(orig_send)
        def send_command(client, command, *args, **kwargs):
            # py4j's garbage-collection commands ("m\n...") fire whenever
            # Python finalizes a JavaObject, so their count follows GC
            # timing rather than the program; they are left out
            if (tracer.enabled and not command.startswith("m\n")
                    and not getattr(tracer._local, "quiet", False)):
                st = tracer._stack()
                layer = st[-1].layer if st else "unattributed"
                with tracer._lock:
                    tracer.py4j[layer] += 1
            return orig_send(client, command, *args, **kwargs)

        self._patch(GatewayClient, "send_command", send_command)

    def _wrap(self, fn, layer):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr, new):
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self):
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


def self_times(spans: list[Span]) -> tuple[dict, float]:
    """Sweep the closed spans of one iteration (whose root is the ``ROOT``
    span) and return ``({layer: self seconds}, collect seconds)``.

    Within each interval between consecutive span boundaries, the open
    spans without an open child are the leaves; the interval is split
    equally among them. A ``spark.collect`` leaf credits its share to its
    parent's layer (the call that issued the action) and to the returned
    collect total. The root's share is the residual, keyed ``ROOT``."""
    spans = [s for s in spans if s.end is not None]
    bounds = sorted({t for s in spans for t in (s.start, s.end)})
    out: Counter = Counter()
    collect_s = 0.0
    for lo, hi in zip(bounds, bounds[1:]):
        open_ = [s for s in spans if s.start <= lo and s.end >= hi]
        parents = {id(s.parent) for s in open_ if s.parent is not None}
        leaves = [s for s in open_ if id(s) not in parents]
        if not leaves:
            continue
        share = (hi - lo) / len(leaves)
        for s in leaves:
            if s.layer == COLLECT:
                collect_s += share
                owner = s.parent.layer if s.parent is not None else ROOT
            else:
                owner = s.layer
            out[owner] += share
    return dict(out), collect_s


class NullTracer:
    """Stand-in for untraced runs: spans cost one attribute lookup."""

    enabled = False

    @contextmanager
    def span(self, layer: str, job_group: bool = True):
        yield
