"""Per-layer tracing for the Engine benchmark, from the benchmark's own
files: no package code changes.

:class:`Tracer` wraps the public functions of each layer module (the
module attributes the ``Engine`` looks up at call time, and the Engine
verbs on its class) so every call records a span.  A span's parent is
the innermost span open on the same thread; a span opened on a thread
with nothing open (a worker of one of the small thread pools
``ann_index``/``retrieval`` use) takes the innermost span open on the
client thread, which is the call that submitted the work.

Spark jobs come from the event log the traced session writes.  Each job
is charged to the innermost span open at its submit time, and its task
time is the summed wall time of its tasks.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

#: layer -> (module path, public functions) traced; ``Class.method``
#: names wrap the method on the class
LAYERS = {
    "engine": ("msg_vector_search_spark.engine", (
        "Engine.search", "Engine.search_many", "Engine.search_hybrid",
        "Engine.search_text", "Engine.update_embeddings",
        "Engine.apply_retention", "Engine.maintain_index",
        "Engine.ensure_index", "Engine.ensure_text_index")),
    "ingest": ("msg_vector_search_spark.plans.ingest", (
        "run_incremental",)),
    "state": ("msg_vector_search_spark.sources.state", (
        "read_watermark", "write_watermark")),
    "sinks": ("msg_vector_search_spark.sources.sinks", (
        "upsert_parquet", "read_store", "retention_sweep")),
    "ann_index": ("msg_vector_search_spark.operators.ann_index", (
        "build_index", "upsert_index", "search_index_many",
        "delete_index_keys", "maintain_index", "rebuild_index")),
    "retrieval": ("msg_vector_search_spark.operators.retrieval", (
        "build_inverted_index", "upsert_inverted_index",
        "search_inverted_index", "hybrid_serve_many",
        "delete_inverted_docs")),
    "search": ("msg_vector_search_spark.plans.search", (
        "search_with_envelope", "search_many_with_envelopes",
        "FreshnessGate.should_update")),
    "embed": ("msg_vector_search_spark.embed", ("embed_query_vector",)),
}

SPAN_FIELDS = ("calls", "self_s", "jobs", "task_s")
RATIOS = ("gate.fire_frac", "gate.useful_frac", "ingest.stored_frac",
          "ann_index.recall_at_10")


def span_names() -> list[str]:
    return [span_name(layer, fn) for layer, (_, fns) in LAYERS.items()
            for fn in fns]


def span_name(layer: str, fn: str) -> str:
    """``engine.search`` for ``Engine.search``; other names keep their
    class (``search.FreshnessGate.should_update``)."""
    return f"{layer}.{fn.removeprefix('Engine.')}"


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    return ([f"{s}.{f}" for s in span_names() for f in SPAN_FIELDS]
            + list(RATIOS))


def per_layer_unit(name: str) -> str:
    if name in RATIOS:
        return "ratio"
    return "s" if name.endswith("_s") else "count"


@dataclass
class Span:
    name: str
    start: float
    end: float = float("nan")
    parent: "Span | None" = None
    depth: int = 0
    children: list = field(default_factory=list)


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of [lo, hi] covered by the union of *intervals* —
    overlapping children (a thread pool's legs) count once."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span) -> float:
    return (span.end - span.start) - covered(
        [(c.start, c.end) for c in span.children], span.start, span.end)


class Tracer:
    """Records spans in memory; :meth:`install` wraps the layer
    functions and :meth:`uninstall` restores them."""

    def __init__(self, clock=time.time):
        self._clock = clock
        self._lock = threading.Lock()
        #: thread id -> that thread's open spans, outermost first
        self._stacks: dict[int, list] = {}
        self.spans: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []
        #: while set, wrapped functions run without a span (the
        #: benchmark's own output checks are not the workload)
        self.suspended = False

    # -- span bookkeeping -------------------------------------------------
    def begin(self, name: str) -> Span:
        me = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(me, [])
            if stack:
                parent = stack[-1]
            else:
                # a pool worker: the submitting call is the innermost
                # span open on a client thread (one whose outermost
                # span has no parent), never a sibling worker's span
                tops = [st[-1] for tid, st in self._stacks.items()
                        if tid != me and st and st[0].parent is None]
                parent = max(tops, key=lambda s: s.start, default=None)
            span = Span(name, self._clock(), parent=parent,
                        depth=parent.depth + 1 if parent else 0)
            if parent is not None:
                parent.children.append(span)
            stack.append(span)
            self.spans.append(span)
        return span

    def finish(self, span: Span) -> None:
        span.end = self._clock()
        with self._lock:
            self._stacks[threading.get_ident()].remove(span)

    def innermost_open(self, names: tuple) -> Span | None:
        """Innermost span open on this thread whose name is in *names*."""
        with self._lock:
            stack = list(self._stacks.get(threading.get_ident(), ()))
        for s in reversed(stack):
            if s.name in names:
                return s
        return None

    def wrap(self, name: str, fn, on_return=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.suspended:
                return fn(*args, **kwargs)
            span = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.finish(span)
            if on_return is not None:
                on_return(args, kwargs, out)
            return out
        return traced

    # -- installation -----------------------------------------------------
    def install(self, hooks: dict | None = None) -> None:
        """Wrap every traced function; *hooks* maps a span name to an
        ``on_return(args, kwargs, result)`` callback."""
        import importlib
        hooks = hooks or {}
        for layer, (modname, fns) in LAYERS.items():
            mod = importlib.import_module(modname)
            for fn in fns:
                owner, attr = mod, fn
                if "." in fn:
                    cls, attr = fn.split(".")
                    owner = getattr(mod, cls)
                orig = getattr(owner, attr)
                name = span_name(layer, fn)
                self._saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(name, orig, hooks.get(name)))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # -- reporting --------------------------------------------------------
    def attribute_jobs(self, jobs: list[dict]) -> dict:
        """Charge each job (``{"submit": s, "task_s": s}``) to the
        innermost span open at its submit time; returns
        ``{span name: [jobs, task_s]}``.  Jobs outside every span (the
        benchmark's own reads) are dropped."""
        out: dict = {}
        for job in jobs:
            t = job["submit"]
            inside = [s for s in self.spans if s.start <= t <= s.end]
            if not inside:
                continue
            owner = max(inside, key=lambda s: (s.depth, s.start))
            acc = out.setdefault(owner.name, [0, 0.0])
            acc[0] += 1
            acc[1] += job["task_s"]
        return out

    def span_metrics(self, jobs: list[dict]) -> dict:
        by_job = self.attribute_jobs(jobs)
        out = {}
        for name in span_names():
            mine = [s for s in self.spans if s.name == name]
            njobs, task_s = by_job.get(name, (0, 0.0))
            out[f"{name}.calls"] = len(mine)
            out[f"{name}.self_s"] = sum(self_time(s) for s in mine)
            out[f"{name}.jobs"] = njobs
            out[f"{name}.task_s"] = task_s
        return out


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from a Spark event log directory: ``[{"submit": epoch s,
    "task_s": summed task wall s}]``.  Read after the session stopped,
    when the log is complete."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit": ev["Submission Time"] / 1000.0,
                                 "task_s": 0.0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    info = ev["Task Info"]
                    if jid is not None and info.get("Finish Time"):
                        jobs[jid]["task_s"] += (info["Finish Time"]
                                                - info["Launch Time"]) / 1000.0
    return [jobs[j] for j in sorted(jobs)]
