"""Spans, Spark engine counters and the layer wrappers of the traced run.

The traced run is separate from the timed runs. `instrument` rebinds the
public layer functions (module attributes) for the duration of one run;
each wrapper records a span around the call and materialises the returned
DataFrame with `localCheckpoint`, so the span covers the layer's execution
instead of only its plan construction. The package itself is not edited.

Spans live in memory (`Tracer.spans`) and are written out once, at the end.
A span's self time is its duration minus the part of it that its child
spans cover; summed over every span, self times plus the unspanned
remainder equal the traced wall time (`check_partition`).
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTER_KEYS = (
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_ms",
    "tasks",
    "failed_tasks",
)


class EngineCounters:
    """Cumulative engine counters of one SparkContext, read through py4j.

    Shuffle bytes, GC time and task counts are the status store's executor
    totals (`executorList`); spill is summed over the stages created since
    the previous snapshot (the executor summary does not carry it). Each
    snapshot first drains the listener bus so the store has seen every
    finished task."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._next_stage = self._sc.dagScheduler().nextStageId()
        self._spill = 0  # since construction; only deltas are meaningful

    def snapshot(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty(30_000)
        store = self._sc.statusStore()
        out = dict.fromkeys(COUNTER_KEYS, 0)
        execs = store.executorList(False)
        for i in range(execs.size()):
            e = execs.apply(i)
            out["shuffle_read_bytes"] += e.totalShuffleRead()
            out["shuffle_write_bytes"] += e.totalShuffleWrite()
            out["gc_ms"] += e.totalGCTime()
            out["tasks"] += e.totalTasks()
            out["failed_tasks"] += e.failedTasks()
        upto = self._sc.dagScheduler().nextStageId()
        for sid in range(self._next_stage, upto):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted (skipped)
                continue
            self._spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        self._next_stage = upto
        out["spill_bytes"] = self._spill
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counters: dict = field(default_factory=dict)  # end minus start

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


class Tracer:
    """Records nested spans of one traced run (same `run_id` for all)."""

    def __init__(self, run_id: str, counters: EngineCounters | None = None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._counters = counters
        self._stack: list[int] = []
        # end time + counter snapshot of the most recent span per layer,
        # the start of a span synthesised between two recorded boundaries
        self.last_end: dict[str, tuple[float, dict]] = {}

    def snapshot(self) -> dict:
        return self._counters.snapshot() if self._counters else {}

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        c0 = self.snapshot()
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            c1 = self.snapshot()
            s.counters = delta(c1, c0) if c0 else {}
            self.last_end[s.layer] = (s.end, c1)

    def add_span(self, name: str, start: float, end: float,
                 c0: dict, c1: dict) -> None:
        """Record an already-finished span under the currently open one."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, start, end, parent, self.run_id,
                               delta(c1, c0) if c0 else {}))

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, "counters": s.counters}
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return [
        (s.end - s.start) - _covered(kids.get(i, []))
        for i, s in enumerate(spans)
    ]


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.layer] = out.get(s.layer, 0.0) + t
    return out


def layer_counters(spans: list[Span]) -> dict[str, dict]:
    """Self counter deltas per layer: each span's delta minus its
    children's, the counter analogue of self time."""
    out: dict[str, dict] = {}
    for s in spans:
        acc = out.setdefault(s.layer, dict.fromkeys(COUNTER_KEYS, 0))
        for k, v in s.counters.items():
            acc[k] += v
        if s.parent is not None:
            pacc = out.setdefault(spans[s.parent].layer,
                                  dict.fromkeys(COUNTER_KEYS, 0))
            for k, v in s.counters.items():
                pacc[k] -= v
    return out


def unspanned(spans: list[Span], wall_start: float, wall_end: float) -> float:
    """Traced wall time not covered by any top-level span."""
    top = [(s.start, s.end) for s in spans if s.parent is None]
    return (wall_end - wall_start) - _covered(top)


def check_partition(spans: list[Span], wall_start: float, wall_end: float,
                    tol: float = 1e-6) -> float:
    """Self times of all spans plus the unspanned remainder must equal the
    traced wall time; returns the residual (raises past `tol`)."""
    resid = (wall_end - wall_start) - (
        sum(self_times(spans)) + unspanned(spans, wall_start, wall_end)
    )
    if abs(resid) > tol:
        raise ValueError(f"span self times do not partition wall time: {resid}")
    return resid


# ---------------------------------------------------------------------------
# layer wrappers
# ---------------------------------------------------------------------------


@dataclass
class Captured:
    """Materialised layer outputs of one traced run, for the per-layer
    counts computed after the traced wall time has been taken."""

    blocking: list = field(default_factory=list)  # candidate-pair frames
    em_iterations: int = 0
    cc_passes: int = 0
    comps: object = None
    assignment_in: object = None
    assignment_out: object = None
    dvecs_rows: int = 0
    increments: list = field(default_factory=list)  # (reps, batch, assign)


@contextlib.contextmanager
def _rebind(obj, name: str, new):
    old = obj.__dict__[name]
    setattr(obj, name, new)
    try:
        yield
    finally:
        setattr(obj, name, old)


@contextlib.contextmanager
def instrument(tracer: Tracer, cap: Captured):
    """Rebind the layer functions to traced, materialising wrappers."""
    from bayesianrecordlinkage_jl_spark.operators import (
        assignment,
        blocking,
        connected_components as ccm,
        em,
        incremental,
    )
    from bayesianrecordlinkage_jl_spark.operators.comparison_summary import (
        ComparisonSummary,
    )
    from bayesianrecordlinkage_jl_spark.streaming import er

    def spanned(layer: str, fn, keep=None):
        def wrapper(*a, **kw):
            with tracer.span(f"{layer}:{fn.__name__}"):
                out = fn(*a, **kw).localCheckpoint()
            if keep is not None:
                keep.append(out)
            return out
        return wrapper

    build_cm = ComparisonSummary.__dict__["build"]
    orig_dvecs_pd = ComparisonSummary.dvecs_pd

    def build(cls, *a, **kw):
        # scoring = everything between the last blocking span and the
        # summary build: candidate union, field joins and the comparator
        # kernels inside the eager localCheckpoint of the vectors
        now, c_now = time.perf_counter(), tracer.snapshot()
        if "blocking" in tracer.last_end:
            t0, c0 = tracer.last_end["blocking"]
            tracer.add_span("scoring", t0, now, c0, c_now)
        with tracer.span("summary:build"):
            s = build_cm.__func__(cls, *a, **kw)
            s.pairs = s.pairs.localCheckpoint()
            s.dvecs = s.dvecs.localCheckpoint()
        return s

    def dvecs_pd(self, refresh: bool = False):
        with tracer.span("summary:collect"):
            out = orig_dvecs_pd(self, refresh)
        cap.dvecs_rows = len(out)
        return out

    def estimate_em(*a, **kw):
        with tracer.span("em"):
            params = em_fn(*a, **kw)
        cap.em_iterations = params.iterations
        return params

    def connected_components(*a, **kw):
        cap.cc_passes += 1
        return cc_fn(*a, **kw)

    def size_capped_components(*a, **kw):
        with tracer.span("cc"):
            out = scc_fn(*a, **kw).localCheckpoint()
        cap.comps = out
        return out

    def one_to_one(pairs, *a, **kw):
        with tracer.span("assignment"):
            out = o2o_fn(pairs, *a, **{**kw, "with_resolved_by": True})
            out = out.localCheckpoint()
        cap.assignment_in, cap.assignment_out = pairs, out
        return out.drop("resolved_by")

    def link_increment(reps, new_docs, *a, **kw):
        with tracer.span("increment.link"):
            out = li_fn(reps, new_docs, *a, **kw).localCheckpoint()
        cap.increments.append((reps, new_docs, out))
        return out

    def load_state(*a, **kw):
        with tracer.span("increment.load_state"):
            return ls_fn(*a, **kw)

    def apply_increment(*a, **kw):
        with tracer.span("increment"):
            return ai_fn(*a, **kw)

    em_fn, cc_fn = em.estimate_em, ccm.connected_components
    scc_fn, o2o_fn = ccm.size_capped_components, assignment.one_to_one
    li_fn, ls_fn, ai_fn = (
        incremental.link_increment, er.load_state, er.apply_increment
    )
    with contextlib.ExitStack() as st:
        for name in ("lsh_blocking", "key_blocking"):
            st.enter_context(_rebind(blocking, name, spanned(
                "blocking", getattr(blocking, name), cap.blocking)))
        st.enter_context(_rebind(blocking, "salt_hot_keys", spanned(
            "blocking", blocking.salt_hot_keys)))
        st.enter_context(_rebind(ComparisonSummary, "build", classmethod(build)))
        st.enter_context(_rebind(ComparisonSummary, "dvecs_pd", dvecs_pd))
        st.enter_context(_rebind(em, "estimate_em", estimate_em))
        st.enter_context(_rebind(ccm, "connected_components", connected_components))
        st.enter_context(_rebind(ccm, "size_capped_components", size_capped_components))
        st.enter_context(_rebind(assignment, "one_to_one", one_to_one))
        st.enter_context(_rebind(incremental, "link_increment", link_increment))
        st.enter_context(_rebind(er, "load_state", load_state))
        st.enter_context(_rebind(er, "apply_increment", apply_increment))
        yield
