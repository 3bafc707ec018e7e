"""Spans around calls into the library's layers, and the Spark counters each
span caused.

Spans are recorded from outside the library: ``Tracer.patched`` swaps a
layer's public function for a wrapper that opens a span and restores the
original on exit, and the training pipeline reports its stage boundaries
through its public ``stage_hook``. Spans stay in memory as
``{id, name, start, end, parent, run}`` and are written out by the caller.

Spark counters come from the status store. A span's jobs and stages are
those whose ids were allocated between its start and end: top-level spans
run one after another on the main thread, and the library's thread pools
run inside them, so an id range attributes every job to exactly one
top-level span even though pool threads carry no job group.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 1048576.0


class Ledger:
    """Job/stage id watermarks and per-range counter sums from the status store."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self.slots = spark.sparkContext.defaultParallelism

    def mark(self) -> tuple[int, int]:
        dag = self._sc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def counters(self, start: tuple[int, int], end: tuple[int, int], wall_s: float) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        c = dict.fromkeys(
            ("stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "input_mb",
             "output_mb", "shuffle_mb", "spill_mb"), 0.0)
        c["jobs"] = end[0] - start[0]
        for stage_id in range(start[1], end[1]):
            try:
                s = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # a stage the store never saw run
                continue
            if s.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks()
            c["exec_run_s"] += s.executorRunTime() / 1e3
            c["exec_cpu_s"] += s.executorCpuTime() / 1e9
            c["gc_s"] += s.jvmGcTime() / 1e3
            c["input_mb"] += s.inputBytes() / MB
            c["output_mb"] += s.outputBytes() / MB
            c["shuffle_mb"] += s.shuffleWriteBytes() / MB
            c["spill_mb"] += s.diskBytesSpilled() / MB
        c["idle_slot_s"] = wall_s * self.slots - c["exec_run_s"]
        return c


class Tracer:
    """In-memory span recorder. Spans opened on a pool thread take the span
    currently open on the main thread as their parent."""

    def __init__(self, ledger: Ledger) -> None:
        self.ledger = ledger
        self.spans: list[dict] = []
        self.run: int | None = None
        self._t0 = time.perf_counter()
        self._main = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}
        self._lock = threading.Lock()
        self._ids = itertools.count()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def _open(self, name: str) -> dict:
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            main = self._stacks.get(self._main) or [None]
            rec = {
                "id": next(self._ids), "name": name, "start": self.now(), "end": None,
                "parent": stack[-1] if stack else main[-1], "run": self.run,
            }
            self.spans.append(rec)
            stack.append(rec["id"])
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = self.now()
        with self._lock:
            self._stacks[threading.get_ident()].remove(rec["id"])

    @contextmanager
    def span(self, name: str, counters: bool = False):
        """``counters=True`` records the job/stage id range for
        ``resolve()``; such a span must not run concurrently with Spark work
        that belongs outside it."""
        mark = self.ledger.mark() if counters else None
        rec = self._open(name)
        try:
            yield rec
        finally:
            self._close(rec)
            if counters:
                rec["marks"] = (mark, self.ledger.mark())

    def wrap(self, fn, name: str, counters: bool = False, after=None):
        """``fn`` inside a span; ``after(result)`` runs inside it too."""

        def traced(*args, **kwargs):
            with self.span(name, counters):
                out = fn(*args, **kwargs)
                return after(out) if after else out

        return traced

    @contextmanager
    def patched(self, targets: list[tuple[object, str, str, bool, object]]):
        """Replace ``module.attr`` by its traced wrapper for the duration,
        for each ``(module, attr, span_name, counters, after)``."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, *_ in targets]
        try:
            for mod, attr, name, counters, after in targets:
                setattr(mod, attr, self.wrap(getattr(mod, attr), name, counters, after))
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    @contextmanager
    def stage_spans(self, layers: dict[str, str]):
        """Yield a pipeline ``stage_hook`` that closes one span per stage,
        named by ``layers[stage]``: from the previous boundary (or entry) to
        the boundary the pipeline reports. The boundary frame's rows are
        counted after its span closes, before the next one opens."""
        state = {"rec": self._open_marked("stage")}

        def hook(stage: str, frame):
            rec = state["rec"]
            rec["name"] = layers[stage]
            self._close(rec)
            rec["marks"] = (rec.pop("mark0"), self.ledger.mark())
            rec["rows_out"] = frame.count()
            state["rec"] = self._open_marked("stage")
            return frame

        try:
            yield hook
        finally:
            # the span opened after the last boundary covers no stage
            self._close(state["rec"])
            self.spans.remove(state["rec"])

    def _open_marked(self, name: str) -> dict:
        mark = self.ledger.mark()
        rec = self._open(name)
        rec["mark0"] = mark
        return rec

    def resolve(self, run: int) -> None:
        """Turn the id ranges of ``run``'s spans into counter sums (call
        after the run, outside its timing)."""
        for rec in self.spans:
            if rec["run"] == run and "marks" in rec:
                start, end = rec.pop("marks")
                rec["job_ids"] = [start[0], end[0]]
                rec["stage_ids"] = [start[1], end[1]]
                rec["counters"] = self.ledger.counters(start, end, rec["end"] - rec["start"])


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


def layer_totals(spans: list[dict]) -> dict[str, float]:
    """Per span name: ``busy_s`` (summed span time), ``self_s`` (busy minus
    the time its child spans cover), ``calls``, ``rows_out`` and the summed
    counters, flattened as ``<name>.<metric>``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for rec in spans:
        if rec["parent"] is not None:
            children.setdefault(rec["parent"], []).append((rec["start"], rec["end"]))
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for rec in spans:
        n, dur = rec["name"], rec["end"] - rec["start"]
        kids = [(max(a, rec["start"]), min(b, rec["end"])) for a, b in children.get(rec["id"], ())]
        add(f"{n}.busy_s", dur)
        add(f"{n}.self_s", dur - _covered([k for k in kids if k[1] > k[0]]))
        add(f"{n}.calls", 1)
        if "rows_out" in rec:
            add(f"{n}.rows_out", rec["rows_out"])
        for k, v in rec.get("counters", {}).items():
            add(f"{n}.{k}", v)
    return out
