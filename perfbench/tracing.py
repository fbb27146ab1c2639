"""Spans around the engine's module boundaries, Spark job statistics and
the driver process tree.

``Tracer`` wraps the functions ``bigdatalog_spark.datalog.context`` binds
in its own namespace (it imports the parser, analyzer, fixpoint loops and
local-eval tiers by name, so patching their defining modules would miss
the calls), plus the ``RuleCompiler`` methods and ``register_file``.
Spans stay in memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import os
import signal
import time
from collections import Counter
from dataclasses import dataclass

from bigdatalog_spark.datalog import context as engine_context

# context-module name -> layer it belongs to
FUNCTION_LAYERS = {
    "parse_program": "parser",
    "parse_goal": "parser",
    "analyze": "semantics",
    "fixpoint_seminaive": "fixpoint.seminaive",
    "fixpoint_monotonic": "fixpoint.monotonic",
    "fixpoint_mixed": "fixpoint.mixed",
    "driver_seminaive": "local_eval.driver",
    "driver_mixed": "local_eval.driver",
    "driver_exit_seed": "local_eval.driver",
    "local_seminaive_fixpoint": "local_eval.task",
    "local_monotonic_fixpoint": "local_eval.task",
    "seed_broadcast_seminaive": "local_eval.task",
    "seed_broadcast_mixed": "local_eval.task",
    "seed_broadcast_monotonic": "local_eval.task",
}
COMPILER_METHODS = ("compile_body", "project_head", "pre_aggregate_projection")
DISTRIBUTED_LOOPS = ("fixpoint_seminaive", "fixpoint_monotonic", "fixpoint_mixed")
# local tiers (driver_exit_seed only evaluates an exit seed; it is no tier)
LOCAL_TIERS = tuple(
    n for n, layer in FUNCTION_LAYERS.items()
    if layer.startswith("local_eval") and n != "driver_exit_seed"
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    query: int


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.query = -1
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._originals: list[tuple[object, str, object]] = []

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = next(self._ids)
            parent = self._stack[-1] if self._stack else None
            self._stack.append(sid)
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                self._stack.pop()
                self.spans.append(Span(sid, name, start, end, parent, self.query))

        return traced

    def _patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        self._originals.append((owner, attr, original))
        setattr(owner, attr, self._wrap(original, name))

    def install(self) -> None:
        for fn in FUNCTION_LAYERS:
            self._patch(engine_context, fn, fn)
        for m in COMPILER_METHODS:
            self._patch(engine_context.RuleCompiler, m, m)
        self._patch(engine_context.BigDatalogContext, "register_file", "register_file")

    def uninstall(self) -> None:
        while self._originals:
            owner, attr, original = self._originals.pop()
            setattr(owner, attr, original)

    def record(self, name: str, start: float, end: float) -> None:
        """A span the benchmark timed itself (query, materialize)."""
        self.spans.append(Span(next(self._ids), name, start, end, None, self.query))

    def census(self, query: int) -> Counter:
        """Tier functions (fixpoint loops, local-eval tiers) one query
        called, with their call counts."""
        return Counter(
            s.name for s in self.spans
            if s.query == query
            and FUNCTION_LAYERS.get(s.name, "").startswith(("fixpoint", "local_eval"))
        )

    def bailouts(self, query: int) -> int:
        """Distributed loops that started after a local tier in the same
        query: the local tier gave up and the clique ran again."""
        spans = sorted((s for s in self.spans if s.query == query), key=lambda s: s.start)
        first_local = next((s.start for s in spans if s.name in LOCAL_TIERS), None)
        if first_local is None:
            return 0
        return sum(1 for s in spans if s.name in DISTRIBUTED_LOOPS and s.start > first_local)


def layer_totals(spans: list[Span]) -> dict[str, float]:
    """Per-layer busy time (inclusive span time) and call counts."""
    out: Counter = Counter()
    for s in spans:
        d = s.end - s.start
        if s.name in COMPILER_METHODS:
            out["compiler.body_s"] += d
            out["compiler.rules"] += s.name == "compile_body"
        elif s.name == "register_file":
            out["sources.load_s"] += d
        elif s.name in ("query", "materialize"):
            out[f"context.{s.name}_s"] += d
        else:
            layer = FUNCTION_LAYERS[s.name]
            if layer == "parser":
                out["parser.parse_s"] += d
                out["parser.calls"] += 1
            elif layer == "semantics":
                out["semantics.analyze_s"] += d
            else:
                out[f"{layer}_s"] += d
                out[f"{layer}_calls"] += 1
    return dict(out)


# ------------------------------------------------------------ Spark jobs


def spark_jobs(spark, group: str) -> dict[str, float]:
    """Job, stage and task counts and covered job time of one job group,
    from the application status store. Waits for the listener bus first so
    the last job's end event has been applied."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    intervals = []
    out = Counter()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["spark.jobs"] += 1
        out["spark.stages"] += job.numCompletedStages() + job.numFailedStages()
        out["spark.tasks"] += job.numCompletedTasks() + job.numFailedTasks()
        out["spark.failed_tasks"] += job.numFailedTasks()
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals.append((sub.get().getTime(), done.get().getTime()))
    covered, reach = 0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            covered += b - a
            reach = b
        elif b > reach:
            covered += b - reach
            reach = b
    out["spark.job_s"] = covered / 1000.0
    return dict(out)


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release_rdds(spark) -> None:
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


# ------------------------------------------------------------ process tree


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(state, parent pid, start time) of a process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    fields = stat[stat.rindex(")") + 2 :].split()
    return fields[0], int(fields[1]), int(fields[19])


def descendants(pid: int) -> dict[int, int]:
    """Descendant pid -> start time (the pair names one process even if
    the pid is reused later)."""
    kids: dict[int, list[tuple[int, int]]] = {}
    for entry in os.listdir("/proc"):
        st = _stat(int(entry)) if entry.isdigit() else None
        if st is not None:
            kids.setdefault(st[1], []).append((int(entry), st[2]))
    out, todo = {}, [pid]
    while todo:
        for child, started in kids.get(todo.pop(), []):
            out[child] = started
            todo.append(child)
    return out


def peak_rss_mb(pid: int) -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of ``pid`` and each descendant (the
    Python driver, the JVM and the Python workers), keyed "name:pid"."""
    out = {}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{p}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def reap(procs: dict[int, int], timeout: float) -> list[int]:
    """Wait until every process in ``procs`` (pid -> start time) has
    exited, SIGKILL what is left at the deadline and wait once more;
    returns the pids still alive after that."""

    def running(pid: int) -> bool:
        st = _stat(pid)
        return st is not None and st[0] != "Z" and st[2] == procs[pid]

    alive = list(procs)
    for last_round in (False, True):
        deadline = time.monotonic() + timeout
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if running(p)]
            time.sleep(0.05)
        if not alive or last_round:
            return alive
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    return alive
