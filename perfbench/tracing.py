"""Spans and counters the benchmark records from outside the engine.

Nothing here changes engine code. Spans come from wrapping the public
methods of the objects the benchmark itself builds (control table,
sources, sinks, pipeline) and from the benchmark's own calls into the
query registry, Catalyst and the noop-sink write. Counts come from
Spark's own status store after the run.
"""

from __future__ import annotations

import functools
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    costs one attribute check per call site; an enabled one records
    only while ``recording`` is set (the timed passes)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.recording = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = ""

    @property
    def active(self) -> bool:
        return self.enabled and self.recording

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def wrap(self, obj, methods, prefix: str, on_exit=None) -> None:
        """Replace ``obj.<m>`` for each method with a spanned wrapper.
        Because the wrapper is an instance attribute, calls the object
        makes on itself (``claim`` → ``update_where``) nest as spans."""
        if not self.enabled:
            return
        for m in methods:
            fn = getattr(obj, m, None)
            if fn is None:
                continue
            setattr(obj, m, self._wrapped(fn, f"{prefix}.{m}", on_exit))

    def _wrapped(self, fn, name, on_exit):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_exit is not None and sp is not None:
                    on_exit(sp, args, out)
                return out

        return call

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of
        its interval covered by its direct children."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            covered = _union_length(
                [(c.start, c.end) for c in children.get(i, [])]
            )
            out[sp.layer] = out.get(sp.layer, 0.0) + (sp.end - sp.start) - covered
        return out

    def write_jsonl(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": sp.name, "start": sp.start,
                    "end": sp.end, "parent": sp.parent, "trace": sp.trace,
                    **sp.attrs,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer = tracer
        self.name = name
        self.attrs = attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        t = self.tracer
        if not t.active:
            return None
        parent = t._stack[-1] if t._stack else None
        self.span = Span(self.name, time.perf_counter(), 0.0, parent, t.trace_id, self.attrs)
        t.spans.append(self.span)
        t._stack.append(len(t.spans) - 1)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.span.end = time.perf_counter()
            self.tracer._stack.pop()


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker and checksum
    files are not counted."""
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


class Py4JCallCounter:
    """Counts Python → JVM method calls (the traced run's
    ``construct.py4j_calls``) by wrapping py4j's ``JavaMember.__call__``
    for the lifetime of the counter."""

    def __init__(self):
        from py4j import java_gateway

        self._cls = java_gateway.JavaMember
        self._orig = self._cls.__call__
        self.calls = 0
        counter = self

        def call(member, *args):
            counter.calls += 1
            return counter._orig(member, *args)

        self._cls.__call__ = call

    def close(self) -> None:
        self._cls.__call__ = self._orig


# -- Spark status store --------------------------------------------------


def wait_for_listeners(spark) -> None:
    """Job/stage/SQL metrics reach the status store through the async
    listener bus; drain it before reading them."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


_STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("task_busy_s", "executorRunTime", 1e-3),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


def stage_totals(spark, jobs: list[int]) -> dict[str, float]:
    """Sum the last attempt of every stage the jobs ran."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {k: 0.0 for k, _f, _s in _STAGE_FIELDS}
    out["stages"] = 0
    for jid in jobs:
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stages have no attempt
                continue
            out["stages"] += 1
            for key, getter, scale in _STAGE_FIELDS:
                out[key] += getattr(st, getter)() * scale
    return out


def sql_row_counts(spark, jobs: list[int]) -> dict[str, int]:
    """Output rows of join operators and of Python (UDF/Arrow) operators
    in the SQL executions that ran ``jobs``, from ``executionMetrics``."""
    store = spark._jsparkSession.sharedState().statusStore()
    wanted = set(jobs)
    out = {"join_rows_out": 0, "python_rows": 0}
    it = store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        ex_jobs = {int(j) for j in _scala_keys(ex.jobs())}
        if not ex_jobs & wanted:
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            kind = (
                "join_rows_out" if "Join" in name
                else "python_rows" if ("Python" in name or "Pandas" in name or "Arrow" in name)
                else None
            )
            if kind is None:
                continue
            mets = node.metrics()
            for j in range(mets.size()):
                m = mets.apply(j)
                if m.name() != "number of output rows":
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[kind] += _metric_int(v.get())
    return out


def _scala_keys(scala_map) -> list:
    keys, it = [], scala_map.keys().iterator()
    while it.hasNext():
        keys.append(it.next())
    return keys


def _metric_int(text: str) -> int:
    digits = "".join(ch for ch in str(text).split("(")[0] if ch.isdigit())
    return int(digits) if digits else 0


def cache_state(spark) -> tuple[int, int]:
    """(persisted RDDs, bytes held) — cached DataFrames and local
    checkpoints the session still keeps."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    entries = nbytes = 0
    for info in infos:
        entries += 1
        nbytes += info.memSize() + info.diskSize()
    return entries, nbytes


def catalyst_phases_ms(df) -> dict[str, float]:
    """Force the physical plan and read Catalyst's phase timings."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus the driver JVM."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
