"""Per-layer measurement for a traced run, taken from outside the program.

Three sources, all kept in memory until the run ends:

* spans -- :class:`Tracer` wraps public entry points of the layers
  (``Schema.validate``, ``dedup.lsh_candidate_pairs``) and records
  (name, start, end, parent) around each call.
* Spark's own metrics -- the event log (``spark.eventLog.*``), read after
  the session stopped. Every job carries the ``perfbench.op`` local
  property the runner sets per operation (``<phase>:<pass>:<op>``).
* Catalyst phase times -- ``queryExecution().tracker()`` of each result
  DataFrame the benchmark collects.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

OP_PROP = "perfbench.op"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None


@dataclass
class Tracer:
    spans: list = field(default_factory=list)
    captured: dict = field(default_factory=dict)
    _patched: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    def wrap(self, owner, attr: str, name: str, capture: bool = False) -> None:
        """Replace ``owner.attr`` by a timing wrapper; ``capture`` keeps
        the last return value under ``name``."""
        raw = owner.__dict__[attr]
        fn = raw.__func__ if isinstance(raw, (classmethod, staticmethod)) else raw
        tracer = self

        def wrapper(*args, **kwargs):
            parent = tracer._stack[-1] if tracer._stack else None
            tracer._stack.append(name)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.spans.append(Span(name, t0, time.perf_counter(), parent))
                tracer._stack.pop()
            if capture:
                tracer.captured[name] = out
            return out

        wrapper.__wrapped__ = fn
        new = type(raw)(wrapper) if isinstance(raw, (classmethod, staticmethod)) else wrapper
        setattr(owner, attr, new)
        self._patched.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def total(self, name: str, start: float, end: float) -> float:
        """Summed time of the outermost ``name`` spans that started in
        [start, end)."""
        return sum(s.end - s.start for s in self.spans
                   if s.name == name and s.parent != name and start <= s.start < end)


def install_layer_spans(tracer: Tracer) -> None:
    """The layer boundaries the benchmark times."""
    from oblate_spark import schema
    from oblate_spark.operators import dedup

    tracer.wrap(schema.Schema, "validate", "compiler.validate")
    tracer.wrap(dedup, "lsh_candidate_pairs", "dedup.candidates", capture=True)


def plan_seconds(df) -> float:
    """Analysis + optimization + planning time Catalyst recorded for the
    DataFrame's (already executed) query."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


def jvm_gc_seconds(spark) -> float:
    """Collection time the JVM's garbage collectors have accumulated."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _heap_pools(spark):
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().equals(heap)]


def reset_heap_peak(spark) -> None:
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def heap_peak_mb(spark) -> float:
    """Sum over the JVM's heap pools of each pool's peak used bytes since
    the last :func:`reset_heap_peak`."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2**20


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


@dataclass
class JobStats:
    op: str
    stages: int
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    output_bytes: int = 0
    output_records: int = 0
    py_ms: int = 0
    py_sent: int = 0
    py_back: int = 0


def read_event_log(log_dir: str) -> list[JobStats]:
    """Per-job totals of the task metrics in every event log file under
    ``log_dir`` (uncompressed JSON lines)."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = JobStats(props.get(OP_PROP) or "", len(ev["Stage IDs"]))
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    tm = ev.get("Task Metrics")
                    if job is None or not tm:
                        continue
                    job.tasks += 1
                    job.run_ms += tm["Executor Run Time"]
                    job.cpu_ns += tm["Executor CPU Time"]
                    job.spill += tm["Disk Bytes Spilled"]
                    job.shuffle_write += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    rd = tm["Shuffle Read Metrics"]
                    job.shuffle_read += rd["Local Bytes Read"] + rd["Remote Bytes Read"]
                    job.output_bytes += tm["Output Metrics"]["Bytes Written"]
                    job.output_records += tm["Output Metrics"]["Records Written"]
                    for acc in ev["Task Info"].get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if name == _PY_TIME:
                            job.py_ms += int(upd)
                        elif name == _PY_SENT:
                            job.py_sent += int(upd)
                        elif name == _PY_BACK:
                            job.py_back += int(upd)
    return list(jobs.values())


def per_pass(jobs: list[JobStats], phase: str = "timed") -> dict[int, list[JobStats]]:
    """Jobs of each pass of ``phase``, keyed by pass number."""
    out: dict[int, list[JobStats]] = defaultdict(list)
    for j in jobs:
        parts = j.op.split(":", 2)
        if len(parts) == 3 and parts[0] == phase:
            out[int(parts[1])].append(j)
    return out


def median_per_pass(passes: dict[int, list[JobStats]], value) -> float:
    """Median over passes of ``value(jobs of one pass)``; 0 when no
    pass ran."""
    vals = [value(js) for js in passes.values()]
    return statistics.median(vals) if vals else 0.0
