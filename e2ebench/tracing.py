"""Measurement plumbing: spans around layer calls, JVM and codegen counters
read through py4j, process-tree CPU and RSS from ``/proc``, and the fold of
an uncompressed Spark event log.

Spans are recorded from the benchmark's side only, by replacing the module
attribute a caller resolves at call time with a timing wrapper. Nothing in
the product is edited.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import time
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    pass_no: int
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``write`` dumps them as JSON at the end.

    ``pass_no`` is set by the runner at each pass boundary so every span
    carries the pass it belongs to. ``job_group`` tags the Spark jobs a
    span launches (``setJobGroup`` is thread-local on the driver, so it
    only tags jobs started from the calling thread)."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self.pass_no = 0
        self.sc = None
        # off: wrappers installed with always=False call straight through
        # and no job groups are set (the untraced comparison passes)
        self.enabled = True
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._groups: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, job_group: str | None = None, **attrs):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        if not self.enabled:
            job_group = None
        if job_group is not None and self.sc is not None:
            self._groups.append(job_group)
            self.sc.setJobGroup(job_group, name)
        self._stack.append(sid)
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            self._stack.pop()
            if job_group is not None and self.sc is not None:
                self._groups.pop()
                self.sc.setJobGroup(self._groups[-1] if self._groups else "", "")
            self.spans.append(
                Span(sid, name, start, end, parent, self.run_id, self.pass_no, attrs)
            )

    def wrap(self, module, attr: str, name: str, job_group=None, on_result=None,
             always: bool = False):
        """Replace ``module.attr`` with a span-recording wrapper.

        ``job_group`` is a callable of the call's arguments returning the
        group id (or None); ``on_result`` receives the span's attribute
        dict and the return value. Unless ``always``, the wrapper calls
        straight through while the tracer is off."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not (always or self.enabled):
                return orig(*args, **kwargs)
            group = job_group(*args, **kwargs) if job_group else None
            with self.span(name, job_group=group) as attrs:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, out)
                return out

        setattr(module, attr, wrapper)

    def named(self, name: str, pass_no: int | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (pass_no is None or s.pass_no == pass_no)
        ]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by direct children."""
        kids = sorted(
            (s.start, s.end) for s in self.spans if s.parent == span.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        doc = dict(extra)
        doc["spans"] = [
            {
                "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "run": s.run, "pass": s.pass_no,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(doc, fh, indent=1, default=str)


# ---------------------------------------------------------------------------
# JVM counters (py4j)
# ---------------------------------------------------------------------------

class JvmCounters:
    """Cumulative JIT, class-loading, GC and codegen counters of the
    driver JVM, read through the session's py4j gateway."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._cls = mf.getClassLoadingMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._codegen_time = (
            jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        )

    def read(self) -> dict[str, float]:
        return {
            "jit_ms": float(self._comp.getTotalCompilationTime()),
            "classes_loaded": float(self._cls.getTotalLoadedClassCount()),
            "gc_ms": float(sum(g.getCollectionTime() for g in self._gcs)),
            "codegen_compiles": float(
                self._codegen.METRIC_COMPILATION_TIME().getCount()
            ),
            # CodeGenerator.compileTime is the summed compile wall time
            # in nanoseconds since JVM start
            "codegen_compile_ms": float(self._codegen_time.compileTime()) / 1e6,
        }


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


# ---------------------------------------------------------------------------
# /proc: process tree CPU and RSS, host steal
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    comm = raw[lpar + 1 : rpar]
    f = raw[rpar + 2 :].split()
    # fields after ")" start at field 3 (state); utime=14 stime=15
    # cutime=16 cstime=17 in proc(5) numbering
    own = (int(f[11]) + int(f[12])) / _CLK
    reaped = (int(f[13]) + int(f[14])) / _CLK
    return comm, int(f[1]), own, reaped


def process_tree(root: int) -> dict[int, tuple[str, float, float]]:
    """pid → (comm, own cpu s, reaped-children cpu s) for ``root`` and
    every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (_c, ppid, _o, _r) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            comm, _p, own, reaped = stats[pid]
            out[pid] = (comm, own, reaped)
            todo.extend(kids.get(pid, ()))
    return out


def tree_cpu(root: int) -> dict[str, float]:
    """CPU seconds of the tree, split into the driver's Python (``root``
    itself), the Python workers (python processes below the JVM) and the
    total including reaped children."""
    tree = process_tree(root)
    total = sum(own + reaped for _c, own, reaped in tree.values())
    driver = tree[root][1] if root in tree else 0.0
    workers = sum(
        own + reaped
        for pid, (comm, own, reaped) in tree.items()
        if pid != root and comm.startswith("python")
    )
    return {"total": total, "driver_py": driver, "pyworker": workers}


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of every live tree process, by command
    name, in MiB; ``total`` is their sum."""
    out: dict[str, float] = {"total": 0.0}
    for pid, (comm, _own, _reaped) in process_tree(root).items():
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        mb = int(line.split()[1]) / 1024.0
                        out[comm] = out.get(comm, 0.0) + mb
                        out["total"] += mb
                        break
        except OSError:
            continue
    return out


def steal_s() -> float:
    """Host-wide stolen CPU seconds since boot (``/proc/stat``)."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            return int(fh.readline().split()[8]) / _CLK
    except (OSError, ValueError, IndexError):
        return 0.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

@dataclass
class JobRecord:
    job_id: int
    group: str
    submit_ms: int
    stages: set = field(default_factory=set)
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    input_b: float = 0.0
    shuffle_read_b: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0


def fold_event_log(log_dir: str) -> list[JobRecord]:
    """Read every uncompressed event log under ``log_dir`` into per-job
    records: stages that ran, tasks, and summed task metrics."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = JobRecord(
                        jid, props.get("spark.jobGroup.id") or "",
                        ev["Submission Time"],
                    )
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        jobs[stage_job[sid]].stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if sid not in stage_job:
                        continue
                    rec = jobs[stage_job[sid]]
                    rec.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    rec.run_ms += m.get("Executor Run Time", 0)
                    rec.cpu_ns += m.get("Executor CPU Time", 0)
                    rec.gc_ms += m.get("JVM GC Time", 0)
                    rec.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                    rec.spill_b += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def engine_totals(jobs: list[JobRecord]) -> dict[str, float]:
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(sum(len(j.stages) for j in jobs)),
        "spark.tasks": float(sum(j.tasks for j in jobs)),
        "spark.executor_run_s": sum(j.run_ms for j in jobs) / 1e3,
        "spark.executor_cpu_s": sum(j.cpu_ns for j in jobs) / 1e9,
        "spark.gc_s": sum(j.gc_ms for j in jobs) / 1e3,
        "spark.input_mb": sum(j.input_b for j in jobs) / mb,
        "spark.shuffle_read_mb": sum(j.shuffle_read_b for j in jobs) / mb,
        "spark.shuffle_write_mb": sum(j.shuffle_write_b for j in jobs) / mb,
        "spark.spill_mb": sum(j.spill_b for j in jobs) / mb,
    }
