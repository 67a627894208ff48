"""Measurement helpers: spans, Spark status-store counters, checkpoint lag,
memory of the process tree.

Spans are recorded from the benchmark's side, around the public calls it
drives (the program itself carries no timers). Each span tags the Spark
jobs it submits with a job tag, so executor counters can be charged to
the innermost span that caused them.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    run_id: str
    depth: int
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional: with
    it, every span adds a job tag while open."""

    run_id: str
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    #: wall time spent inside begin/end: the tracer's own cost
    overhead_s: float = 0.0
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), name, time.time(),
                  parent.id if parent else None, self.run_id, len(stack))
        stack.append(sp)
        self.spans.append(sp)
        if self.sc is not None:
            self.sc.addJobTag(job_tag(sp.id))
        self.overhead_s += time.perf_counter() - t0
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.time()
        t0 = time.perf_counter()
        self._stack().remove(sp)
        if self.sc is not None:
            self.sc.removeJobTag(job_tag(sp.id))
        self.overhead_s += time.perf_counter() - t0

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` (a bound method) by a traced call."""
        fn = getattr(obj, attr)

        def traced(*a, **kw):
            sp = self.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(sp)

        setattr(obj, attr, traced)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]


def job_tag(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its children cover (children may overlap each other)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s.id], key=lambda c: c.start):
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
        out[s.id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.id]
    return dict(out)


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------
STAGE_FIELDS = ("executor_run_s", "executor_cpu_s", "jvm_gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "peak_exec_mem_bytes", "input_records")


@dataclass
class JobInfo:
    job_id: int
    tags: frozenset
    start: float
    end: float
    stages: dict  # STAGE_FIELDS -> summed value (peak: max)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_jobs(sc) -> list[JobInfo]:
    """Every job the status store still holds, with its stages' executor
    counters summed (peak execution memory: max over stages)."""
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._jvm.double, 0), None)
    by_stage: dict[int, dict] = {}
    for i in range(stages.length()):
        s = stages.apply(i)
        m = by_stage.setdefault(s.stageId(), dict.fromkeys(STAGE_FIELDS, 0))
        m["executor_run_s"] += s.executorRunTime() / 1e3
        m["executor_cpu_s"] += s.executorCpuTime() / 1e9
        m["jvm_gc_s"] += s.jvmGcTime() / 1e3
        m["shuffle_write_bytes"] += s.shuffleWriteBytes()
        m["shuffle_read_bytes"] += s.shuffleReadBytes()
        m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        m["peak_exec_mem_bytes"] = max(m["peak_exec_mem_bytes"],
                                       s.peakExecutionMemory())
        m["input_records"] += s.inputRecords()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.length()):
        j = jobs.apply(i)
        start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if start is None or end is None:
            continue
        tags = j.jobTags()
        tagset = frozenset(tags.apply(k) for k in range(tags.length()))
        ids = j.stageIds()
        agg = dict.fromkeys(STAGE_FIELDS, 0)
        for k in range(ids.length()):
            m = by_stage.get(ids.apply(k))
            if m is None:
                continue  # skipped stage (its output was reused)
            for f in STAGE_FIELDS:
                agg[f] = (max(agg[f], m[f]) if f == "peak_exec_mem_bytes"
                          else agg[f] + m[f])
        out.append(JobInfo(j.jobId(), tagset, start, end, agg))
    return out


def sum_stages(jobs: list[JobInfo]) -> dict:
    agg = dict.fromkeys(STAGE_FIELDS, 0)
    for j in jobs:
        for f in STAGE_FIELDS:
            agg[f] = (max(agg[f], j.stages[f]) if f == "peak_exec_mem_bytes"
                      else agg[f] + j.stages[f])
    return agg


def jobs_by_span(tracer: Tracer, jobs: list[JobInfo]) -> dict[str, list]:
    """Charge each job to the innermost open span that tagged it, keyed
    by span name."""
    by_id = {s.id: s for s in tracer.spans}
    out: dict[str, list] = defaultdict(list)
    for j in jobs:
        best = None
        for t in j.tags:
            if t.startswith("perfbench-span-"):
                s = by_id.get(int(t.rsplit("-", 1)[1]))
                if s is not None and (best is None or s.depth > best.depth):
                    best = s
        if best is not None:
            out[best.name].append(j)
    return dict(out)


def idle_between_jobs(jobs: list[JobInfo], lo: float, hi: float) -> float:
    """Wall time in [lo, hi] during which no Spark job was running."""
    busy, cur_lo, cur_hi = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j.start):
        a, b = max(j.start, lo), min(j.end, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return (hi - lo) - busy


# --------------------------------------------------------------------------
# streaming progress and checkpoint lag
# --------------------------------------------------------------------------
@dataclass(frozen=True)
class BatchCommit:
    batch_id: int
    start: float  # trigger start, epoch seconds
    commit: float  # trigger start + triggerExecution
    rows: int
    durations: dict  # durationMs as reported


def batch_commits(progress: list) -> list[BatchCommit]:
    """Micro-batches that read rows, from ``StreamingQuery.recentProgress``."""
    out = []
    for p in progress:
        if not p["numInputRows"]:
            continue
        ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = ts.replace(tzinfo=dt.timezone.utc).timestamp()
        d = dict(p["durationMs"])
        out.append(BatchCommit(int(p["batchId"]), start,
                               start + d.get("triggerExecution", 0) / 1e3,
                               int(p["numInputRows"]), d))
    return sorted(out, key=lambda b: b.commit)


def lag_quantiles(commits: list[tuple[float, float]], initial: float,
                  lo: float, hi: float, qs: tuple[float, ...]) -> list[float]:
    """Time-weighted quantiles of checkpoint lag over [lo, hi]: lag at
    wall time t is t minus the newest commit time (both seconds) the sink
    has committed by t. Sampling lag at fixed wall-clock intervals tends
    to this as the interval shrinks; it is computed exactly here. Between
    two commits lag rises with slope 1, so each stretch contributes a
    uniform spread of lag values. ``commits`` is (commit wall time, newest
    commit_ts of that batch); ``initial`` is the checkpoint before any of
    them."""
    newest = max([initial] + [n for t, n in commits if t <= lo])
    segs, a = [], lo
    for t, n in sorted(c for c in commits if lo < c[0] < hi):
        segs.append((a - newest, t - newest))
        a, newest = t, max(newest, n)
    segs.append((a - newest, hi - newest))

    def time_below(x: float) -> float:
        return sum(min(max(x - l0, 0.0), l1 - l0) for l0, l1 in segs)

    out = []
    for q in qs:
        x0, x1 = min(s[0] for s in segs), max(s[1] for s in segs)
        for _ in range(60):
            mid = (x0 + x1) / 2
            if time_below(mid) < q * (hi - lo):
                x0 = mid
            else:
                x1 = mid
        out.append(x1)
    return out


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    v = sorted(values)
    return v[min(len(v), max(1, math.ceil(q * len(v)))) - 1]


# --------------------------------------------------------------------------
# memory of the process tree
# --------------------------------------------------------------------------
class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (the driver JVM and the Python workers) every
    ``interval`` seconds on a daemon thread; ``peak_mb`` is the largest
    sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        kids: dict[int, list[int]] = defaultdict(list)
        for pid, ppid in parent.items():
            kids[ppid].append(pid)
        while frontier:
            for c in kids[frontier.pop()]:
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_mb = max(self.peak_mb, total / 1e6)
