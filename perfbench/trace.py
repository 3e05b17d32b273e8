"""Spans, per-layer counters and latency statistics for the benchmark.

Spans are recorded from the benchmark's own files, around its calls into
the program's public functions: each op is a root span ("op") whose
children are the program's entry call ("entry": the query function or
`NeumannSparkEngine.execute`), Catalyst planning ("plan") and result
materialization ("collect"); all spans of one op share the op's id. Spans
stay in memory and are written out when the run ends.

Counters are read at the same boundaries:
- Spark jobs, from the DAG scheduler's job counter (exact, synchronous);
- stages, tasks, executor time and shuffle/spill/input bytes of those jobs,
  from `statusTracker` and `statusStore().lastStageAttempt` (these work
  with the UI off);
- py4j round trips (count and time blocked) from a wrapper on the gateway
  client.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

# The tail is the highest percentile with at least this many samples above it.
TAIL_BEYOND = 10

STAGE_FIELDS = (
    # (metric, StageData getter, scale)
    ("tasks", "numTasks", 1.0),
    ("failed_tasks", "numFailedTasks", 1.0),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("spill_mb", "diskBytesSpilled", 1 / 2**20),
    ("input_mb", "inputBytes", 1 / 2**20),
)


def tail_rank(n: int) -> int | None:
    """1-based rank (ascending) of the tail sample: the one with exactly
    TAIL_BEYOND samples above it. None when that would not lie above the
    median, i.e. when n <= 2 * TAIL_BEYOND."""
    return n - TAIL_BEYOND if n > 2 * TAIL_BEYOND else None


def latency_summary(samples: list[float]) -> dict:
    """Median and tail of op latencies, with the tail's percentile and the
    sample count. Too few samples for a tail above the median: the tail is
    the maximum, recorded as percentile 100."""
    s = sorted(samples)
    k = tail_rank(len(s))
    return {
        "p50": statistics.median(s),
        "tail": s[k - 1] if k else s[-1],
        "tail_percentile": 100.0 * k / len(s) if k else 100.0,
        "n": len(s),
    }


@dataclass
class Span:
    name: str
    op: int
    parent: int | None          # index of the parent span, None for a root
    start: float
    end: float = 0.0
    jobs: tuple[int, int] = (0, 0)   # [first, end) Spark job ids
    py4j_calls: int = 0
    py4j_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    children (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        ivs = sorted((max(c.start, s.start), min(c.end, s.end))
                     for c in kids.get(i, ()))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append(s.dur - covered)
    return out


class Py4jMeter:
    """Counts Python->JVM round trips and the time Python blocks in
    them, by wrapping the gateway client's `send_command`."""

    def __init__(self, spark):
        self.calls = 0
        self.seconds = 0.0
        self.paused = False     # the tracer's own calls are not counted
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(*a, **kw):
            if self.paused:
                return self._orig(*a, **kw)
            t0 = time.perf_counter()
            try:
                return self._orig(*a, **kw)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """Records spans and counters; `enabled=False` makes every call a no-op
    so the untraced runs pay nothing."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stage_stats: dict[int, dict] = {}   # op id -> summed counters
        self.overhead_s = 0.0    # bookkeeping time spent inside op latencies
        self._stack: list[int] = []
        if enabled:
            self._sc = spark.sparkContext
            self._jsc = self._sc._jsc.sc()
            self.py4j = Py4jMeter(spark)

    def _next_job(self) -> int:
        self.py4j.paused = True
        try:
            return int(self._jsc.dagScheduler().nextJobId())
        finally:
            self.py4j.paused = False

    def span(self, name: str, op: int, **attrs):
        if not self.enabled:
            return nullcontext(None)
        return self._span(name, op, attrs)

    @contextmanager
    def _span(self, name: str, op: int, attrs: dict):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        j0 = self._next_job()
        c0, s0 = self.py4j.calls, self.py4j.seconds
        sp = Span(name, op, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.jobs = (j0, self._next_job())
            sp.py4j_calls = self.py4j.calls - c0
            sp.py4j_s = self.py4j.seconds - s0
            self.overhead_s += time.perf_counter() - sp.end

    def resolve_stages(self, op: int, root: Span) -> None:
        """Sum the stage counters of the root span's jobs. Called after the
        op has ended (outside its latency), once the listener bus has
        delivered the jobs' events to the status store."""
        if not self.enabled:
            return
        self.py4j.paused = True
        try:
            self._resolve(op, root)
        finally:
            self.py4j.paused = False

    def _resolve(self, op: int, root: Span) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        acc = {k: 0.0 for k, _, _ in STAGE_FIELDS}
        acc["stages"] = 0.0
        for j in range(*root.jobs):
            info = self._sc.statusTracker().getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                acc["stages"] += 1
                for key, getter, scale in STAGE_FIELDS:
                    acc[key] += getattr(sd, getter)() * scale
        self.stage_stats[op] = acc

    def close(self) -> None:
        if self.enabled:
            self.py4j.close()

    def dump(self) -> dict:
        """JSON-ready record of every span (with its self time) and the
        per-op stage counters."""
        selfs = self_times(self.spans)
        return {
            "spans": [
                {"name": s.name, "op": s.op, "parent": s.parent,
                 "start": s.start, "dur": s.dur, "self": st,
                 "jobs": s.jobs[1] - s.jobs[0], "py4j_calls": s.py4j_calls,
                 "py4j_s": s.py4j_s, **s.attrs}
                for s, st in zip(self.spans, selfs)],
            "ops": {str(k): v for k, v in sorted(self.stage_stats.items())},
        }


def catalyst_phases(df) -> dict[str, float]:
    """Force the physical plan and return Catalyst's phase times in
    seconds. The DataFrame keeps this QueryExecution, so the action that
    follows reuses the plan instead of planning again."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = kv._2().durationMs() / 1000.0
    return out
