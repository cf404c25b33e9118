"""Spans around the benchmark's calls into the program, plus the Spark
status-store figures of each span's job group.

A ``Tracer`` keeps everything in memory; ``write`` puts it on disk once,
at the end of a run. Stage figures are read through
``sc._jsc.sc().statusStore()`` after the listener bus has drained, so
every job of a finished span is already recorded there.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import asdict, dataclass, field

# stage totals summed per span; "run_ms" is milliseconds and "cpu_ns"
# nanoseconds, as the status store keeps them
STAGE_FIELDS = (
    "tasks", "run_ms", "cpu_ns", "shuffle_write", "shuffle_read",
    "spill", "input_bytes", "input_records", "output_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None
    group: str | None = None          # Spark job group the span's jobs ran under
    jobs: int = 0
    stages: int = 0
    job_s: float = 0.0                # sum of job wall times
    job_union_s: float = 0.0          # union of job intervals, clipped to the span
    totals: dict[str, int] = field(default_factory=dict)

    @property
    def secs(self) -> float:
        return self.end - self.start


def _opt_secs(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union(intervals: list[tuple[float, float]]) -> float:
    total, hi = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= hi:
            continue
        total += b - max(a, hi)
        hi = b
    return total


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op apart
    from setting the job group, so the untimed bookkeeping is the same
    shape in traced and untraced runs."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._seen_stages: set[int] = set()   # a reused stage counts once, where it ran
        self._sc = spark.sparkContext
        if enabled:
            jsc = self._sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()

    def call(self, name: str, parent: str | None, group: str, fn, *args):
        """Run ``fn(*args)`` under Spark job group ``group``; returns its
        result and its wall seconds."""
        self._sc.setJobGroup(group, name)
        t0 = time.time()
        out = fn(*args)
        t1 = time.time()
        if self.enabled:
            self.spans.append(self._span(name, parent, group, t0, t1))
        return out, t1 - t0

    def _span(self, name: str, parent: str | None, group: str, t0: float, t1: float) -> Span:
        self._bus.waitUntilEmpty()
        span = Span(name, t0, t1, parent, group, totals=dict.fromkeys(STAGE_FIELDS, 0))
        intervals = []
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            a, b = _opt_secs(job.submissionTime()), _opt_secs(job.completionTime())
            if a is not None and b is not None:
                span.job_s += b - a
                intervals.append((max(a, t0), min(b, t1)))
            span.jobs += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                stage_id = ids.apply(i)
                if stage_id in self._seen_stages:
                    continue
                st = self._store.lastStageAttempt(stage_id)
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(stage_id)
                span.stages += 1
                tot = span.totals
                tot["tasks"] += st.numTasks()
                tot["run_ms"] += st.executorRunTime()
                tot["cpu_ns"] += st.executorCpuTime()
                tot["shuffle_write"] += st.shuffleWriteBytes()
                tot["shuffle_read"] += st.shuffleReadBytes()
                tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                tot["input_bytes"] += st.inputBytes()
                tot["input_records"] += st.inputRecords()
                tot["output_bytes"] += st.outputBytes()
        span.job_union_s = _union([iv for iv in intervals if iv[1] > iv[0]])
        return span

    def jvm_gc_ms(self) -> int:
        """Collection time so far of every JVM garbage collector; in
        local mode the one JVM is both driver and executor."""
        beans = self._sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def add(self, name: str, t0: float, t1: float, parent: str | None = None) -> None:
        if self.enabled:
            self.spans.append(Span(name, t0, t1, parent))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


# --- per-layer metrics ------------------------------------------------------

def _op_figures(spans: list[Span]) -> dict[tuple[str, str], dict[str, float]]:
    """Per (pass prefix, op) figures from the build and collect spans."""
    out: dict[tuple[str, str], dict[str, float]] = {}
    for s in spans:
        if s.group is None:
            continue
        key = tuple(s.group.rsplit("/", 1)[0].split("#"))  # (op, pass)
        f = out.setdefault(key, dict.fromkeys(
            ("build_s", "build_jobs", "collect_s", "jobs", "stages", "job_s",
             "job_union_s", "wall_s", *STAGE_FIELDS), 0.0))
        if s.name == "plans.build":
            f["build_s"] += s.secs
            f["build_jobs"] += s.jobs
        else:
            f["collect_s"] += s.secs
        f["wall_s"] += s.secs
        f["jobs"] += s.jobs
        f["stages"] += s.stages
        f["job_s"] += s.job_s
        f["job_union_s"] += s.job_union_s
        for k in STAGE_FIELDS:
            f[k] += s.totals[k]
    return out


def bound_violations(tracer: Tracer, timed: set[str], cores: int) -> list[str]:
    """Operations of the timed passes that break
    ``executor_cpu <= executor_run <= cores * job wall``: a stage counted
    under the wrong operation breaks it. Each task's run time is whole
    milliseconds, so each task may exceed by one."""
    bad = []
    for (op, p), f in _op_figures(tracer.spans).items():
        if p not in timed:
            continue
        slack_ms = f["tasks"] + 1
        if f["cpu_ns"] / 1e6 > f["run_ms"] + slack_ms or f["run_ms"] > cores * f["job_s"] * 1000 + slack_ms:
            bad.append(f"{op}#{p}: cpu {f['cpu_ns'] / 1e6:.0f} ms, run {f['run_ms']} ms, "
                       f"jobs {f['job_s'] * 1000:.0f} ms x {cores} cores")
    return bad


def per_layer(tracer: Tracer, timed: dict[str, dict], cores: int, start_s: float,
              load_s: float, first_pass_s: float, gc_ms: int) -> dict[str, dict]:
    """Median over the timed passes of each per-pass total. ``timed``
    maps a pass number (as a string) to that pass's record; ``gc_ms`` is
    the JVM's collection time over all of them."""
    figs = _op_figures(tracer.spans)
    per_pass: dict[str, dict[str, float]] = {}
    for (_op, p), f in figs.items():
        if p in timed:
            tot = per_pass.setdefault(p, dict.fromkeys(f, 0.0))
            for k, v in f.items():
                tot[k] += v
    ps = [per_pass.get(p, {}) for p in timed]

    def med(fn) -> float:
        return statistics.median(fn(t) for t in ps)

    def g(t: dict, k: str) -> float:
        return t.get(k, 0.0)

    m = {
        "session.start_s": (start_s, "s"),
        "registry.load_s": (load_s, "s"),
        "setup.first_pass_s": (first_pass_s, "s"),
        "traced.wall_s": (statistics.median(r["wall"] for r in timed.values()), "s"),
        "plans.build_s": (med(lambda t: g(t, "build_s")), "s"),
        "plans.build_jobs": (med(lambda t: g(t, "build_jobs")), "count"),
        "exec.collect_s": (med(lambda t: g(t, "collect_s")), "s"),
        "spark.jobs": (med(lambda t: g(t, "jobs")), "count"),
        "spark.stages": (med(lambda t: g(t, "stages")), "count"),
        "spark.tasks": (med(lambda t: g(t, "tasks")), "count"),
        "spark.job_s": (med(lambda t: g(t, "job_s")), "s"),
        "outside_jobs_s": (med(lambda t: g(t, "wall_s") - g(t, "job_union_s")), "s"),
        "spark.idle_slot_s": (med(lambda t: cores * g(t, "job_s") - g(t, "run_ms") / 1e3), "s"),
        "spark.executor_run_s": (med(lambda t: g(t, "run_ms") / 1e3), "s"),
        "spark.executor_cpu_s": (med(lambda t: g(t, "cpu_ns") / 1e9), "s"),
        "jvm.gc_s": (gc_ms / 1e3 / len(timed), "s"),
        "spark.shuffle_write_bytes": (med(lambda t: g(t, "shuffle_write")), "bytes"),
        "spark.shuffle_read_bytes": (med(lambda t: g(t, "shuffle_read")), "bytes"),
        "spark.spill_bytes": (med(lambda t: g(t, "spill")), "bytes"),
        "sources.input_bytes": (med(lambda t: g(t, "input_bytes")), "bytes"),
        "sources.input_records": (med(lambda t: g(t, "input_records")), "rows"),
        "sinks.output_bytes": (med(lambda t: g(t, "output_bytes")), "bytes"),
        "cache.entries_added": (statistics.median(
            sum(r["cache_added"].values()) for r in timed.values()), "count"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
