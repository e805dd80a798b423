"""Spans and counters for the traced run.

A span is ``{run_id, span_id, parent, name, start, end}`` (seconds on
the epoch clock) plus the counters measured over its window. Spans are
kept in memory and written once, at the end of the run.

Spark counters come from the application status store (the data behind
the Spark UI and REST API): every job submitted inside a span's window
is attributed to it. This is by time, not job group, because
``run_validation`` submits jobs from its own thread pool, which does not
inherit a caller's job group; the benchmark makes one call at a time,
so windows never overlap. Each attributed job also becomes a child span,
so a span's self time is the driver time no Spark job covered.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

import host

COUNTERS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
    "jvm_cpu_s", "python_cpu_s",
)


# jobs submitted concurrently from the engine's driver threads can be
# numbered slightly out of submission order
JOB_ORDER_SLACK_S = 5.0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_window(sc, t0: float, t1: float) -> tuple[dict, list[tuple]]:
    """Counters and (job id, start, end) of the jobs submitted in
    [t0, t1] (epoch seconds)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)  # newest first
    c = dict.fromkeys(COUNTERS[:9], 0)
    spans = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = _opt_ms(j.submissionTime())
        if sub is not None and sub < t0 - JOB_ORDER_SLACK_S:
            break
        if sub is None or not (t0 <= sub <= t1):
            continue
        end = _opt_ms(j.completionTime()) or t1
        spans.append((j.jobId(), sub, end))
        c["jobs"] += 1
        ids = j.stageIds()
        for k in range(ids.size()):
            st = store.lastStageAttempt(ids.apply(k))
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["input_bytes"] += st.inputBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
    return c, spans


def covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, cur = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, t1)
        if b > a:
            total += b - a
            cur = b
    return total


class Tracer:
    """Records spans when enabled; otherwise ``span`` only times."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.sc = None
        self.jvm_pid: int | None = None
        # wall seconds spent on the tracer's own bookkeeping (status
        # store reads, listener-bus waits, /proc reads); span timings
        # exclude it
        self.overhead_s = 0.0

    def attach(self, sc, jvm_pid: int) -> None:
        self.sc, self.jvm_pid = sc, jvm_pid

    @contextlib.contextmanager
    def span(self, name: str, spark_counters: bool = True):
        """Yields a dict that receives ``seconds`` (and, when tracing,
        the span's counters and ``self_s``) as the block exits."""
        rec: dict = {"name": name}
        if not self.enabled:
            t = host.now()
            yield rec
            rec["seconds"] = host.now() - t
            return
        sid = next(self._ids)
        rec.update(run_id=self.run_id, span_id=sid,
                   parent=self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        b0 = host.now()
        cpu0 = host.cpu_split(self.jvm_pid) if self.jvm_pid else (0.0, 0.0)
        rec["start"] = time.time()
        t = host.now()
        self.overhead_s += t - b0
        try:
            yield rec
        finally:
            b1 = host.now()
            rec["seconds"] = b1 - t
            rec["end"] = time.time()
            self._stack.pop()
            cpu1 = host.cpu_split(self.jvm_pid) if self.jvm_pid else (0.0, 0.0)
            rec["jvm_cpu_s"] = cpu1[0] - cpu0[0]
            rec["python_cpu_s"] = cpu1[1] - cpu0[1]
            child = [(s["start"], s["end"]) for s in self.spans
                     if s.get("parent") == sid]
            if spark_counters and self.sc is not None:
                counters, jobs = spark_window(self.sc, rec["start"], rec["end"])
                rec.update(counters)
                for jid, a, b in jobs:
                    self.spans.append({
                        "run_id": self.run_id, "span_id": next(self._ids),
                        "parent": sid, "name": f"spark.job.{jid}",
                        "start": a, "end": b,
                    })
                    child.append((a, b))
            rec["self_s"] = rec["seconds"] - covered(child, rec["start"], rec["end"])
            self.spans.append(rec)
            self.overhead_s += host.now() - b1

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            json.dump({**header, "spans": self.spans}, f, indent=1)
