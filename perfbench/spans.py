"""Spans, Spark job attribution and process counters for the benchmark.

Spans are recorded only by the benchmark's own code, around its calls
into the package. In a traced run every span sets a Spark job group, so
the Spark event log ties each job, stage and task to the span that
launched it. Untraced runs time the same calls but set no job group and
keep no span.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    """One timed call into a layer of the package."""

    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times spans; in a traced run also keeps them and sets job groups.

    Spans stay in memory until :meth:`dump`."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # the SparkContext job groups are set on
        self._stack: list[Span] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next_id, name,
                 op if op is not None else (parent.op if parent else None),
                 parent.id if parent else None, time.perf_counter())
        self._next_id += 1
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            if self.enabled:
                self.spans.append(s)

    def _set_group(self, s: Span | None) -> None:
        if not self.enabled or self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{s.id}", s.name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def group_span_id(group: str | None) -> int | None:
    if group and group.startswith("perfbench-"):
        return int(group[len("perfbench-"):])
    return None


@dataclass
class StageStats:
    start: float = 0.0
    end: float = 0.0
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    """Jobs and stages of one Spark application, read from its event log."""

    job_span: dict[int, int | None] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=dict)

    @classmethod
    def read(cls, log_dir: str, app_id: str) -> "EventLog":
        """Parse ``app_id``'s uncompressed JSON-lines event log."""
        paths = [os.path.join(log_dir, p) for p in sorted(os.listdir(log_dir))
                 if app_id in p]
        files = []
        for p in paths:
            if os.path.isdir(p):
                files += [os.path.join(p, f) for f in sorted(os.listdir(p))
                          if f.startswith("events_")]
            else:
                files.append(p)
        if not files:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        log = cls()
        for path in files:
            with open(path) as fh:
                for line in fh:
                    log._event(json.loads(line))
        return log

    def _stage(self, sid: int) -> StageStats:
        return self.stages.setdefault(sid, StageStats())

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.job_span[jid] = group_span_id(props.get("spark.jobGroup.id"))
            self.job_stages[jid] = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.start = info.get("Submission Time", 0) / 1000.0
            st.end = info.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(ev["Stage ID"])
            st.tasks += 1
            m = ev.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            wr = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write += wr.get("Shuffle Bytes Written", 0)

    def work(self, span_ids: set[int]) -> dict:
        """Jobs, run stages and task metrics launched under ``span_ids``,
        plus the wall-clock intervals of those stages."""
        jobs = [j for j, s in self.job_span.items() if s in span_ids]
        sids = {sid for j in jobs for sid in self.job_stages.get(j, [])
                if sid in self.stages and self.stages[sid].tasks}
        stages = [self.stages[sid] for sid in sids]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.tasks for s in stages),
            "executor_run_s": sum(s.run_ms for s in stages) / 1000.0,
            "gc_s": sum(s.gc_ms for s in stages) / 1000.0,
            "shuffle_read_bytes": sum(s.shuffle_read for s in stages),
            "shuffle_write_bytes": sum(s.shuffle_write for s in stages),
            "spill_bytes": sum(s.spill for s in stages),
            "intervals": [(s.start, s.end) for s in stages if s.end],
        }


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by process ``root`` and its descendants (the
    JVM and its Python workers), reaped children included. Time the
    host gives to other tenants is not counted, unlike wall time."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(f) for f in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def streaming_listener(spark, progress: list[dict]):
    """Register a listener that appends each micro-batch's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append({
                "rows": p.numInputRows,
                "ms": (p.durationMs or {}).get("triggerExecution", 0),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener
