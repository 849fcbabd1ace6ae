"""Instruments the benchmark attaches from outside the package.

* ``StreamTracker``: a StreamingQueryListener that files every
  progress event under the streaming query's ``runId``, and the runId
  under the operation that was running when the query started
  (``onQueryStarted`` is delivered synchronously inside ``start()``;
  progress and termination arrive later, so an operation is closed only
  after each of its queries has reported termination).
* ``Wrappers``: rebinding of package functions under the names their
  callers look up at call time, recording spans. Traced runs only.
* Job counting through ``setJobGroup`` and the status tracker, block
  manager storage, and a reader for the uncompressed Spark event log.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class StreamRun:
    op: str
    name: str | None
    triggers: list = field(default_factory=list)  # one dict per progress event
    terminated: bool = False


class StreamTracker(StreamingQueryListener):
    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._op: str | None = None
        self.runs: dict[str, StreamRun] = {}
        self.unattributed = 0

    def begin_op(self, label: str) -> None:
        with self._cond:
            self._op = label

    def end_op(self, timeout: float = 30.0) -> dict[str, StreamRun]:
        """Wait until every query started during the current operation
        has terminated; return the operation's runs by runId."""
        with self._cond:
            label, self._op = self._op, None
            mine = {rid: r for rid, r in self.runs.items() if r.op == label}
            if not self._cond.wait_for(lambda: all(r.terminated for r in mine.values()), timeout):
                raise TimeoutError(f"{label}: streaming query never reported termination")
            return mine

    def onQueryStarted(self, event) -> None:
        with self._cond:
            if self._op is None:
                self.unattributed += 1
            self.runs[str(event.runId)] = StreamRun(op=self._op, name=event.name)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        trig = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._cond:
            run = self.runs.get(str(p.runId))
            if run is None:
                self.unattributed += 1
            else:
                run.triggers.append(trig)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            run = self.runs.get(str(event.runId))
            if run is not None:
                run.terminated = True
            self._cond.notify_all()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None


class Wrappers:
    """Rebinds ``module.attr`` -- and every alias of the same function
    that package modules imported by value -- to a timing wrapper."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.parent: str | None = None
        self._undo: list[tuple[object, str, object]] = []
        self._names: list[str] = []

    def install(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.spans.append(Span(name, t0, time.perf_counter(), self.parent))

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("ukis_kafka_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)
                    self._undo.append((mod, key, orig))
        self._names.append(name)

    def uninstall(self) -> None:
        for mod, key, orig in reversed(self._undo):
            setattr(mod, key, orig)
        self._undo.clear()

    def assert_fired(self) -> None:
        fired = {s.name for s in self.spans}
        silent = [n for n in self._names if n not in fired]
        if silent:
            raise RuntimeError(f"tracing wrappers never fired (nobody looks them up): {silent}")

    def total(self, name: str, measured: bool) -> tuple[int, float]:
        """(calls, seconds) of the spans called ``name``, inside measured
        operations (which have a parent) or in set-up (which has none)."""
        sel = [s for s in self.spans if s.name == name and (s.parent is not None) == measured]
        return len(sel), sum(s.end - s.start for s in sel)


def job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def pinned_mb(spark) -> float:
    """Block-manager storage (memory + disk) held by persisted and
    checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def read_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs and task metrics summed from the uncompressed
    event log (``spark.eventLog.compress=false``)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(
            group,
            {"jobs": 0, "cpu_ms": 0.0, "gc_ms": 0.0, "run_ms": 0.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0},
        )

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                a = acc(group)
                a["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                a = acc(stage_group.get(ev["Stage ID"], ""))
                a["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                a["run_ms"] += m.get("Executor Run Time", 0)
                a["gc_ms"] += m.get("JVM GC Time", 0)
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return out
