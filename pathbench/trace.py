"""Operation timing, spans and Spark job accounting for the benchmark.

``Recorder.op(name)`` wraps one call into ``scida_spark``. With tracing
off it only times the call. With tracing on it also records a span
(name, start, end, parent, request id = pass id) and runs the call under
its own Spark job group, so the jobs and stages it caused can be read
back from the status tracker and status store once the pass is over
(the Spark UI stays off). Spans live in memory until ``dump``.
"""

from __future__ import annotations

import json
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Op:
    name: str
    start: float = 0.0
    end: float = 0.0
    group: str | None = None
    result: object = None
    error: str | None = None
    stages: list[dict] = field(default_factory=list)
    jobs: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, sc=None):
        self.sc = sc
        self.traced = False
        self.request = "setup"
        self.spans: list[dict] = []
        self.ops: list[Op] = []        # ops of the current pass
        self._stack: list[str] = []
        self._checks: list[tuple[Op, object]] = []
        self._seq = 0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    @contextmanager
    def span(self, name: str):
        """A span without job accounting (set-up phases, whole passes)."""
        start = time.perf_counter()
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            if self.traced:
                self._record(name, start, time.perf_counter())

    def _record(self, name, start, end):
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": self._stack[-1] if self._stack else None,
                           "request": self.request})

    @contextmanager
    def op(self, name: str):
        o = Op(name)
        if self.traced and self.sc is not None:
            self._seq += 1
            o.group = f"pb-{self._seq}"
            self.sc.setJobGroup(o.group, name)
        self.attempted += 1
        o.start = time.perf_counter()
        try:
            yield o
        except Exception:  # noqa: BLE001 — one failed op must not end the run
            o.error = traceback.format_exc()
            print(f"[pathbench] {name} failed:\n{o.error}", file=sys.stderr)
        finally:
            o.end = time.perf_counter()
            if o.group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.traced:
                self._record(name, o.start, o.end)
            self.ops.append(o)
            if o.error is not None:
                self._fail(name)

    def check(self, o: Op, fn) -> None:
        """Queue a ground-truth check; run by ``run_checks`` after the pass."""
        if o.error is None:
            self._checks.append((o, fn))

    def _fail(self, name: str) -> None:
        self.failed += 1
        self.failures.append(name)

    def begin_pass(self, request: str, traced: bool) -> None:
        self.request, self.traced = request, traced
        self.ops = []

    def run_checks(self) -> None:
        for o, fn in self._checks:
            try:
                ok = bool(fn(o.result))
            except Exception:  # noqa: BLE001 — a crashing check is a failed check
                traceback.print_exc()
                ok = False
            if not ok:
                self._fail(o.name)
        self._checks = []

    def collect_stages(self) -> None:
        """Attach the completed stages of each traced op of the pass."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for o in self.ops:
            if o.group is None:
                continue
            jobs = tracker.getJobIdsForGroup(o.group)
            o.jobs = len(jobs)
            seen = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its output was reused
                    o.stages.append({
                        "tasks": sd.numTasks(),
                        "run_ms": sd.executorRunTime(),
                        "input_bytes": sd.inputBytes(),
                        "shuffle_read_bytes": sd.shuffleReadBytes(),
                        "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    })

    def dump(self, path: str) -> None:
        """Write every span, with its self time (duration minus the part
        its child spans cover), as JSON."""
        spans = sorted(self.spans, key=lambda s: (s["start"], -s["end"]))
        for s in spans:
            kids = [c for c in spans if c is not s and c["request"] == s["request"]
                    and c["parent"] == s["name"]
                    and s["start"] <= c["start"] and c["end"] <= s["end"]]
            s["self"] = (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in kids)
        with open(path, "w") as fh:
            json.dump(spans, fh, indent=0)
