"""Spans and engine counters for the benchmark's traced runs.

A span is (id, name, start, end, parent, request); the layer of a span
is its name up to the first dot (`plans.construct` -> `plans`). The
benchmark opens spans around its own calls into the repo's modules —
nothing inside the program is instrumented. Spans stay in memory and
are written once, at exit.

Engine counters come from the Spark status store, read after the
timed section: every traced phase tags its jobs with a job group, and
`stage_totals` sums the stages of those jobs.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    """Collects spans; `enabled=False` makes every call a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.groups: dict[str, list[str]] = defaultdict(list)
        self.overhead_s = 0.0
        self._stack: list[int] = []

    def span(self, name: str, request: str | None = None, group: bool = False):
        """Context manager timing one call. `group=True` also tags the
        Spark jobs started inside it (job group `<request>/<name>`)."""
        if not self.enabled:
            return nullcontext()
        return self._span(name, request, group)

    @contextmanager
    def _span(self, name, request, group):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "request": request, "start": 0.0, "end": 0.0}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group:
            gid = f"{request}/{name}"
            self.groups[name].append(gid)
            self.sc.setJobGroup(gid, gid)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setJobGroup("perfbench/untraced", "")
            self.overhead_s += time.perf_counter() - t1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per layer: each span's duration minus the part
    of it that its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, edge = 0.0, s["start"]
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, edge), min(b, s["end"])
            if b > a:
                covered += b - a
                edge = b
        out[s["name"].split(".", 1)[0]] += s["end"] - s["start"] - covered
    return dict(out)


STAGE_FIELDS = ("stages", "tasks", "task_run_s", "task_cpu_s", "input_rows",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def stage_totals(sc, group_ids: list[str]) -> dict[str, float]:
    """Jobs and summed stage metrics of every job in the given groups.

    Skipped stages (their output was reused) did no work and are not
    counted; a stage the store has already evicted raises and is
    skipped too."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    tot = dict.fromkeys(("jobs",) + STAGE_FIELDS, 0.0)
    for gid in group_ids:
        for job in tracker.getJobIdsForGroup(gid):
            tot["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # evicted or never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks()
                tot["task_run_s"] += sd.executorRunTime() / 1e3
                tot["task_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["input_rows"] += sd.inputRecords()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["spill_bytes"] += sd.diskBytesSpilled()
    return tot


def stream_totals(progress: list[dict]) -> dict[str, float]:
    """Summed per-trigger durations and input rows of the given
    streaming progress entries (`query.recentProgress`)."""
    tot = dict.fromkeys(("batches", "trigger_s", "add_batch_s",
                         "query_planning_s", "wal_commit_s", "input_rows"), 0.0)
    for p in progress:
        d = p.get("durationMs", {})
        tot["batches"] += 1
        tot["trigger_s"] += d.get("triggerExecution", 0) / 1e3
        tot["add_batch_s"] += d.get("addBatch", 0) / 1e3
        tot["query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        tot["wal_commit_s"] += d.get("walCommit", 0) / 1e3
        tot["input_rows"] += p.get("numInputRows", 0)
    return tot
