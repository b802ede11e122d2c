"""Measurement plumbing shared by the workloads: spans, Spark status-store
counters, process memory and host health.

Nothing here changes the program. Spans are recorded around calls into the
program's public functions; Spark-side counts come from the status store,
which is live with the UI off.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

#: The per-layer metric a span's self time counts towards.
LAYER_OF_SPAN = {
    "pass": "harness.self_s",
    "query": "harness.self_s",
    "build": "plans.build_s",
    "load_table": "sources.s",
    "plan": "catalyst.plan_s",
    "exec": "exec.s",
    "release": "cache.release_s",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    query: str


@dataclass
class Tracer:
    """In-memory span recorder. With ``enabled`` false every ``span`` is a
    no-op, so the untraced run pays one attribute test per call."""

    enabled: bool
    run: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, query: str = ""):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run, query))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per layer metric over the subtree of span ``root``; the
        values sum to that span's duration."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            i = todo.pop()
            s = self.spans[i]
            kids = children.get(i, [])
            own = (s.end - s.start) - sum(self.spans[k].end - self.spans[k].start for k in kids)
            layer = LAYER_OF_SPAN[s.name]
            out[layer] = out.get(layer, 0.0) + own
            todo.extend(kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            fh.write("name\tstart\tend\tparent\trun\tquery\n")
            for s in self.spans:
                fh.write(f"{s.name}\t{s.start:.6f}\t{s.end:.6f}\t{s.parent}\t{s.run}\t{s.query}\n")


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

STAGE_COUNTERS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.failed_tasks",
    "sources.input_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes",
)


def drain_listener_bus(spark) -> None:
    """Wait until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def group_counters(spark, groups: list[str]) -> dict[str, float]:
    """Sum job, stage and task counters over the jobs of ``groups``.

    Job and stage ids come from ``statusTracker()``; run time, bytes and
    spill from the status store's stage data. Stages skipped because their
    shuffle output was reused ran no task and are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    empty_list = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    out = dict.fromkeys(STAGE_COUNTERS, 0.0)
    seen: set[int] = set()
    for g in groups:
        for job in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            out["exec.jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, empty_list, False, no_quantiles)
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    done = sd.numCompleteTasks()
                    if done == 0 and sd.numFailedTasks() == 0:
                        continue
                    out["exec.stages"] += 1
                    out["exec.tasks"] += done
                    out["exec.failed_tasks"] += sd.numFailedTasks()
                    out["exec.task_s"] += sd.executorRunTime() / 1000.0
                    out["sources.input_bytes"] += sd.inputBytes()
                    out["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


# ---------------------------------------------------------------------------
# Process memory and host health
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed resident memory of this process's descendants
    (the JVM and the Python workers it forks) and keeps the peak."""

    def __init__(self, every_s: float = 0.1):
        self.every_s = every_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.every_s):
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in descendants(me)))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total else 0.0


def process_start_epoch() -> float:
    """Wall-clock time this process was started (kernel bookkeeping)."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")
