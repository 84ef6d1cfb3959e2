"""In-memory spans, self times, process-tree CPU and Spark stage metrics.

Spans are recorded from the benchmark's own files, around calls into the
program's layer-boundary functions; nothing inside the program is edited.
"""

from __future__ import annotations

import bisect
import json
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


class Spans:
    """Flat span store: name, start, end, parent index, request id, counts.

    ``open``/``close`` nest through a stack, so a span's parent is the span
    open when it started. A span opened with an empty stack starts a new
    request."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._stack: list[int] = []
        self._request = -1

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._request += 1
        i = len(self.rows)
        self.rows.append({"name": name, "start": time.perf_counter(), "end": None,
                          "parent": parent, "request": self._request})
        self._stack.append(i)
        return i

    def close(self, i: int, **counts) -> None:
        self.rows[i]["end"] = time.perf_counter()
        if counts:
            self.rows[i].update(counts)
        self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int) -> int:
        """Record a child span measured elsewhere (e.g. a Spark stage)."""
        self.rows.append({"name": name, "start": start, "end": end, "parent": parent,
                          "request": self.rows[parent]["request"]})
        return len(self.rows) - 1


def merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """The union of ``intervals`` as sorted, disjoint, non-empty intervals."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        elif e > s:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    return sum(e - s for s, e in merge([(max(s, start), min(e, end)) for s, e in intervals]))


def self_times(rows: list[dict]) -> list[float]:
    """Per span: its duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for r in rows:
        if r["parent"] is not None:
            children.setdefault(r["parent"], []).append((r["start"], r["end"]))
    return [
        (r["end"] - r["start"]) - covered(r["start"], r["end"], children.get(i, []))
        for i, r in enumerate(rows)
    ]


def write_trace(path: str, rows: list[dict]) -> None:
    """One JSON span per line, each with its self time."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    selfs = self_times(rows)
    with open(path, "w") as f:
        for r, s in zip(rows, selfs):
            f.write(json.dumps({**r, "self": s}) + "\n")


# -- process-tree CPU --------------------------------------------------------

def _stat(pid: str) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime ticks) from /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, children that
    already exited included (they are folded into their parent's cutime)."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo.extend(kids.get(pid, []))
    return total / _TICK


class CpuSampler:
    """Samples ``tree_cpu_s`` on a thread so CPU over any interval inside the
    sampled window can be read back, including intervals (Spark stages)
    only known after the fact."""

    def __init__(self, root: int, period: float = 0.1) -> None:
        self.root, self.period = root, period
        self.t: list[float] = []
        self.cpu: list[float] = []
        self.busy_s = 0.0  # the sampler's own cost
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        t0 = time.perf_counter()
        c = tree_cpu_s(self.root)
        t1 = time.perf_counter()
        self.t.append((t0 + t1) / 2)
        self.cpu.append(c)
        self.busy_s += t1 - t0

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> "CpuSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def at(self, t: float) -> float:
        """Tree CPU seconds at perf_counter time ``t`` (linear interpolation)."""
        i = bisect.bisect_left(self.t, t)
        if i <= 0:
            return self.cpu[0]
        if i >= len(self.t):
            return self.cpu[-1]
        t0, t1 = self.t[i - 1], self.t[i]
        return self.cpu[i - 1] + (self.cpu[i] - self.cpu[i - 1]) * (t - t0) / (t1 - t0)

    def between(self, start: float, end: float) -> float:
        return self.at(end) - self.at(start)


# -- Spark stage metrics -------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def stage_metrics(spark, groups: list[str]) -> dict[str, list[dict]]:
    """Completed-stage metrics of every job in each job group, read from the
    status store (works with the UI off). Times are epoch seconds."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    group_of: dict[int, str] = {}
    for g in groups:
        for job in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(job)
            if info is not None:
                group_of.update((int(s), g) for s in info.stageIds)
    out: dict[str, list[dict]] = {g: [] for g in groups}
    stages = jsc.statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None
    )
    for sd in (stages.apply(i) for i in range(stages.size())):
        g = group_of.get(sd.stageId())
        if g is None or str(sd.status()) != "COMPLETE":
            continue
        out[g].append({
            "stage": sd.stageId(),
            "submitted": _opt_ms(sd.submissionTime()),
            "completed": _opt_ms(sd.completionTime()),
            "jvm_cpu_s": sd.executorCpuTime() / 1e9,
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_write_records": sd.shuffleWriteRecords(),
            "shuffle_read_bytes": sd.shuffleLocalBytesRead() + sd.shuffleRemoteBytesRead(),
            "spill_bytes": sd.memoryBytesSpilled(),
            "output_records": sd.outputRecords(),
            "output_bytes": sd.outputBytes(),
        })
    return out
