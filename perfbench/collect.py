"""Measurements taken from outside the program: Spark's job and stage
records per job group, process-tree memory, and the host-noise record."""

from __future__ import annotations

import os
import threading
import time

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    # metric name -> (StageData accessor, scale to the reported unit)
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_write_records": ("shuffleWriteRecords", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


class SparkCollector:
    """Reads the status store after the timed window.  Works with the UI
    off; the session must retain enough jobs and stages
    (``spark.ui.retainedJobs`` / ``retainedStages``) for the whole run."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self._stages: "dict[int, dict[str, float] | None]" = {}

    def jobs(self, group: str) -> "list[int]":
        return list(self.tracker.getJobIdsForGroup(group))

    def stage(self, stage_id: int) -> "dict[str, float] | None":
        """Metrics of an executed stage; None for a skipped or evicted one."""
        if stage_id not in self._stages:
            try:
                data = self.store.lastStageAttempt(stage_id)
            except Py4JJavaError:
                data = None  # evicted or never submitted
            if data is None or data.status().toString() == "SKIPPED":
                self._stages[stage_id] = None
            else:
                metrics = {"tasks": data.numTasks()}
                for key, (accessor, scale) in STAGE_FIELDS.items():
                    metrics[key] = getattr(data, accessor)() * scale
                self._stages[stage_id] = metrics
        return self._stages[stage_id]

    def totals(self, groups: "list[str]") -> "dict[str, float]":
        """Jobs, executed stages, tasks and summed stage metrics over the
        jobs of ``groups``.  Skipped stages (reused shuffle output) are
        not counted."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0 for k in STAGE_FIELDS}}
        seen: set[int] = set()
        for group in groups:
            for job_id in self.jobs(group):
                out["jobs"] += 1
                info = self.tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info is not None else []):
                    metrics = None if stage_id in seen else self.stage(stage_id)
                    seen.add(stage_id)
                    if metrics is not None:
                        out["stages"] += 1
                        for key, value in metrics.items():
                            out[key] += value
        return out


def _proc_tree() -> "tuple[dict[int, list[int]], dict[int, str]]":
    """(children per pid, command name per pid) for every process."""
    children: dict[int, list[int]] = {}
    comms: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                comm, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(int(rest.split()[1]), []).append(int(entry))
        comms[int(entry)] = comm
    return children, comms


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among the
    processes sharing them, so a freshly forked child is not counted as a
    second copy of its parent."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def descendants(root_pid: int) -> "list[int]":
    children, _ = _proc_tree()
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss(root_pid: int) -> "dict[str, int]":
    """Resident bytes (as PSS) per command name over ``root_pid`` and its
    descendants."""
    children, comms = _proc_tree()
    out: dict[str, int] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        comm = comms.get(pid, "?")
        out[comm] = out.get(comm, 0) + _pss_bytes(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Samples the process tree's resident memory on a background thread
    between ``start`` and ``stop``; ``peak`` is the largest sample and
    ``peak_by_command`` its split by process command name."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_command: "dict[str, int]" = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            sample = tree_rss(pid)
            if sum(sample.values()) > self.peak:
                self.peak, self.peak_by_command = sum(sample.values()), sample
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


def cpu_ticks() -> "tuple[int, int]":
    """(steal, total) jiffies from /proc/stat: contention from other tenants
    of a shared host shows up as steal even when this container is idle."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def calibrate_host() -> float:
    """Seconds for a fixed single-thread pure-Python loop: a hardware-speed
    probe, so a run can be read against the host window it ran in."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i
    return time.perf_counter() - t0
