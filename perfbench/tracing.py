"""Measurement helpers: job-group spans, the status-store harvest, and the
process-tree RSS sampler.

A span wraps one call into a program layer. It tags every job the calling
thread submits with its own Spark job group (``setJobGroup``), then reads
the group's jobs and stages back from the JVM status store
(``sc._jsc.sc().statusStore()``), which works with the web UI disabled.
Jobs submitted from other threads carry no group; those whose submission
falls inside a span are counted as unattributed instead of being dropped.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

# fields reported for every traced layer call
SPAN_FIELDS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("shuffle_mb", "MB"),
    ("no_job_s", "s"),
)

_GROUP_PREFIX = "perfbench:"


def _opt(option):
    """Scala ``Option`` → Python value (None when empty)."""
    return option.get() if option.isDefined() else None


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class JobTracer:
    """Spans over program calls, attributed by Spark job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: dict | None = None

    def switch(self, name: str | None) -> None:
        """Close the open span, if any, and open ``name`` (None: none).
        Spans do not nest: opening one closes the one before."""
        now = time.time()
        if self._open is not None:
            self._open["end"] = now
            self.spans.append(self._open)
            self._open = None
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            return
        group = f"{_GROUP_PREFIX}{len(self.spans)}:{name}"
        self.sc.setJobGroup(group, name)
        self._open = {"name": name, "group": group, "start": now}

    @contextmanager
    def span(self, name: str):
        """Run the body under a job group of its own."""
        self.switch(name)
        try:
            yield
        finally:
            self.switch(None)

    def _jobs(self) -> list[dict]:
        store = self.sc._jsc.sc().statusStore()
        jobs = []
        listed = store.jobsList(None)  # a Scala Seq
        for jd in (listed.apply(i) for i in range(listed.length())):
            submitted = _opt(jd.submissionTime())
            completed = _opt(jd.completionTime())
            if submitted is None:
                continue
            stage_ids = jd.stageIds()
            jobs.append({
                "group": _opt(jd.jobGroup()),
                "start": submitted.getTime() / 1000.0,
                "end": (completed.getTime() / 1000.0 if completed is not None
                        else time.time()),
                "tasks": jd.numCompletedTasks(),
                "stages": [stage_ids.apply(i)
                           for i in range(stage_ids.length())],
            })
        return jobs

    def _stage(self, store, stage_id: int) -> dict | None:
        from py4j.protocol import Py4JJavaError
        try:
            sd = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # the stage was skipped or never attempted
            return None
        return {"run_s": sd.executorRunTime() / 1000.0,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "shuffle_mb": sd.shuffleWriteBytes() / 2 ** 20}

    def harvest(self) -> tuple[dict[str, dict], int]:
        """Per-span metrics keyed by span name, plus the number of jobs with
        no group of ours submitted while a span was open."""
        store = self.sc._jsc.sc().statusStore()
        jobs = self._jobs()
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j["group"], []).append(j)
        stage_cache: dict[int, dict | None] = {}
        out: dict[str, dict] = {}
        for sp in self.spans:
            mine = by_group.get(sp["group"], [])
            stages = {s for j in mine for s in j["stages"]}
            for s in stages - stage_cache.keys():
                stage_cache[s] = self._stage(store, s)
            stats = [stage_cache[s] for s in stages
                     if stage_cache[s] is not None]
            wall = sp["end"] - sp["start"]
            busy = _covered([(j["start"], j["end"]) for j in mine],
                            sp["start"], sp["end"])
            out[sp["name"]] = {
                "wall_s": wall,
                "jobs": len(mine),
                "tasks": sum(j["tasks"] for j in mine),
                "executor_run_s": sum(s["run_s"] for s in stats),
                "executor_cpu_s": sum(s["cpu_s"] for s in stats),
                "shuffle_mb": sum(s["shuffle_mb"] for s in stats),
                "no_job_s": max(0.0, wall - busy),
            }
        unattributed = sum(
            1 for j in jobs
            if not (j["group"] or "").startswith(_GROUP_PREFIX)
            and any(sp["start"] <= j["start"] <= sp["end"]
                    for sp in self.spans))
        return out, unattributed


def _processes() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, start time) for every live process (zombies,
    which have ended, are left out)."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: the fields follow the ')'
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            procs[int(entry)] = (int(fields[1]), int(fields[19]))
    return procs


def process_tree(root: int) -> dict[int, int]:
    """``root`` and every live descendant (driver, JVM, Python workers),
    each with its start time, which tells a process from a later one that
    reuses its pid."""
    procs = _processes()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in tree:
            tree[pid] = procs[pid][1]
            todo.extend(kids.get(pid, []))
    return tree


def still_running(procs: dict[int, int]) -> list[int]:
    """The pids of ``procs`` (pid → start time) whose process still runs."""
    live = _processes()
    return [p for p, start in procs.items()
            if p in live and live[p][1] == start]


def _hwm_kb(pid: int) -> int:
    """The process's peak resident set size (``VmHWM``), 0 once gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak RSS of this process tree: the sum over every process seen of
    its high-water mark (``VmHWM``), polled from ``/proc`` on a background
    thread while the ``with`` block runs, and once more at its end. Summing
    per-process peaks does not depend on when a poll lands, as sampling the
    summed RSS would, so a slow poll is enough: it only has to see each
    process once before the process exits."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.hwm_kb: dict[int, int] = {}
        self.procs: dict[int, int] = {}   # every process seen: pid → start
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _poll(self) -> None:
        tree = process_tree(os.getpid())
        self.procs.update(tree)
        for pid in tree:
            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), _hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._poll()

    def __enter__(self) -> "RssSampler":
        self._poll()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._poll()

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0
