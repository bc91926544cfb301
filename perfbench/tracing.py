"""Measurement from outside the engine: process-tree CPU and memory from
``/proc``, Spark's REST status counters, and an in-memory span recorder.

Nothing here reaches into the engine's modules; every number comes from
the operating system or from Spark's own status API.
"""

from __future__ import annotations

import ctypes
import json
import os
import signal
import threading
import time
import urllib.request
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(rest[1]), sum(int(x) for x in rest[11:15]) / _TICK


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def become_subreaper() -> None:
    """Have orphaned descendants (a JVM whose Python parent has exited, and
    the Python worker daemon, which leaves the JVM's process group) reparent
    to this process, so ``kill_descendants`` can find and reap them."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def kill_descendants(timeout_s: float = 30) -> None:
    """SIGKILL every descendant of this process, reap the ones that became
    its children, and wait until every one of them has ended."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        live = [p for p in tree(me) if p != me and alive(p)]
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        if not live and not [p for p in tree(me) if p != me]:
            return
        time.sleep(0.05)


def tree(root: int) -> dict[int, float]:
    """CPU seconds of ``root`` and every live descendant, by pid."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    return sum(tree(root).values())


class PeakRss:
    """Highest summed proportional resident memory (PSS) of a process tree,
    sampled by a background thread until ``stop``. PSS splits pages shared
    between forked Python workers among them, so the total does not depend
    on how many idle workers happen to be alive."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.peak_mb = 0.0
        self._root, self._interval = root, interval_s
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> float:
        kb = 0
        for pid in tree(self._root):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return kb / 1024

    def _loop(self) -> None:
        while not self._done.wait(self._interval):
            self.peak_mb = max(self.peak_mb, self._sample())

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, self._sample())
        return self.peak_mb


def host_probe_ms() -> float:
    """A fixed single-thread loop; its time tracks host speed, not the engine."""
    t = time.perf_counter()
    x = 0
    for i in range(200_000):
        x += i
    return (time.perf_counter() - t) * 1e3


class Rest:
    """Spark's REST status API for the running application."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._base = f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def drain(self) -> None:
        """Wait until the status store has seen every event posted so far."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict:
        """Jobs and completed-stage counters of one job group."""
        self.drain()
        jobs = [j for j in self.get("jobs") if j.get("jobGroup") == group]
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.get("stages?status=complete") if s["stageId"] in ids]
        return {
            "jobs": len(jobs),
            "checkpoint_jobs": sum("heckpoint" in j["name"].split(" at ")[0] for j in jobs),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "exec_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "exec_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "input_bytes": sum(s["inputBytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_records": sum(s["shuffleWriteRecords"] for s in stages),
        }

    def gc_s(self) -> float:
        self.drain()
        return sum(e["totalGCTime"] for e in self.get("executors")) / 1e3


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory, plus the
    job-group counters and process-tree CPU of each traced call.

    Disabled, ``call`` only runs its body: untraced passes pay nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seq = 0
        self._spark = spark
        self.rest = Rest(spark) if enabled else None

    def span(self, name: str, start: float, end: float) -> None:
        """Record a span timed by the caller (work done before the session)."""
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": self._stack[-1] if self._stack else None,
                               "run": self.run_id})

    @contextmanager
    def call(self, name: str):
        """Time one call into a layer; fill the yielded dict on exit."""
        rec: dict = {}
        if not self.enabled:
            yield rec
            return
        self._seq += 1
        group = f"{name}#{self._seq}"
        sc = self._spark.sparkContext
        sc.setJobGroup(group, name)
        idx = len(self.spans)
        self.spans.append({"name": name, "parent": self._stack[-1] if self._stack else None,
                           "run": self.run_id, "group": group})
        self._stack.append(idx)
        cpu0 = tree_cpu_s(os.getpid())
        start = time.monotonic()
        try:
            yield rec
        finally:
            end = time.monotonic()
            cpu1 = tree_cpu_s(os.getpid())
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans[idx].update(start=start, end=end)
        rec.update(self.rest.group(group), wall_s=end - start, cpu_s=cpu1 - cpu0)
        self.spans[idx]["counters"] = dict(rec)

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                for s in self.spans:
                    f.write(json.dumps(s) + "\n")
