"""Measurements taken from outside the engine: /proc process accounting,
Spark's status tracker under a benchmark job group, file sizes on disk,
run conditions, and spans kept in memory by the benchmark itself."""

from __future__ import annotations

import hashlib
import os
import platform
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

# later performance claims must also hold on this seed, which is never
# used while a change is being written
HELD_OUT_SEED = 9973


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # fields after the ")" that closes the command name; index 0 is field 3
    return raw.rsplit(")", 1)[1].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids[int(f[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree under ``root``, children that have
    exited and been reaped included (cutime/cstime)."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class PeakRss:
    """Peak RSS of the process under ``root`` (the JVM), of its Python
    descendants (the workers) and of their sum, sampled every 50 ms on a
    background thread between ``start()`` and ``stop()``. Other
    descendants are left out: a child the JVM has just forked to run a
    shell command reports the JVM's whole RSS until it execs."""

    def __init__(self, root: int):
        self.root = root
        self.peak = {"total": 0.0, "root": 0.0, "children": 0.0}
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        n = 0
        while not self._done.wait(0.05):
            if n % 20 == 0:  # a full /proc scan finds new workers once a second
                pids = [self.root, *filter(_is_python, process_tree(self.root)[1:])]
            n += 1
            mb = {}
            for pid in pids:
                f = _stat_fields(pid)
                if f is not None:
                    mb[pid] = int(f[21]) * _PAGE / 2**20
            root = mb.pop(self.root, 0.0)
            children = sum(mb.values())
            for k, v in (("total", root + children), ("root", root),
                         ("children", children)):
                self.peak[k] = max(self.peak[k], v)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> dict:
        self._done.set()
        self._thread.join(timeout=5)
        return self.peak


class JobCounter:
    """Jobs, stages, tasks and failed tasks of one engine call, read from
    Spark's status tracker under a job group set just before the call."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.n = 0

    def begin(self) -> str:
        self.n += 1
        group = f"perfbench-{self.n}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                st = self.tracker.getStageInfo(s)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped (reused shuffle output) or not retained
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def host_cpu_times() -> list[int]:
    """Host-wide CPU times from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``host_cpu_times`` readings: how contended the host was."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(1, sum(d))


def host_loop_rate(seconds: float = 0.25) -> float:
    """Passes per second of a fixed pure-Python loop on one core. The
    host's speed moves by up to 2x with little CPU steal (a busy
    neighbour on the same physical core), and every timing of a run
    moves with it; this records which speed a run met."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(10_000):
            pass
        n += 1
    return n / (time.perf_counter() - t0)


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def other_spark_jvms() -> int:
    """Spark JVMs already running on the host, seen before ours starts."""
    n = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            n += 1
    return n


def _git_head(root: str) -> str | None:
    """The checkout's commit, or None outside a git work tree (then
    ``source_sha256`` alone identifies the code)."""
    import subprocess

    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "--git-dir", os.path.join(root, ".git"),
                        "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def source_sha256(root: str, dirs: tuple[str, ...]) -> str:
    h = hashlib.sha256()
    for d in dirs:
        for base, subdirs, names in sorted(os.walk(os.path.join(root, d))):
            subdirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    p = os.path.join(base, n)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def run_conditions(root: str, seed: int) -> dict:
    import pyspark

    return {
        "git_commit": _git_head(root),
        "source_sha256": source_sha256(root, ("torchtrajectory_spark", "perfbench")),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m_start": loadavg_1m(),
        "host_loop_rate_start": host_loop_rate(),
        "other_spark_jvms_at_start": other_spark_jvms(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "seed": seed,
        "held_out_seed": HELD_OUT_SEED,
    }


class Tracer:
    """Spans kept in memory: name, start, end, parent, request id and
    counters. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "request": request or (parent["request"] if parent else None),
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
