"""Measurement from outside the engine: the process tree in /proc, Spark's
REST status endpoint on the driver's local UI, and in-memory spans."""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after "(comm)": state is [0], ppid [1], utime [11] .. cstime [14]
    return s[s.rfind(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the Spark JVM, its Python
    daemon and workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the tree, counting reaped children
    (exited Python workers) through their parents' cutime/cstime."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def cpu_times() -> list[int]:
    """Host-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time a hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def tree_peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak resident set."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])  # KiB
        except OSError:
            pass
    return total * 1024 / 1e6


class Spans:
    """Spans kept in memory: name, start, end and parent index."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.records.append(rec)
        self._open.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def self_time(self, i: int) -> float:
        """Duration minus the part of it covered by child spans."""
        r = self.records[i]
        covered, last = 0.0, r["start"]
        kids = sorted(
            (c["start"], c["end"]) for c in self.records if c["parent"] == i
        )
        for s, e in kids:
            s = max(s, last)
            if e > s:
                covered += e - s
                last = e
        return r["end"] - r["start"] - covered


class SparkRest:
    """Reads job and stage statistics from the driver's local UI."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settled_jobs(self, timeout_s: float = 30.0) -> list:
        """All jobs, once the status store has caught up with the
        listener bus: none running and two reads in a row agree."""
        deadline = time.time() + timeout_s
        prev = None
        while True:
            jobs = self.get("jobs")
            done = all(j["status"] != "RUNNING" for j in jobs)
            key = [(j["jobId"], j["status"]) for j in jobs]
            if done and key == prev:
                return jobs
            if time.time() > deadline:
                raise TimeoutError("Spark status store did not settle")
            prev = key
            time.sleep(0.2)

    def stages(self) -> dict[int, dict]:
        return {s["stageId"]: s for s in self.get("stages?status=complete")}
