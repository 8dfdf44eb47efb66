"""Tracing and sampling for the benchmark, kept in the benchmark's files.

* :class:`Tracer` — spans (name, start, end, parent, op id) kept in memory
  and written out when the run ends.
* :func:`install_dbscan_wrappers` — wraps the names ``dbscan_spark.dbscan``
  binds (``find_partitions``, ``margins``, ``assign_global_ids``) so a fit
  records partitioner and graph spans and keeps their inputs and outputs
  for the per-layer counts. Nothing under ``dbscan_spark/`` is edited.
* :class:`RssSampler` — peak resident memory summed over this process and
  every descendant (the JVM and its Python workers), read from ``/proc``.
* :func:`scheduler_counts` — jobs, stages and tasks of one Spark job group,
  read back from ``statusTracker()``.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, op: int | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, default=str)


def install_dbscan_wrappers(tracer: Tracer) -> tuple[dict, callable]:
    """Wrap the partitioner and graph entry points as bound in
    ``dbscan_spark.dbscan``. Returns (captured, uninstall): ``captured``
    holds the last fit's histogram, partitions, margins and graph sizes."""
    # the package re-exports the function ``dbscan``, which shadows the
    # submodule as an attribute, so fetch the module itself
    mod = importlib.import_module("dbscan_spark.dbscan")

    captured: dict = {}
    originals = {
        n: getattr(mod, n) for n in ("find_partitions", "margins", "assign_global_ids")
    }

    def find_partitions(cells, max_points, size):
        with tracer.span("partitioner.find_partitions"):
            parts = originals["find_partitions"](cells, max_points, size)
        captured.update(hist=dict(cells), parts=parts, max_points=max_points, size=size)
        return parts

    def margins(parts, eps):
        with tracer.span("partitioner.margins"):
            out = originals["margins"](parts, eps)
        captured["margins"] = out
        return out

    def assign_global_ids(local_ids, edges):
        local_ids, edges = list(local_ids), list(edges)
        with tracer.span("graph.assign_global_ids"):
            out = originals["assign_global_ids"](local_ids, edges)
        captured.update(local_clusters=len(local_ids), edges=len(edges))
        return out

    mod.find_partitions = find_partitions
    mod.margins = margins
    mod.assign_global_ids = assign_global_ids

    def uninstall() -> None:
        for n, f in originals.items():
            setattr(mod, n, f)

    return captured, uninstall


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
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> dict[str, int]:
    """RSS of ``root`` and its descendants, summed per command name."""
    page = os.sysconf("SC_PAGE_SIZE")
    by_comm: dict[str, int] = {}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        by_comm[comm] = by_comm.get(comm, 0) + rss
    return by_comm


class RssSampler:
    """Samples the process tree's RSS on a daemon thread: ``peak`` is the
    peak of the sum, ``peak_python`` the peak of the sum without the JVM,
    ``peak_by_comm`` each command name's own peak."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self.peak_python = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        by_comm = tree_rss_bytes(os.getpid())
        total = sum(by_comm.values())
        self.peak = max(self.peak, total)
        self.peak_python = max(self.peak_python, total - by_comm.get("java", 0))
        for comm, rss in by_comm.items():
            self.peak_by_comm[comm] = max(self.peak_by_comm.get(comm, 0), rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def busy_cpu_seconds() -> float:
    """CPU time the whole machine spent busy (user, nice, system, irq,
    softirq; not idle, iowait or steal), from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:8]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / os.sysconf("SC_CLK_TCK")


def scheduler_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return jobs, stages, tasks
