"""Measurement probes that sit outside the program under test.

- ``RssSampler``: peak resident memory of a process tree (the Spark JVM
  plus the Python workers it forks), sampled from ``/proc``.
- ``Tally``: wraps a module attribute (a public function of an
  ``extraction`` module) so every call is counted and timed; restores
  the original on exit.
- ``SparkRest``: reads stage/job metrics from the live session's REST API
  (``{uiWebUrl}/api/v1/applications/{appId}/...``) and attributes them to
  a measured leg by the leg's wall-clock window.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from datetime import datetime, timezone

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited
        return None


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat is None:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root_pid: int) -> tuple[float, float, int]:
    """Resident set (MB) of ``root_pid``, the summed resident set (MB) of its
    Python descendants, and their count.

    Only descendants whose command is Python count: the JVM also forks
    short-lived helpers (Hadoop's local file system shells out for file
    permissions), and a fork reports its parent's whole resident set until
    it execs, which would count the JVM twice.
    """
    kids = children_map()
    root = _read(f"/proc/{root_pid}/statm")
    todo, kb, n = list(kids.get(root_pid, ())), 0, 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        comm, statm = _read(f"/proc/{pid}/comm"), _read(f"/proc/{pid}/statm")
        if comm and statm and comm.startswith("python"):
            kb += int(statm.split()[1]) * PAGE_KB
            n += 1
    root_kb = int(root.split()[1]) * PAGE_KB if root else 0
    return root_kb / 1024.0, kb / 1024.0, n


class RssSampler:
    """Background sampler of ``tree_rss_mb``: ``peak_mb`` is the highest
    summed resident set seen, ``at_peak`` its (root MB, Python descendants
    MB, their count)."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.at_peak = (0.0, 0.0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            sample = tree_rss_mb(self.root_pid)
            if sample[0] + sample[1] > self.peak_mb:
                self.peak_mb, self.at_peak = sample[0] + sample[1], sample
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tally:
    """Count and time calls to ``module.<name>`` while the context is open.

    The wrapper replaces the module attribute, so it sees exactly the
    calls that resolve the name through that module at call time (the
    program's own intra-module calls and ``from x import name`` bindings
    in that module). Driver-side only: Spark's Python workers import the
    modules fresh and never see it.
    """

    def __init__(self, module, name: str):
        self.module, self.name = module, name
        self.calls = 0
        self.seconds = 0.0
        self._orig = getattr(module, name)

    def __enter__(self) -> "Tally":
        orig = self._orig

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1

        setattr(self.module, self.name, timed)
        return self

    def __exit__(self, *exc) -> None:
        setattr(self.module, self.name, self._orig)


def _epoch_ms(stamp: str) -> float:
    # REST timestamps look like 2026-10-17T03:17:00.530GMT
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


class SparkRest:
    """Stage/job metrics of the live application, attributed by time window.

    ``snapshot`` fetches every completed stage and every job once; the
    ``*_in`` filters then attribute them to a leg by submission time.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.stages: list[dict] = []
        self.jobs: list[dict] = []

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def snapshot(self, timeout_s: float = 10.0) -> None:
        """Fetch jobs and completed stages once no job is still running
        (the REST view trails the scheduler by a listener-bus hop)."""
        deadline = time.monotonic() + timeout_s
        while True:
            self.jobs = self.get("jobs")
            if time.monotonic() > deadline or all(
                j["status"] != "RUNNING" for j in self.jobs
            ):
                break
            time.sleep(0.2)
        self.stages = self.get("stages?status=complete")

    @staticmethod
    def _within(items: list[dict], window: tuple[float, float]) -> list[dict]:
        lo, hi = window
        return [
            x
            for x in items
            if "submissionTime" in x and lo <= _epoch_ms(x["submissionTime"]) <= hi
        ]

    def stages_in(self, window: tuple[float, float]) -> list[dict]:
        """Completed stages submitted inside ``window`` (epoch ms)."""
        return self._within(self.stages, window)

    def jobs_in(self, window: tuple[float, float]) -> list[dict]:
        return self._within(self.jobs, window)

    def task_skew(self, stage: dict) -> float:
        """max ÷ median task run time of one stage."""
        q = self.get(
            f"stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        med, top = q["executorRunTime"]
        return top / max(med, 1.0)


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Summed task metrics over ``stages`` (seconds / bytes / rows)."""
    return {
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spill_bytes": sum(
            s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
        ),
        "input_records": sum(s["inputRecords"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
    }
