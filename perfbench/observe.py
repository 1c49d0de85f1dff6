"""Observers that read the program from outside: Spark job ids from the
status tracker, per-job task/shuffle/spill counts from the event log,
and the resident memory of the driver process tree from ``/proc``."""

from __future__ import annotations

import json
import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


class JobIds:
    """Spark job ids started since the previous ``delta()`` call. The
    benchmark never sets a job group, so every job of the session,
    including those the crawl's commit threads launch, is listed under
    the ungrouped id set."""

    def __init__(self, sc):
        self._tracker = sc.statusTracker()
        self._seen = set(self._tracker.getJobIdsForGroup())

    def delta(self) -> list[int]:
        now = set(self._tracker.getJobIdsForGroup())
        new = sorted(now - self._seen)
        self._seen |= now
        return new


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-job totals from a finished Spark event log: tasks run, tasks
    failed, shuffle bytes written and bytes spilled to disk. A stage is
    charged to the first job that lists it, the one that ran it (later
    jobs skip a stage whose shuffle output exists)."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files)
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    jid = ev["Job ID"]
                    jobs[jid] = {"tasks": 0, "failed_tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    job["tasks"] += 1
                    if ev["Task Info"].get("Failed"):
                        job["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    job["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return jobs


def job_totals(per_job: dict[int, dict], job_ids: list[int]) -> dict:
    keys = ("tasks", "failed_tasks", "shuffle_bytes", "spill_bytes")
    out = {k: 0 for k in keys}
    for jid in job_ids:
        for k in keys:
            out[k] += per_job.get(jid, {}).get(k, 0)
    out["jobs"] = len(job_ids)
    return out


def _stat(pid: str) -> tuple[int, int] | None:
    """(ppid, rss bytes) of one process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), int(fields[21]) * _PAGE


def tree_rss(root: int) -> tuple[int, int]:
    """Resident bytes of ``root`` and all its descendants (the Python
    driver, the Spark JVM it launched and the Python workers) and the
    number of those processes."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                procs[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, n, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            total += procs[pid][1]
            n += 1
        todo.extend(children.get(pid, []))
    return total, n


class PeakRss:
    """Samples ``tree_rss`` of this process every ``interval`` seconds
    on a background thread; ``stop`` joins it and returns the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.max_procs = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def _run(self) -> None:
        root = os.getpid()
        while True:
            rss, n = tree_rss(root)
            self.peak = max(self.peak, rss)
            self.max_procs = max(self.max_procs, n)
            if self._halt.wait(self.interval):
                return

    def stop(self) -> int:
        self._halt.set()
        self._thread.join(timeout=10)
        return self.peak
