"""Outside-in measurement helpers: spans, process-tree CPU/RSS, Spark event
log parsing and stage-manifest reading.

Nothing here reaches into the package under test. Spans wrap calls into its
public functions, CPU and memory come from /proc for the benchmark's own
process tree (driver, JVM, Python workers), and per-job Spark metrics come
from the event log Spark writes when ``spark.eventLog.enabled`` is set.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


# --- process tree ----------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the ")" that closes the command name, numbered from 3
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """root and all of its live descendants."""
    root = root or os.getpid()
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children[int(st[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU of the tree, including reaped children (cutime/cstime),
    so Python workers that exited inside a span still count."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _statm(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return f.read().split()
    except OSError:
        return None


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the tree. A child caught between vfork and exec
    (the JVM shelling out) shares its parent's address space and reports
    the parent's exact statm; it is skipped rather than counted twice."""
    total = 0
    for pid in tree_pids(root):
        st, own = _stat(pid), _statm(pid)
        if st is None or own is None or own == _statm(int(st[1])):
            continue
        total += int(own[1])
    return total * _PAGE / MB


class RssSampler:
    """Peak resident memory of the process tree, sampled on a thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self.peak = tree_rss_mb()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb())


# --- spans -----------------------------------------------------------------


class Spans:
    """In-memory span recorder; ``write`` dumps them once at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "cpu_start": tree_cpu_s(),
        }
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["cpu_s"] = tree_cpu_s() - rec.pop("cpu_start")
            self.records.append(rec)

    def get(self, name: str) -> dict:
        return next(r for r in self.records if r["name"] == name)

    def wall(self, name: str) -> float:
        rec = self.get(name)
        return rec["end"] - rec["start"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.records, key=lambda r: r["start"]), f, indent=1)


@contextmanager
def job_group(spark, name: str):
    """Tag every Spark job the calling thread submits with ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# --- event log -------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class EventLog:
    """Jobs and per-stage task totals from one Spark application's log."""

    def __init__(self, path: str):
        self.jobs: list[dict] = []
        stage_job: dict[int, int] = {}
        self.stage_totals: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "id": ev["Job ID"],
                        "group": props.get("spark.jobGroup.id"),
                        "submitted": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    }
                    self.jobs.append(job)
                    for sid in job["stages"]:
                        stage_job.setdefault(sid, job["id"])
                elif kind == "SparkListenerTaskEnd":
                    self._add_task(ev)
        # a skipped stage is listed by later jobs too; it ran in the first
        self.job_stages: dict[int, list[int]] = defaultdict(list)
        for sid, jid in stage_job.items():
            self.job_stages[jid].append(sid)

    def _add_task(self, ev: dict) -> None:
        t = self.stage_totals[ev["Stage ID"]]
        m = ev.get("Task Metrics") or {}
        t["tasks"] += 1
        t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["run_s"] += m.get("Executor Run Time", 0) / 1e3
        t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
        sw = m.get("Shuffle Write Metrics") or {}
        t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        sr = m.get("Shuffle Read Metrics") or {}
        t["shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name = acc.get("Name")
            if name in (PY_SENT, PY_RECV):
                key = "py_sent_mb" if name == PY_SENT else "py_recv_mb"
                t[key] += float(acc.get("Update") or 0) / MB

    def totals(self, jobs: list[dict]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for job in jobs:
            for sid in self.job_stages.get(job["id"], ()):
                for k, v in self.stage_totals.get(sid, {}).items():
                    out[k] += v
        out["jobs"] = float(len(jobs))
        return out

    def group(self, name: str) -> dict[str, float]:
        return self.totals([j for j in self.jobs if j["group"] == name])

    def window(self, start: float, end: float) -> dict[str, float]:
        return self.totals([j for j in self.jobs if start <= j["submitted"] <= end])


def find_event_log(log_dir: str) -> str:
    logs = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


# --- stage manifests -------------------------------------------------------


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / MB


def stage_report(workdir: str, call_start: float) -> dict[str, dict]:
    """Per-stage rows, completion offset and checkpoint size, read from the
    ``<stage>/manifest.json`` files and data dirs the pipeline writes."""
    out = {}
    for stage in sorted(os.listdir(workdir)):
        mf = os.path.join(workdir, stage, "manifest.json")
        if not os.path.exists(mf):
            continue
        with open(mf) as f:
            m = json.load(f)
        out[stage] = {
            "rows": float(m["rows"]),
            "done_s": m["completed_at"] - call_start,
            "ckpt_mb": dir_mb(os.path.join(workdir, stage, "data")),
        }
    return out
