"""Spans, host context and Spark event-log attribution for the benchmark.

Spans are recorded by the benchmark around its own calls into the public
``konlspark`` API (never inside the program). Each span has a name, a
start and end (epoch ms), a parent span, a request id and a request
class. Spark's event log is enabled at launch (``PYSPARK_SUBMIT_ARGS``)
in traced runs only; after the session stops, every job, stage and task
is attributed to the innermost span whose window holds its submission or
launch time. One closed-loop client means top-level windows never
overlap, and jobs launched from a build's side threads still land inside
the build span.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """In-memory span recorder. With ``enabled=False`` spans are not kept
    (the untraced run); request timing is done by the caller either way."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, req: Optional[str] = None,
             cls: Optional[str] = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = self.spans[parent]["req"]
            cls = cls or self.spans[parent]["cls"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "req": req, "cls": cls, "start": now_ms(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = now_ms()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------------------------
# host context and memory
# --------------------------------------------------------------------------

def _cpu_jiffies() -> tuple:
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return vals[7], sum(vals)


class HostContext:
    """Host steal share and load average over a run: reported beside the
    metrics as context, never judged."""

    def __init__(self):
        self.steal0, self.total0 = _cpu_jiffies()

    def finish(self) -> dict:
        steal1, total1 = _cpu_jiffies()
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        return {"steal_pct": 100.0 * (steal1 - self.steal0)
                / max(1, total1 - self.total0),
                "loadavg_1m": load[0], "loadavg_5m": load[1],
                "cpus": len(os.sched_getaffinity(0))}


def descendants(root_pid: int) -> Dict[int, str]:
    """``root_pid`` and all its descendants (the driver Python, the JVM it
    launched and the JVM's Python workers), with their process names."""
    children: Dict[int, List[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process exited while we listed /proc
        children.setdefault(int(fields[1]), []).append(
            int(stat.split("/")[2]))
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                out[pid] = f.read().strip()
        except OSError:
            continue
    return out


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


class RssSampler:
    """Background sampler of the process tree's summed RSS (psutil is not
    available, so it reads ``/proc`` directly). The tree is re-listed
    every few samples; between listings only the known processes are
    read, so the sampler stays off the driver's critical path."""

    INTERVAL_S = 0.5
    RELIST_EVERY = 4

    def __init__(self):
        self.peak_kb = 0
        self.peak_by_name: Dict[str, int] = {}
        self._procs: Dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, relist: bool) -> None:
        if relist:
            self._procs = descendants(os.getpid())
        by_name: Dict[str, int] = {}
        for pid, name in self._procs.items():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    kb = int(f.read().split()[1]) * _PAGE_KB
            except OSError:
                continue
            by_name[name] = by_name.get(name, 0) + kb
        if sum(by_name.values()) > self.peak_kb:
            self.peak_kb = sum(by_name.values())
            self.peak_by_name = by_name

    def _run(self) -> None:
        n = 0
        while not self._stop.is_set():
            self._sample(n % self.RELIST_EVERY == 0)
            n += 1
            self._stop.wait(self.INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample(True)
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

def eventlog_conf(log_dir: str) -> List[str]:
    """spark-submit arguments that enable an uncompressed local event log."""
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false"]


def _lines(paths: List[str]):
    for p in paths:
        with open(p) as f:
            yield from f


def read_eventlog(log_dir: str) -> dict:
    """Jobs, stages and tasks from the single application log in
    ``log_dir`` (read after the session stopped). Spark 4 writes a rolling
    log: a directory of ``events_<n>_<app>`` files."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(apps)}")
    files = [apps[0]] if os.path.isfile(apps[0]) else sorted(
        glob.glob(os.path.join(apps[0], "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    jobs: Dict[int, dict] = {}
    stages: Dict[tuple, dict] = {}
    tasks: List[dict] = []
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"start": ev["Submission Time"],
                                  "end": None}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                "stage": si["Stage ID"],
                "start": si.get("Submission Time"),
                "end": si.get("Completion Time"),
                "n_tasks": si["Number of Tasks"],
                "run_ms": [], "cpu_ns": 0, "input_b": 0,
                "shuffle_read_b": 0, "shuffle_write_b": 0}
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            tasks.append({
                "key": (ev["Stage ID"], ev["Stage Attempt ID"]),
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "input_b": (tm.get("Input Metrics") or {})
                .get("Bytes Read", 0),
                "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_write_b": (tm.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0)})
    for t in tasks:
        st = stages.get(t["key"])
        if st is None:
            continue
        st["run_ms"].append(t["run_ms"])
        for k in ("cpu_ns", "input_b", "shuffle_read_b", "shuffle_write_b"):
            st[k] += t[k]
    return {"jobs": [j for j in jobs.values() if j["end"] is not None],
            "stages": [s for s in stages.values() if s["start"] is not None]}


def _union_ms(intervals: List[tuple], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def attribute(spans: List[dict], log: dict) -> Dict[int, dict]:
    """Per top-level span: the Spark work submitted inside its window.

    Returns ``{span_id: {"jobs", "stages", "tasks", "stage_tasks",
    "executor_ms", "cpu_s", "input_mb", "shuffle_read_mb",
    "shuffle_write_mb", "job_ms", "driver_ms", "coverage",
    "max_task_skew"}}``. ``driver_ms`` is the span's wall time not covered
    by a running job (planning, lookups, collect); ``coverage`` is the
    share of the wall time covered by child spans or running jobs.
    """
    tops = sorted((s for s in spans if s["parent"] is None),
                  key=lambda s: s["start"])
    starts = [s["start"] for s in tops]
    def owner(t_ms: float) -> Optional[dict]:
        i = bisect.bisect_right(starts, t_ms) - 1
        if i >= 0 and t_ms <= tops[i]["end"]:
            return tops[i]
        return None

    out = {s["id"]: {"jobs": 0, "stages": 0, "tasks": 0, "stage_tasks": [],
                     "executor_ms": 0.0, "cpu_s": 0.0, "input_mb": 0.0,
                     "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
                     "job_iv": [], "max_task_skew": 0.0, "_heaviest": -1.0}
           for s in tops}
    for j in log["jobs"]:
        sp = owner(j["start"])
        if sp is not None:
            out[sp["id"]]["jobs"] += 1
            out[sp["id"]]["job_iv"].append((j["start"], j["end"]))
    for st in sorted(log["stages"], key=lambda s: s["start"]):
        sp = owner(st["start"])
        if sp is None:
            continue
        o = out[sp["id"]]
        o["stages"] += 1
        o["tasks"] += st["n_tasks"]
        o["stage_tasks"].append(st["n_tasks"])
        run = sum(st["run_ms"])
        o["executor_ms"] += run
        o["cpu_s"] += st["cpu_ns"] / 1e9
        o["input_mb"] += st["input_b"] / 2**20
        o["shuffle_read_mb"] += st["shuffle_read_b"] / 2**20
        o["shuffle_write_mb"] += st["shuffle_write_b"] / 2**20
        if run > o["_heaviest"] and st["run_ms"]:
            # skew of the stage that burns the most executor time (in a
            # build, the postings encode stage)
            o["_heaviest"] = run
            med = statistics.median(st["run_ms"])
            o["max_task_skew"] = max(st["run_ms"]) / max(1.0, med)
    kids: Dict[int, List[tuple]] = {}
    for s in spans:
        if s["parent"] is not None:
            top = s
            while top["parent"] is not None:
                top = spans[top["parent"]]
            kids.setdefault(top["id"], []).append((s["start"], s["end"]))
    for sp in tops:
        o = out[sp["id"]]
        wall = max(1e-6, sp["end"] - sp["start"])
        job_ms = _union_ms(o["job_iv"], sp["start"], sp["end"])
        o["job_ms"] = job_ms
        o["driver_ms"] = wall - job_ms
        o["coverage"] = _union_ms(o.pop("job_iv") + kids.get(sp["id"], []),
                                  sp["start"], sp["end"]) / wall
        o.pop("_heaviest")
    return out
