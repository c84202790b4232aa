"""Tracing for the benchmark: Spark event-log reducer, worker memory
sampler and JVM GC reader.

The traced run turns on Spark's uncompressed event log. Before each call
into a public function the benchmark labels the jobs it starts with
``setJobDescription("<workload>:<call>")`` and records a span (label,
start, end in epoch ms) around the call. ``reduce_event_log`` then folds
the log, with stdlib ``json`` only, into one record per label:

- ``jobs``, ``busy_ms`` (the union of job spans; jobs overlap under AQE, so
  a sum would over-count) and ``wall_ms`` / ``idle_ms`` (wall minus busy)
  from the spans;
- task metrics summed over the label's tasks: input bytes, scan time,
  shuffle bytes and write time, and the Python UDF boundary metrics
  (worker start / init / run time, Arrow bytes sent and returned);
- ``skew``: max/median task run time of the label's heaviest Python stage;
- ``executions``: the label's SQL executions in id order with their plan
  flags, so a caller can split one call into its write / read phases.

Jobs that Spark relabels (broadcast exchanges run under their own job
group) are attributed through their SQL execution id.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "arrow_in_bytes",
    "data returned from Python workers": "arrow_out_bytes",
}
SUM_METRICS = {
    **PY_METRICS,
    "scan time": "scan_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.shuffle.write.writeTime": "shuffle_write_ns",
}


def event_log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir`` (plain or rolling layout)."""
    out = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        name = os.path.basename(path)
        if (os.path.isfile(path) and not name.startswith(".")
                and not name.startswith("appstatus")):
            out.append(path)
    return out


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _new_label() -> dict:
    rec = {v: 0 for v in SUM_METRICS.values()}
    rec.update(jobs=0, busy_ms=0.0, wall_ms=0.0, idle_ms=0.0, py_tasks=0,
               skew=0.0, spans=0, executions=[])
    return rec


def reduce_event_log(paths: list[str], spans: list[dict]) -> dict:
    """Fold event-log lines into one record per span label (see module
    docstring). ``spans`` holds ``{"label", "start_ms", "end_ms"}``; a
    label may repeat, once per pass."""
    job_label: dict[int, str] = {}
    job_exec: dict[int, int] = {}
    job_start: dict[int, float] = {}
    job_span: dict[int, tuple[float, float]] = {}
    stage_job: dict[int, int] = {}
    exec_desc: dict[int, str] = {}
    exec_plan: dict[int, str] = {}
    task_rows: list[tuple[int, int, dict]] = []

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_label[jid] = props.get("spark.job.description") or ""
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        job_exec[jid] = int(eid)
                    job_start[jid] = float(ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    job_span[jid] = (job_start.get(jid, ev["Completion Time"]),
                                     float(ev["Completion Time"]))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    eid = int(ev["executionId"])
                    exec_desc[eid] = ev.get("description") or ""
                    exec_plan[eid] = ev.get("physicalPlanDescription") or ""
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    if info.get("Failed") or info.get("Killed"):
                        continue
                    vals = {}
                    for acc in info.get("Accumulables", []):
                        key = SUM_METRICS.get(acc.get("Name"))
                        if key is not None:
                            vals[key] = vals.get(key, 0) + float(
                                acc.get("Update") or 0)
                    run_ms = float((ev.get("Task Metrics") or {}).get(
                        "Executor Run Time", 0))
                    vals["run_ms"] = run_ms
                    task_rows.append((ev["Stage ID"], ev["Task Info"]["Task ID"],
                                      vals))

    job_desc = dict(job_label)
    labels = {s["label"] for s in spans}
    # an execution inherits the label its description or any job carries
    exec_label = {e: d for e, d in exec_desc.items() if d in labels}
    for jid, lab in job_label.items():
        eid = job_exec.get(jid)
        if lab in labels and eid is not None:
            exec_label.setdefault(eid, lab)
    for jid in list(job_label):
        if job_label[jid] not in labels and job_exec.get(jid) in exec_label:
            job_label[jid] = exec_label[job_exec[jid]]

    out = {lab: _new_label() for lab in labels}
    for s in spans:
        rec = out[s["label"]]
        rec["wall_ms"] += s["end_ms"] - s["start_ms"]
        rec["spans"] += 1
    intervals: dict[str, list] = {lab: [] for lab in labels}
    for jid, lab in job_label.items():
        if lab in out and jid in job_span:
            out[lab]["jobs"] += 1
            intervals[lab].append(job_span[jid])
    for lab, ivs in intervals.items():
        out[lab]["busy_ms"] = _union_ms(ivs)
        out[lab]["idle_ms"] = max(0.0, out[lab]["wall_ms"] - out[lab]["busy_ms"])

    stage_runs: dict[int, list[float]] = {}
    for sid, _tid, vals in task_rows:
        lab = job_label.get(stage_job.get(sid, -1))
        if lab not in out:
            continue
        rec = out[lab]
        for key, v in vals.items():
            if key in rec:
                rec[key] += v
        if "py_run_ms" in vals:
            rec["py_tasks"] += 1
            stage_runs.setdefault(sid, []).append(vals["run_ms"])
    heaviest: dict[str, tuple[float, float]] = {}
    for sid, runs in stage_runs.items():
        lab = job_label[stage_job[sid]]
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else 1.0
        if sum(runs) > heaviest.get(lab, (0.0, 0.0))[0]:
            heaviest[lab] = (sum(runs), skew)
    for lab, (_tot, skew) in heaviest.items():
        out[lab]["skew"] = skew

    exec_jobs: dict[int, list] = {}
    for jid, eid in job_exec.items():
        if jid in job_span:
            exec_jobs.setdefault(eid, []).append(
                (job_span[jid],
                 job_desc.get(jid, "").startswith("broadcast exchange")))
    for eid in sorted(exec_label):
        lab = exec_label[eid]
        jobs = exec_jobs.get(eid, [])
        out[lab]["executions"].append({
            "id": eid,
            "plan": exec_plan.get(eid, ""),
            "busy_ms": _union_ms([sp for sp, _b in jobs]),
            "broadcast_ms": _union_ms([sp for sp, b in jobs if b]),
            "jobs": len(jobs),
        })
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (parent pid, /proc stat fields after the command name)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        out[int(name)] = (int(fields[1]), fields)
    return out


def _descends(pid: int, root: int, table: dict) -> bool:
    hops = 0
    while pid and pid != root and hops < 32:
        pid, hops = table.get(pid, (0, None))[0], hops + 1
    return pid == root


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, the Spark
    JVM and Python workers it started, and their reaped children. CPU time
    does not grow while a virtual CPU is stolen by the host, so it is
    steadier than wall time on a shared machine."""
    me = os.getpid()
    table = _proc_table()
    ticks = sum(sum(int(x) for x in fields[11:15])
                for pid, (_pp, fields) in table.items()
                if _descends(pid, me, table))
    return ticks / _CLK_TCK


class WorkerMemory:
    """Samples ``VmHWM`` of this process's PySpark worker processes from
    ``/proc`` every ``interval`` seconds and keeps the highest value.
    ``pids`` collects every worker seen, so the caller can wait for them
    to end after stopping Spark."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        me = os.getpid()
        table = _proc_table()
        for pid in table:
            if pid in self.pids or _descends(pid, me, table):
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as f:
                        cmd = f.read()
                    if b"pyspark.daemon" not in cmd and \
                            b"pyspark.worker" not in cmd:
                        continue
                    with open(f"/proc/{pid}/status") as f:
                        for line in f:
                            if line.startswith("VmHWM:"):
                                self.peak_kb = max(self.peak_kb,
                                                   int(line.split()[1]))
                                break
                except OSError:
                    continue
                self.pids.add(pid)

    def alive(self) -> list[int]:
        return [p for p in self.pids if os.path.exists(f"/proc/{p}")]


def jvm_gc_ms(spark) -> float:
    """Total collection time of every JVM garbage collector, in ms."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime()
                     for b in mf.getGarbageCollectorMXBeans()))


def now_ms() -> float:
    return time.time() * 1000.0
