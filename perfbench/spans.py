"""Spans around layer calls, their Spark stage ledger, and a peak-RSS
sampler.

Each span sets a Spark job group, so every job a layer call starts is
tagged with the span that caused it. After the traced pass the ledger
reads jobs and stages from the driver's local UI REST API
(``/api/v1/applications/<id>/{jobs,stages}``) and attributes each stage
to the span whose group started its job. Spans are kept in memory and
written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from typing import Dict, List, Optional

LEDGER_KEYS = ("jobs", "stages", "tasks", "executor_run_s",
               "executor_cpu_s", "shuffle_write_bytes", "spill_bytes",
               "failed_tasks", "max_task_share", "output_bytes",
               "exec_mem_bytes")

# a stage shorter than this (summed task run time) cannot starve a run;
# max_task_share only looks at longer ones
STARVATION_MIN_S = 1.0


class Tracer:
    """Records spans (name, start, end, parent) and tags Spark jobs with
    the innermost open span. ``enabled=False`` gives the untraced run:
    the same calls, no job groups, nothing recorded."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: List[Dict] = []
        self._stack: List[int] = []
        self.t0 = time.perf_counter()
        # seconds spent in the spans' own bookkeeping, job groups included
        self.cost_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent":
               self._stack[-1] if self._stack else None,
               "start": t - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name, False)
        self.cost_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            rec["end"] = t - self.t0
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(f"span-{parent}",
                                    self.spans[parent]["name"], False)
            else:
                self.sc._jsc.clearJobGroup()
            self.cost_s += time.perf_counter() - t

    def total(self, name: str) -> float:
        """Summed duration of the spans with this name."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_times(self) -> Dict[int, float]:
        out = {}
        for s in self.spans:
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == s["id"])
            out[s["id"]] = (s["end"] - s["start"]) - kids
        return out

    def covered(self, start: float, end: float) -> float:
        """Seconds of [start, end] inside some top-level span."""
        return sum(max(0.0, min(s["end"], end) - max(s["start"], start))
                   for s in self.spans if s["parent"] is None)

    # ------------------------------------------------------------ ledger

    def attach_ledger(self) -> None:
        """Fetch jobs and stages from the UI REST API and store each
        span's own stage metrics in ``span['spark']``.

        A stage attempt belongs to the first job (lowest jobId) that
        lists it. With AQE each shuffle first runs as a map-stage job of
        its own; the job after it lists the same stage again as skipped,
        while ``/stages`` still reports it COMPLETE, so counting it per
        listing job would count it twice."""
        base = self._api_base()
        jobs = sorted(self._settled_jobs(base), key=lambda j: j["jobId"])
        by_stage: Dict[int, List[Dict]] = {}
        for st in _get(f"{base}/stages"):
            if st["status"] in ("COMPLETE", "FAILED"):  # else never ran
                by_stage.setdefault(st["stageId"], []).append(st)
        for sp in self.spans:
            sp["spark"] = dict.fromkeys(LEDGER_KEYS, 0)
        seen, mine = set(), set()
        for job in jobs:
            group = job.get("jobGroup") or ""
            led = (self.spans[int(group[5:])]["spark"]
                   if group.startswith("span-") else None)
            if led is not None:
                led["jobs"] += 1
            for sid in job.get("stageIds", []):
                if sid in seen:
                    continue  # an earlier job ran it; this one reused it
                seen.add(sid)
                if led is not None:
                    mine.add(sid)
                    for st in by_stage.get(sid, []):
                        _add_stage(led, st, base)
        counted = sum(sp["spark"]["tasks"] for sp in self.spans)
        distinct = sum(st["numTasks"] for sid in mine
                       for st in by_stage.get(sid, []))
        if counted != distinct:
            raise RuntimeError(f"stage ledger counts {counted} tasks, the "
                               f"distinct stages hold {distinct}")

    def rollup(self, roots: List[int]) -> Dict[str, float]:
        """Ledger totals over the given spans and all their
        descendants."""
        want = set(roots)
        changed = True
        while changed:
            changed = False
            for s in self.spans:
                if s["parent"] in want and s["id"] not in want:
                    want.add(s["id"])
                    changed = True
        out = dict.fromkeys(LEDGER_KEYS, 0)
        for s in self.spans:
            if s["id"] in want:
                for k in LEDGER_KEYS:
                    if k == "max_task_share":
                        out[k] = max(out[k], s["spark"][k])
                    else:
                        out[k] += s["spark"][k]
        return out

    def _api_base(self) -> str:
        url = self.sc.uiWebUrl
        if not url:
            raise RuntimeError("the Spark UI is disabled; the ledger needs "
                               "its REST API")
        port = url.rsplit(":", 1)[1]
        return (f"http://127.0.0.1:{port}/api/v1/applications/"
                f"{self.sc.applicationId}")

    @staticmethod
    def _settled_jobs(base: str) -> List[Dict]:
        """Jobs list once the listener bus has caught up: no job still
        running and the same count on two reads in a row."""
        prev = None
        for _ in range(100):
            jobs = _get(f"{base}/jobs")
            done = all(j["status"] != "RUNNING" for j in jobs)
            if done and prev == len(jobs):
                return jobs
            prev = len(jobs) if done else None
            time.sleep(0.1)
        return jobs

    def dump(self, path: str, extra: Optional[Dict] = None) -> None:
        selft = self.self_times()
        for s in self.spans:
            s["self_s"] = selft[s["id"]]
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f, indent=1,
                      default=str)
        os.replace(tmp, path)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _add_stage(led: Dict, st: Dict, base: str) -> None:
    led["stages"] += 1
    led["tasks"] += st["numTasks"]
    led["failed_tasks"] += st["numFailedTasks"]
    run_s = st["executorRunTime"] / 1e3
    led["executor_run_s"] += run_s
    led["executor_cpu_s"] += st["executorCpuTime"] / 1e9
    led["shuffle_write_bytes"] += st["shuffleWriteBytes"]
    led["spill_bytes"] += st["diskBytesSpilled"]
    led["output_bytes"] += st["outputBytes"]
    # summed over the stage's tasks: hash tables and sort buffers
    led["exec_mem_bytes"] += st["peakExecutionMemory"]
    if run_s >= STARVATION_MIN_S:
        summ = _get(f"{base}/stages/{st['stageId']}/{st['attemptId']}"
                    f"/taskSummary?quantiles=1.0")
        longest = summ["executorRunTime"][0] / 1e3
        led["max_task_share"] = max(led["max_task_share"], longest / run_s)


def steal_s() -> float:
    """CPU seconds, summed over this machine's CPUs, that the hypervisor
    gave to other guests while these CPUs had work to run: the steal
    field of /proc/stat's cpu line. It stays 0 on bare metal."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of this process's descendants (the driver
    JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)


def _tree_rss_kb(root: int) -> int:
    """Summed RSS of root's descendants. A child that still runs its
    parent's command with its parent's exact RSS has not exec'd or
    diverged yet (the JVM spawning a process shares its memory until the
    exec), so it is not counted twice."""
    procs: Dict[int, tuple] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                fields = dict(line.split(":", 1) for line in f
                              if line.startswith(("PPid", "VmRSS")))
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except (OSError, ValueError):
            continue  # exited while we read it
        procs[int(name)] = (int(fields.get("PPid", "0")),
                            int(fields.get("VmRSS", "0 kB").split()[0]), cmd)
    total = 0
    for pid, (ppid, rss, cmd) in procs.items():
        up = procs.get(ppid)
        if up is not None and up[1:] == (rss, cmd):
            continue
        p = ppid
        while p and p != root:
            p = procs[p][0] if p in procs else 0
        if p == root:
            total += rss
    return total
