"""Spans, Spark job metrics and process memory for the benchmark.

`Tracer` keeps spans (name, start, end, parent, op id) in memory and
writes them out once, at exit. With tracing off it records nothing and
sets no job groups, so the timed ops run exactly as a user's would.

With tracing on, every span opened while an op is running tags the
Spark jobs it launches with the job group ``op<id>:<span name>``;
`SparkMonitor` reads those jobs back from Spark's monitoring REST API
after the op has finished, outside the op's wall time.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # the SparkContext whose job groups spans set
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer. Spans nest: the innermost open
        span is the parent of the next one."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "op": self.op}
        self.spans.append(rec)
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(f"{self.op}:{name}", name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                outer = self.spans[self._stack[-1]]["name"] if self._stack else "harness"
                self.sc.setJobGroup(f"{self.op}:{outer}", outer)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _rest_time(s: str | None) -> float | None:
    """Spark REST timestamps look like ``2026-10-17T01:17:53.874GMT``."""
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _metric_seconds(value: str) -> float:
    """Total of a formatted SQL timing metric, e.g.
    ``'total (min, med, max ...)\\n7.1 s (1.6 s, ...)'`` -> 7.1."""
    line = value.splitlines()[-1] if "\n" in value else value
    m = re.match(r"\s*([0-9.,]+)\s*([a-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 0.0)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkMonitor:
    """Per-op job metrics from the monitoring REST API of a session
    whose UI is on (local connections only)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def op_metrics(self, op: str, start: float, end: float) -> dict:
        """Jobs, driver gap, executor time, shuffle bytes, checkpoint
        jobs and Arrow UDF time of every job tagged ``<op>:*``; the
        driver gap is the op's wall time not covered by any job."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [j for j in self._get("/jobs") if (j.get("jobGroup") or "").startswith(op + ":")]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        intervals = []
        for j in jobs:
            s, e = _rest_time(j.get("submissionTime")), _rest_time(j.get("completionTime"))
            if s is not None and e is not None:
                intervals.append((max(s, start), min(e, end)))
        executor_ms = shuffle_bytes = 0
        for st in self._get("/stages"):
            if st["stageId"] in stage_ids:
                executor_ms += st.get("executorRunTime", 0)
                shuffle_bytes += st.get("shuffleWriteBytes", 0)
        arrow_s = 0.0
        execs = self._get(f"/sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(execs)
        for ex in execs:
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ids & job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "time to run Python workers":
                        arrow_s += _metric_seconds(m["value"])
        by_layer: dict[str, int] = {}
        for j in jobs:
            layer = j["jobGroup"].split(":", 1)[1]
            by_layer[layer] = by_layer.get(layer, 0) + 1
        return {
            "jobs": len(jobs),
            "jobs_by_layer": by_layer,
            "driver_gap_s": (end - start) - _union_length([i for i in intervals if i[1] > i[0]]),
            "executor_run_s": executor_ms / 1000.0,
            "shuffle_write_bytes": shuffle_bytes,
            "checkpoint_jobs": sum(1 for j in jobs if "heckpoint" in j.get("name", "")),
            "arrow_udf_s": arrow_s,
        }


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the second field after the parenthesised command
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


class PeakRss:
    """Peak resident memory (VmHWM) of this process, the driver JVM and
    every process under the JVM (Python workers), kept per pid across
    samples and summed."""

    def __init__(self):
        self.peak_kb: dict[int, int] = {}

    def sample(self, jvm_pid: int | None) -> None:
        pids = [os.getpid()]
        if jvm_pid is not None:
            parents = _parents()
            frontier = [jvm_pid]
            while frontier:
                p = frontier.pop()
                pids.append(p)
                frontier.extend(c for c, pp in parents.items() if pp == p)
        for p in pids:
            kb = _status_kb(p, "VmHWM")
            if kb > self.peak_kb.get(p, 0):
                self.peak_kb[p] = kb

    def total_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0
