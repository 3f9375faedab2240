"""Spans, Spark event-log folding and process memory for the benchmark.

Spans (name, start, end, parent) are kept in memory while a run measures
and written out when it ends. When tracing, each span also tags the Spark
jobs it starts with ``setJobGroup(name)``, so the uncompressed event log
of the benchmark's own session folds into per-span job/stage/task counts,
executor run time, and shuffle and spill bytes.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    """In-memory span recorder. With ``enabled`` False it only times."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent,
               "cpu0": cpu_seconds() if parent is None else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext if (self.enabled and self.spark) else None
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if parent is None:
                rec["cpu1"] = cpu_seconds()
            self._stack.pop()
            if sc is not None:
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    pname = self.spans[parent]["name"]
                    sc.setJobGroup(pname, pname)

    def seconds(self, name: str) -> float:
        """Total duration of all spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> List[dict]:
        """Each span's duration minus the time its direct children cover
        (children run one after another on the calling thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            {
                "name": s["name"],
                "parent": None if s["parent"] is None else self.spans[s["parent"]]["name"],
                "total_s": s["end"] - s["start"],
                "self_s": s["end"] - s["start"] - child[i],
            }
            for i, s in enumerate(self.spans)
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": s["name"],
                            "start": s["start"] - t0,
                            "end": s["end"] - t0,
                            "parent": s["parent"],
                        }
                    )
                    + "\n"
                )


def cpu_seconds():
    """(busy, steal) CPU seconds summed over all CPUs since boot. Steal is
    time a virtual CPU had work but the hypervisor ran something else."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


def event_log_conf(log_dir: str) -> Dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def fold_event_log(log_dir: str) -> Dict[str, dict]:
    """Job group → {jobs, stages, tasks, serial_stages, run_ms,
    shuffle_bytes, spill_bytes} over the completed stages in every event
    log under ``log_dir`` (read after the session stopped, so the log is
    complete). A stage with one task is a serial stage."""
    out: Dict[str, dict] = defaultdict(
        lambda: dict.fromkeys(
            ("jobs", "stages", "tasks", "serial_stages", "run_ms", "shuffle_bytes", "spill_bytes"), 0
        )
    )
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: Dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rec = out[stage_group.get(info["Stage ID"], "untagged")]
                    rec["stages"] += 1
                    rec["tasks"] += info["Number of Tasks"]
                    rec["serial_stages"] += info["Number of Tasks"] == 1
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            rec[key] += int(acc.get("Value") or 0)
    return dict(out)


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def _children(pid: int) -> List[int]:
    kids: List[int] = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                kids += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return kids


def peak_rss_mb(jvm_pid: Optional[int]) -> float:
    """Sum of VmHWM over the JVM and every process below it (the Python
    worker daemon and its forked workers), in MiB."""
    if jvm_pid is None:
        return 0.0
    total, todo, seen = 0, [jvm_pid], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _hwm_kb(pid)
        todo += _children(pid)
    return total / 1024.0
