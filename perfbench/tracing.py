"""Traced-run instrumentation: wrappers around two public engine calls
and a reader that turns Spark's event log into per-call layer metrics.

Every timed call runs under its own Spark job group, so each job,
stage and task in the event log can be charged to the call that
caused it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

MIB = 1024.0 * 1024.0

# Per-call layer metrics, keyed by the suffix printed as <op>.<suffix>.
LAYER_SUFFIXES = (
    "jobs",
    "driver_s",
    "task_s",
    "gc_s",
    "shuffle_write_mib",
    "shuffle_read_mib",
    "spill_mib",
    "python_in_mib",
    "python_s",
    "result_mib",
)

# Spark SQL metric names (task accumulables) of the Python exec nodes.
_PY_SENT = "data sent to Python workers"
_PY_RUN = "time to run Python workers"


class Wrappers:
    """Counts and times ``Checkpointer.save`` and ``mmapshare.stage_array``
    while installed; ``uninstall`` restores the originals."""

    def __init__(self):
        from linkgraph import mmapshare
        from linkgraph.checkpoint import Checkpointer

        self._mmapshare, self._ckpt_cls = mmapshare, Checkpointer
        self._orig_save, self._orig_stage = Checkpointer.save, mmapshare.stage_array
        self.saves = defaultdict(int)  # op -> Checkpointer.save calls
        self.totals = defaultdict(float)
        self.op = None  # the timed call in progress
        wrappers = self

        def save(ckpt, df, step, *args, **kwargs):
            t0 = time.perf_counter()
            out = wrappers._orig_save(ckpt, df, step, *args, **kwargs)
            wrappers.totals["checkpoint.save_s"] += time.perf_counter() - t0
            wrappers.totals["checkpoint.saves"] += 1
            wrappers.saves[wrappers.op] += 1
            manifest = ckpt.history[-1]
            written = sum(p["bytes"] for p in manifest.get("partitions", ()))
            wrappers.totals["checkpoint.written_mib"] += written / MIB
            return out

        def stage_array(sc, arr, *args, **kwargs):
            before = mmapshare.staged_bytes()
            t0 = time.perf_counter()
            name = wrappers._orig_stage(sc, arr, *args, **kwargs)
            wrappers.totals["mmapshare.stage_s"] += time.perf_counter() - t0
            wrappers.totals["mmapshare.stage_calls"] += 1
            wrappers.totals["mmapshare.staged_mib"] += (mmapshare.staged_bytes() - before) / MIB
            return name

        Checkpointer.save = save
        mmapshare.stage_array = stage_array

    def uninstall(self) -> None:
        self._ckpt_cls.save = self._orig_save
        self._mmapshare.stage_array = self._orig_stage


def event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_metrics(log_path: str, calls: list[tuple[str, str, float, float]]) -> dict:
    """Per-op layer metrics averaged per call.

    ``calls`` holds (op, job group, start, end) of every timed call,
    times in epoch seconds. Returns {op: {suffix: value}} plus, under
    the key ``"_jobs_by_group"``, the job count of every group."""
    jobs = {}  # job id -> [group, submit s, end s]
    stage_group = {}
    per_group = defaultdict(lambda: defaultdict(float))
    with open(log_path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = [group, ev["Submission Time"] / 1e3, None]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]][2] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                g = per_group[stage_group.get(ev["Stage ID"])]
                g["task_s"] += m["Executor Run Time"] / 1e3
                g["gc_s"] += m["JVM GC Time"] / 1e3
                g["shuffle_write_mib"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MIB
                read = m["Shuffle Read Metrics"]
                g["shuffle_read_mib"] += (read["Remote Bytes Read"] + read["Local Bytes Read"]) / MIB
                g["spill_mib"] += m["Disk Bytes Spilled"] / MIB
                g["result_mib"] += m["Result Size"] / MIB
                for acc in ev["Task Info"].get("Accumulables", ()):
                    name, update = acc.get("Name"), acc.get("Update")
                    if name == _PY_SENT:
                        g["python_in_mib"] += float(update) / MIB
                    elif name == _PY_RUN:
                        g["python_s"] += float(update) / 1e3
    by_group = defaultdict(list)
    for group, start, end in jobs.values():
        by_group[group].append((start, end if end is not None else start))
    out: dict = {"_jobs_by_group": {g: len(v) for g, v in by_group.items()}}
    n_calls = defaultdict(int)
    for op, group, t0, t1 in calls:
        n_calls[op] += 1
        o = out.setdefault(op, defaultdict(float))
        o["jobs"] += len(by_group.get(group, ()))
        o["driver_s"] += (t1 - t0) - _covered(by_group.get(group, []), t0, t1)
        for k, v in per_group.get(group, {}).items():
            o[k] += v
    for op, n in n_calls.items():
        out[op] = {s: out[op].get(s, 0.0) / n for s in LAYER_SUFFIXES}
    return out
