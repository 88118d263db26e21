"""Spans around layer calls, and Spark event-log accounting per layer.

A :class:`Tracer` records one span per call into a library layer: name,
layer, start, end, parent span and pass id, kept in memory and written out
at exit. With ``job_descriptions=True`` (traced runs only) each span also
sets ``spark.job.description`` to its span id, so every Spark job the call
runs carries the id into the event log; :func:`fold_event_log` then sums
the log's task metrics per layer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: layers whose Spark stages are folded from the event log
STAGE_LAYERS = ("validate", "dataset_rules", "drift", "runner", "textops", "ann")

#: per-layer stage metrics, with units, as printed by the benchmark
STAGE_METRICS = {
    "run_s": "s",             # executor run time summed over tasks
    "cpu_s": "s",             # executor CPU time summed over tasks
    "gc_s": "s",              # JVM GC time summed over tasks
    "shuffle_bytes": "bytes",  # shuffle bytes read + written
    "spill_bytes": "bytes",   # memory + disk bytes spilled
    "peak_mem_bytes": "bytes",  # largest per-task peak execution memory
    "max_task_s": "s",        # longest single task (skew, hot keys)
    "python_bytes": "bytes",  # bytes sent to + returned from Python workers
}

_PY_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    def __init__(self, sc=None, job_descriptions: bool = False):
        self.sc = sc
        self.job_descriptions = job_descriptions and sc is not None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": f"s{len(self.spans)}", "name": name, "layer": layer,
              "parent": parent["id"] if parent else None,
              "pass": self.pass_id, "start": None, "end": None}
        self.spans.append(sp)
        self._stack.append(sp)
        if self.job_descriptions:
            self.sc.setJobDescription(sp["id"])
        sp["start"] = time.perf_counter()
        try:
            yield sp
        except BaseException:
            sp["raised"] = True
            raise
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self.job_descriptions:
                self.sc.setJobDescription(parent["id"] if parent else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part of it that child spans cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def fold_event_log(events: list[dict], spans: list[dict]) -> dict[str, dict]:
    """Per layer in :data:`STAGE_LAYERS`, the :data:`STAGE_METRICS` of
    every task whose stage ran under one of that layer's spans.

    A stage is attributed through the ``spark.job.description`` of its
    StageSubmitted event; stages with no description (or one that names no
    span) are counted under ``"other"``."""
    layer_of = {s["id"]: s["layer"] for s in spans}
    stage_layer: dict[tuple[int, int], str] = {}
    for e in events:
        if e.get("Event") == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            desc = (e.get("Properties") or {}).get("spark.job.description")
            stage_layer[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = (
                layer_of.get(desc, "other"))
    out = {layer: dict.fromkeys(STAGE_METRICS, 0.0)
           for layer in (*STAGE_LAYERS, "other")}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        tm = e.get("Task Metrics")
        if not tm:
            continue
        layer = stage_layer.get((e["Stage ID"], e.get("Stage Attempt ID", 0)), "other")
        m = out.setdefault(layer, dict.fromkeys(STAGE_METRICS, 0.0))
        info = e.get("Task Info") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        m["run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                               + sw.get("Shuffle Bytes Written", 0))
        m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        m["peak_mem_bytes"] = max(m["peak_mem_bytes"], tm.get("Peak Execution Memory", 0))
        task_s = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
        m["max_task_s"] = max(m["max_task_s"], task_s)
        for acc in info.get("Accumulables") or []:
            if acc.get("Name") in _PY_ACCUMS:
                m["python_bytes"] += float(acc.get("Update") or 0)
    return out
