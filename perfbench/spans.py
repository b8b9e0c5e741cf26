"""Outside-in tracing for the benchmark's traced runs.

Everything here observes the program from the benchmark's side of its
public API: spans around the calls the benchmark makes, wrappers around
public operator functions, and a parser for the Spark event log (enabled
at JVM launch, never by program code).
Spans live in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Public seams of operators.ivf_index: every IVF/PQ consumer in the
# catalog reaches its index through one of these.
IVF_SEAMS = (
    "shared_hier_assignment",
    "shared_hier_assignment_delta",
    "shared_hier_assignment_chain",
    "shared_pq_parts",
    "shared_pq_encode_delta",
)
_NO_JOBS = dict(jobs=0, stages=0, tasks=0, task_ms=0, shuffle_write_bytes=0,
                spill_bytes=0, input_bytes=0, output_bytes=0)


class Tracer:
    """Span recorder.  A span is (id, name, start, end, parent, op); spans
    of one op share the op id, which is also the Spark job group of the
    jobs that op starts, so event-log task metrics join to spans."""

    def __init__(self):
        self.sc = None  # set to the SparkContext to tag jobs with the op id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if op_id is not None:
            self.op_id = op_id
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": parent,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if not self._stack:
                self.op_id = None

    @contextmanager
    def phase(self, name: str):
        """A build/plan/action span whose jobs carry the op id as their
        job group and the phase as their description."""
        if self.sc is not None and self.op_id is not None:
            self.sc.setJobGroup(self.op_id, name)
        with self.span(name) as rec:
            yield rec

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SeamStats:
    """Counts calls to the wrapped ivf_index seams and how many returned a
    frame the seam had already handed out (a session-memo hit)."""

    def __init__(self):
        self.calls = 0
        self.hits = 0
        self._returned: list = []

    def record(self, result) -> None:
        parts = result if isinstance(result, tuple) else (result,)
        self.calls += 1
        if all(any(p is r for r in self._returned) for p in parts):
            self.hits += 1
        self._returned.extend(parts)


@contextmanager
def wrapped(module, attr: str, tracer: Tracer, on_result=None, durations=None):
    """Replace ``module.attr`` by a spanned wrapper for the duration of
    the block.  Callers that import the function inside their own body
    (the catalog's convention) pick the wrapper up at call time."""
    original = getattr(module, attr)

    @functools.wraps(original)
    def wrapper(*args, **kwargs):
        with tracer.span(f"{module.__name__.rsplit('.', 1)[-1]}.{attr}") as rec:
            result = original(*args, **kwargs)
        if durations is not None:
            durations.append(rec["end"] - rec["start"])
        if on_result is not None:
            on_result(result)
        return result

    setattr(module, attr, wrapper)
    try:
        yield
    finally:
        setattr(module, attr, original)


def stream_metrics(events: list[dict]) -> dict[str, float]:
    """Micro-batch count, median batch duration and input rate of every
    streaming batch that read rows, from the QueryProgressEvents the
    listener bus wrote to the event log.  The program runs its streams on
    cloned sessions, whose listener buses a listener added to the
    benchmark's own session never hears."""
    batches = []
    for ev in events:
        if ev.get("Event", "").endswith("StreamingQueryListener$QueryProgressEvent"):
            p = ev["progress"]
            rows = sum(src.get("numInputRows", 0) for src in p.get("sources", []))
            if rows > 0:
                batches.append((rows, p.get("batchDuration", 0)))
    ms = sum(b[1] for b in batches)
    return {
        "streaming.batches": len(batches),
        "streaming.batch_p50_ms": statistics.median(b[1] for b in batches) if batches else 0.0,
        "streaming.input_rows_per_s": sum(b[0] for b in batches) * 1000.0 / ms if ms else 0.0,
    }


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application that wrote into ``log_dir``."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def job_metrics(events: list[dict]) -> dict[tuple[str, str], dict]:
    """Join event-log task metrics to (job group, job description).

    Returns, per (group, description), the number of jobs, of stages that
    ran, of tasks, the summed task time (ms) and the summed shuffle-write,
    spill, input and output bytes."""
    stage_key: dict[int, tuple[str, str]] = {}
    out: dict[tuple[str, str], dict] = defaultdict(lambda: dict(_NO_JOBS))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = (props.get("spark.jobGroup.id"), props.get("spark.job.description"))
            out[key]["jobs"] += 1
            for st in ev.get("Stage Infos", []):
                stage_key.setdefault(st["Stage ID"], key)
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                out[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            if key is None:
                continue
            rec = out[key]
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            rec["tasks"] += 1
            rec["task_ms"] += max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0)
            rec["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            rec["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            rec["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return dict(out)


def layer_metrics(tracer: Tracer, jobs: dict, op_ids: list[str]) -> dict[str, float]:
    """Per-op means of the plans / spark_plan / spark_exec layers over the
    timed ops, from the spans and the event-log join."""
    by_op: dict[str, dict[str, float]] = defaultdict(dict)
    for s in tracer.spans:
        if s["op"] in op_ids and s["name"] in ("build", "plan", "action"):
            by_op[s["op"]][s["name"]] = s["end"] - s["start"]
    n = max(len(op_ids), 1)
    act = [jobs.get((op, "action"), _NO_JOBS) for op in op_ids]
    action_wall = sum(by_op[op].get("action", 0.0) for op in op_ids)
    out = {
        "plans.build_s": sum(by_op[op].get("build", 0.0) for op in op_ids) / n,
        "plans.eager_jobs": sum(jobs.get((op, "build"), _NO_JOBS)["jobs"] for op in op_ids) / n,
        "spark_plan.plan_s": sum(by_op[op].get("plan", 0.0) for op in op_ids) / n,
        "spark_exec.action_s": action_wall / n,
        "spark_exec.busy_cores": sum(a["task_ms"] for a in act) / 1000.0 / action_wall if action_wall else 0.0,
    }
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes"):
        out[f"spark_exec.{k}"] = sum(a[k] for a in act) / n
    return out
