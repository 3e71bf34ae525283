"""Outside-in layer trace for the benchmark.

Spans are recorded around the calls into each engine module from this
benchmark's own code: public functions are patched where their callers look
them up (e.g. ``zelph_spark.pipeline.run_stage``), only while a traced op
runs, and restored afterwards. Every span tags the Spark jobs it submits
with its id as the job group, so the Spark event log, parsed with stdlib
``json`` after the session stops, attributes jobs, tasks, shuffle bytes,
spill and idle time back to the layers.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import time
from pathlib import Path

# stage name passed to run_stage -> span name (layer.detail)
STAGE_SPANS = {
    "extracted": "extract",
    "links": "link",
    "merge_map": "canon.merge_map",
    "canon_triples": "canon.relabel",
    "edges": "graph.edges",
    "names": "graph.names",
    "saturated": "fixpoint.saturated_count",
}

# (module, attribute) patched while a traced op runs -> span name
PATCHES = [
    ("zelph_spark.pipeline", "run_fixpoint", "fixpoint"),
    ("zelph_spark.canon", "connected_components", "canon.cc"),
    ("zelph_spark.closure", "closure_image", "closure.image"),
    ("zelph_spark.closure", "transitive_closure", "closure.tc"),
    ("zelph_spark.closure", "transitive_targets", "closure.targets"),
    ("zelph_spark.sparql", "transitive_closure", "closure.tc"),
    ("zelph_spark.sparql", "transitive_targets", "closure.targets"),
    ("zelph_spark.sparql", "transitive_sources", "closure.targets"),
    ("zelph_spark.reasoning.fixpoint", "fire_fused", "fused.fire_fused"),
    (
        "zelph_spark.reasoning.fixpoint",
        "fire_contradictions_fused",
        "fused.fire_contradictions_fused",
    ),
]

# layers that get Spark runtime metrics (jobs are charged to the innermost
# span, so a layer's jobs are the ones submitted while it was innermost)
RUNTIME_LAYERS = ["extract", "link", "canon", "graph", "fixpoint", "fused", "closure", "sparql"]
RUNTIME_KEYS = ["jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes"]

GROUP_PREFIX = "perfbench-span-"

# every per-layer metric a traced run prints (0 where a workload does not
# exercise the layer)
LAYER_METRICS = (
    [
        "session.get_spark_s", "session.prewarm_s", "datagen.corpus_s",
        "extract.s", "extract.rows", "link.s", "link.rows",
        "canon.merge_map_s", "canon.relabel_s", "canon.cc_calls", "canon.cc_s",
        "graph.edges_s", "graph.names_s",
        "checkpoint.bytes_written", "checkpoint.files_written",
        "checkpoint.bytes_per_input_byte",
        "fixpoint.rounds", "fixpoint.round_s", "fixpoint.plan_s",
        "fixpoint.inherit_s", "fixpoint.tail_s", "fixpoint.new_facts",
        "fixpoint.productive_round_ratio", "fixpoint.saturated_count_s",
        "fixpoint.contradictions_s",
        "fused.fire_fused_calls", "fused.fire_fused_s",
        "fused.fire_contradictions_fused_s",
        "closure.image_calls", "closure.image_s", "closure.tc_calls",
        "closure.tc_s", "closure.targets_calls", "closure.targets_s",
        "sparql.plan_s", "sparql.exec_s",
    ]
    + [f"{layer}.{key}" for layer in RUNTIME_LAYERS for key in RUNTIME_KEYS]
    + ["spark.jobs_per_op", "spark.no_task_s"]
    + ["trace.op_s", "trace.overhead_s", "trace.remainder_s"]
)


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    """In-memory spans: name, start, end, parent. Spans are only recorded
    inside :meth:`recording`; outside it :meth:`span` costs one bool check.
    ``overhead_s`` sums the Python time the tracer itself spends (span
    bookkeeping, job-group calls, patching)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.active = False
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time(),
                "end": None,
            }
        )
        self._stack.append(sid)
        self._set_group(sid)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self.spans[sid]["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t0

    def _set_group(self, sid):
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if sid is None else f"{GROUP_PREFIX}{sid}"
        )

    def _wrap(self, fn, name_of):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name_of(args, kwargs)):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def recording(self):
        """Patch the engine entry points and record spans; undo on exit."""
        t0 = time.perf_counter()
        saved = []
        try:
            pipeline = importlib.import_module("zelph_spark.pipeline")
            saved.append((pipeline, "run_stage", pipeline.run_stage))
            pipeline.run_stage = self._wrap(
                pipeline.run_stage,
                lambda a, kw: STAGE_SPANS.get(a[2], f"stage.{a[2]}"),
            )
            for mod_name, attr, span_name in PATCHES:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(orig, lambda a, kw, n=span_name: n))
            self.active = True
            self.overhead_s += time.perf_counter() - t0
            yield self
        finally:
            t0 = time.perf_counter()
            self.active = False
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)
            self.overhead_s += time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: Path) -> dict:
    """Jobs and tasks from the finished, uncompressed, unrolled event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))):
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    sid = (
                        int(group[len(GROUP_PREFIX):])
                        if group.startswith(GROUP_PREFIX)
                        else None
                    )
                    jobs[jid] = {"span": sid, "submit": ev["Submission Time"] / 1000.0}
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "job": stage_job.get(ev["Stage ID"]),
                            "start": info.get("Launch Time", 0) / 1000.0,
                            "end": info.get("Finish Time", 0) / 1000.0,
                            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return {"jobs": jobs, "tasks": tasks}


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _nested_in_same(span, by_id) -> bool:
    parent = span["parent"]
    return parent is not None and by_id[parent]["name"] == span["name"]


def span_metrics(spans: list[dict], op_ids: list[int], log: dict) -> dict:
    """Per-layer metrics over the traced ops, each a mean per traced op.

    ``op_ids``: the benchmark's own top span of each traced op; its direct
    children are the op's top-level layer spans."""
    by_id = {s["id"]: s for s in spans}
    n_ops = max(1, len(op_ids))

    def root_op(sid):
        while sid is not None and sid not in op_ids:
            sid = by_id[sid]["parent"]
        return sid

    in_ops = [s for s in spans if root_op(s["id"]) is not None]
    out: dict[str, float] = {}

    def dur(s):
        return s["end"] - s["start"]

    def total(name):
        return sum(dur(s) for s in in_ops if s["name"] == name and not _nested_in_same(s, by_id))

    def calls(name):
        return sum(1 for s in in_ops if s["name"] == name and not _nested_in_same(s, by_id))

    out["extract.s"] = total("extract") / n_ops
    out["link.s"] = total("link") / n_ops
    out["canon.merge_map_s"] = total("canon.merge_map") / n_ops
    out["canon.relabel_s"] = total("canon.relabel") / n_ops
    out["canon.cc_calls"] = calls("canon.cc") / n_ops
    out["canon.cc_s"] = total("canon.cc") / n_ops
    out["graph.edges_s"] = total("graph.edges") / n_ops
    out["graph.names_s"] = total("graph.names") / n_ops
    out["fixpoint.saturated_count_s"] = total("fixpoint.saturated_count") / n_ops
    out["fixpoint.contradictions_s"] = total("fixpoint.contradictions") / n_ops
    out["fused.fire_fused_calls"] = calls("fused.fire_fused") / n_ops
    out["fused.fire_fused_s"] = total("fused.fire_fused") / n_ops
    out["fused.fire_contradictions_fused_s"] = total("fused.fire_contradictions_fused") / n_ops
    for short, name in (("image", "closure.image"), ("tc", "closure.tc"), ("targets", "closure.targets")):
        out[f"closure.{short}_calls"] = calls(name) / n_ops
        out[f"closure.{short}_s"] = total(name) / n_ops
    out["sparql.plan_s"] = total("sparql.plan") / n_ops
    out["sparql.exec_s"] = total("sparql.exec") / n_ops

    # Spark runtime: charge each job to the layer of the span it ran under
    jobs, tasks = log["jobs"], log["tasks"]
    op_jobs = {jid for jid, j in jobs.items() if j["span"] is not None and root_op(j["span"]) is not None}
    for layer in RUNTIME_LAYERS:
        for key in RUNTIME_KEYS:
            out[f"{layer}.{key}"] = 0.0
    for jid in op_jobs:
        layer = layer_of(by_id[jobs[jid]["span"]]["name"])
        if layer in RUNTIME_LAYERS:
            out[f"{layer}.jobs"] += 1 / n_ops
    for t in tasks:
        jid = t["job"]
        if jid not in op_jobs:
            continue
        layer = layer_of(by_id[jobs[jid]["span"]]["name"])
        if layer not in RUNTIME_LAYERS:
            continue
        out[f"{layer}.tasks"] += 1 / n_ops
        out[f"{layer}.task_s"] += (t["end"] - t["start"]) / n_ops
        out[f"{layer}.shuffle_bytes"] += t["shuffle_bytes"] / n_ops
        out[f"{layer}.spill_bytes"] += t["spill_bytes"] / n_ops

    # per op: jobs, time with no task running, and time outside the
    # top-level layer spans
    intervals = [(t["start"], t["end"]) for t in tasks]
    no_task, remainder, jobs_per_op = [], [], []
    for oid in op_ids:
        op = by_id[oid]
        wall = dur(op)
        no_task.append(wall - _covered(intervals, op["start"], op["end"]))
        top = [(s["start"], s["end"]) for s in spans if s["parent"] == oid]
        remainder.append(wall - _covered(top, op["start"], op["end"]))
        jobs_per_op.append(
            sum(1 for j in jobs.values() if op["start"] <= j["submit"] <= op["end"])
        )
    out["spark.jobs_per_op"] = statistics.median(jobs_per_op) if jobs_per_op else 0.0
    out["spark.no_task_s"] = statistics.median(no_task) if no_task else 0.0
    out["trace.remainder_s"] = statistics.median(remainder) if remainder else 0.0
    return out
