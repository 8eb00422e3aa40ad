"""Traced run: spans recorded by the benchmark's own wrappers, plus Spark's
event-log task metrics folded per layer.

Each wrapper records a span (name, layer, start, end, parent, op) in memory
and, for its duration, sets the calling thread's Spark job group to
``<layer>|<op>``. PySpark pins job groups to the Python thread, so the
runner's parallel tail is tagged by wrapping the ``ThreadPoolExecutor`` the
runner module submits to: each submitted ``job_*`` function runs under a
span naming its layer. DataFrameWriter saves carry no Python call site in
the event log, so table writes are attributed through the ``TableIO``
wrappers alone.
"""

from __future__ import annotations

import concurrent.futures
import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP = "spark.jobGroup.id"

# Tail job of ValidationRun.run -> layer.
TAIL_LAYERS = {
    "job_violations": "checks",
    "job_totals": "checks",
    "job_profile": "profiling",
    "job_drift": "drift",
    "job_sketches": "profiling",
}
# Table written -> layer that owns the write.
APPEND_LAYERS = {"violations": "checks", "sketches": "profiling", "manifest": "plans"}
# RDD scope names of Python-execution operators.
PYTHON_SCOPES = ("InArrow", "InPandas", "EvalPython", "ArrowPython")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None, parent: dict | None = None):
        parent = parent or self.current()
        if op is None and parent is not None:
            op = parent["op"]
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "op": op,
            "parent": parent["id"] if parent else None,
            "start": time.monotonic(),
            "wall_start": time.time(),
        }
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"{layer}|{op}")
        stack = self._stack()
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["wall_end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP, prev)
            with self._lock:
                self.spans.append(rec)

    def _patch(self, owner, attr: str, name, layer) -> None:
        """Replace ``owner.attr`` by a wrapper running it under a span.
        ``name``/``layer`` are strings or callables of the call's args."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            n = name(*args, **kwargs) if callable(name) else name
            lay = layer(*args, **kwargs) if callable(layer) else layer
            with self.span(n, lay):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the public calls of each layer (undone by :meth:`uninstall`)."""
        from data_profiler_spark.plans import runner
        from data_profiler_spark.plans.manifest import Manifest
        from data_profiler_spark.sources.tableio import ParquetTableIO

        def table(_io, *args, **kwargs):
            # read/exists(spark, table); append/overwrite(df, table)
            return args[1] if len(args) > 1 else kwargs.get("table")

        for verb in ("append", "overwrite"):
            self._patch(
                ParquetTableIO, verb,
                lambda io, *a, verb=verb, **k: f"{verb}:{table(io, *a, **k)}",
                lambda io, *a, **k: APPEND_LAYERS.get(table(io, *a, **k), "sources"),
            )
        for verb in ("read", "exists"):
            self._patch(
                ParquetTableIO, verb,
                lambda io, *a, verb=verb, **k: f"{verb}:{table(io, *a, **k)}",
                "sources",
            )
        self._patch(Manifest, "completed_partitions", "completed_partitions", "plans")
        self._patch(Manifest, "commit", "commit", "plans")
        self._patch(runner, "column_profile_collected", "column_profile_collected", "profiling")
        self._patch(runner, "drift_from_hist_rows", "drift_from_hist_rows", "drift")

        tracer = self

        # The decode pass runs inside run() as `salt_repartition(stats)
        # .persist(...).count()`; the count on the returned frame is the
        # decode+persist job, so that one call is run under an audio span.
        orig_salt = runner.salt_repartition

        @functools.wraps(orig_salt)
        def salt(*args, **kwargs):
            df = orig_salt(*args, **kwargs)
            orig_count = df.count

            def count():
                del df.count  # later counts on the frame are not decode
                with tracer.span("decode_persist", "audio"):
                    return orig_count()

            df.count = count
            return df

        runner.salt_repartition = salt
        self._undo.append((runner, "salt_repartition", orig_salt))

        class TracedPool(concurrent.futures.ThreadPoolExecutor):
            def submit(self, fn, /, *args, **kwargs):
                parent = tracer.current()
                layer = TAIL_LAYERS.get(fn.__name__, "plans")

                def traced():
                    with tracer.span(fn.__name__, layer, parent=parent):
                        return fn(*args, **kwargs)

                return super().submit(traced)

        self._undo.append((runner, "ThreadPoolExecutor", runner.ThreadPoolExecutor))
        runner.ThreadPoolExecutor = TracedPool

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f, indent=0)


# -- event log ----------------------------------------------------------------

def fold_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """Fold ``SparkListenerTaskEnd`` metrics per job group.

    Returns ``(per_group, jobs)``: ``per_group[(layer, op)]`` holds summed
    counters (jobs, stages, tasks, run_s, cpu_s, gc_s, spill_mb,
    shuffle_write_mb, input_mb, job_s, python_s, arrow_s, pandas_groups_s);
    ``jobs`` lists every job with its group and submission time.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_scopes: dict[int, set[str]] = {}
    stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    # rolled files are events_<n>_<app>; a job's end can be in a later file
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP)
                    jid = ev["Job ID"]
                    jobs[jid] = {"id": jid, "group": group, "submit": ev["Submission Time"] / 1000.0}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stage_scopes[info["Stage ID"]] = {
                        json.loads(r["Scope"])["name"] for r in info["RDD Info"] if r.get("Scope")
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    c = stage_tasks[ev["Stage ID"]]
                    c["tasks"] += 1
                    c["run_s"] += m["Executor Run Time"] / 1e3
                    c["cpu_s"] += m["Executor CPU Time"] / 1e9
                    c["gc_s"] += m["JVM GC Time"] / 1e3
                    c["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 2**20
                    c["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                    c["input_mb"] += m["Input Metrics"]["Bytes Read"] / 2**20

    def group_key(group: str | None) -> tuple[str, str | None]:
        if not group or "|" not in group:
            return ("untagged", None)
        layer, op = group.rsplit("|", 1)
        return (layer, op)

    per_group: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    for job in jobs.values():
        c = per_group[group_key(job["group"])]
        c["jobs"] += 1
        c["job_s"] += job.get("end", job["submit"]) - job["submit"]
    for sid, tasks in stage_tasks.items():
        job = jobs.get(stage_job.get(sid, -1))
        c = per_group[group_key(job["group"] if job else None)]
        c["stages"] += 1
        for k, v in tasks.items():
            c[k] += v
        scopes = stage_scopes.get(sid, set())
        if any(p in s for s in scopes for p in PYTHON_SCOPES):
            c["python_s"] += tasks["run_s"]
        if "MapInArrow" in scopes:
            c["arrow_s"] += tasks["run_s"]
        if "FlatMapGroupsInPandas" in scopes:
            c["pandas_groups_s"] += tasks["run_s"]
    return per_group, sorted(jobs.values(), key=lambda j: j["id"])


# -- per-layer metrics --------------------------------------------------------

def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(
    spans: list[dict],
    per_group: dict,
    jobs: list[dict],
    ops: list[dict],
    entries: tuple[str, ...],
    session_s: float,
    run_s: float,
) -> dict[str, tuple[float, str]]:
    """Per-layer metrics over the timed ops: name -> (value, unit).

    ``ops``: the timed ops as dicts with ``op`` (id), ``rows``, ``wall_s``,
    ``violation_rows``, ``files_written``, ``cached_rdds`` and
    ``active_caches``. Per-op values are medians over the ops; the
    ``*_after_op`` leak gauges are maxima. A metric a workload does not
    exercise reads 0. ``run_s``: the workload's run_s_p50 with tracing on.
    """
    op_ids = [o["op"] for o in ops]
    by_op: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)

    def span_s(op: str, name: str) -> float:
        return sum(s["end"] - s["start"] for s in by_op[op] if s["name"] == name)

    def span_n(op: str, prefix: str) -> int:
        return sum(1 for s in by_op[op] if s["name"].startswith(prefix))

    def per_op(fn) -> float:
        return _median(fn(op) for op in op_ids)

    def op_total(op: str, key: str) -> float:
        return sum(c.get(key, 0.0) for (_, o), c in per_group.items() if o == op)

    def layer_total(op: str, layer: str, key: str) -> float:
        return per_group.get((layer, op), {}).get(key, 0.0)

    def untraced(op: str) -> float:
        root = [s for s in by_op[op] if s["name"] == "op"]
        if not root:
            return 0.0
        kids = [(s["start"], s["end"]) for s in by_op[op] if s["parent"] == root[0]["id"]]
        return (root[0]["end"] - root[0]["start"]) - _covered(kids)

    def untagged(op: str) -> int:
        root = [s for s in by_op[op] if s["name"] == "op"]
        if not root:
            return 0
        lo, hi = root[0]["wall_start"], root[0]["wall_end"]
        return sum(1 for j in jobs if not j["group"] and lo <= j["submit"] <= hi)

    rows = {o["op"]: o["rows"] for o in ops}
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "sources.scan_mb_per_kclip": (
            per_op(lambda op: op_total(op, "input_mb") / (rows[op] / 1000.0) if rows[op] else 0.0)
            if any(span_n(op, "decode_persist") for op in op_ids) else 0.0,
            "MB/kclip",
        ),
        "sources.read_s": (per_op(lambda op: sum(
            s["end"] - s["start"] for s in by_op[op] if s["name"].startswith("read:"))), "s"),
        "sources.exists_calls_per_op": (per_op(lambda op: span_n(op, "exists:")), "count"),
    }
    for table in ("verdicts", "profile", "drift"):
        m[f"sources.append_s.{table}"] = (per_op(lambda op, t=table: span_s(op, f"append:{t}")), "s")
    m.update({
        "sources.appends_per_op": (per_op(lambda op: span_n(op, "append:")), "count"),
        "sources.files_written_per_op": (_median(o["files_written"] for o in ops), "count"),
        "audio.decode_persist_s": (per_op(lambda op: span_s(op, "decode_persist")), "s"),
        "audio.python_exec_s": (per_op(lambda op: op_total(op, "arrow_s")), "s"),
        "checks.violations_s": (per_op(lambda op: span_s(op, "append:violations")), "s"),
        "checks.shuffle_write_mb": (
            per_op(lambda op: layer_total(op, "checks", "shuffle_write_mb")), "MB"),
        "checks.violation_rows": (_median(o["violation_rows"] for o in ops), "count"),
        "profiling.profile_s": (per_op(lambda op: span_s(op, "column_profile_collected")), "s"),
        "profiling.sketch_s": (per_op(lambda op: span_s(op, "append:sketches")), "s"),
        "profiling.python_exec_s": (per_op(lambda op: op_total(op, "pandas_groups_s")), "s"),
        "drift.score_s": (per_op(lambda op: span_s(op, "drift_from_hist_rows")), "s"),
        "drift.hist_s": (per_op(lambda op: layer_total(op, "drift", "job_s")), "s"),
        "plans.manifest_read_s": (per_op(lambda op: span_s(op, "completed_partitions")), "s"),
        "plans.manifest_commit_s": (per_op(lambda op: span_s(op, "commit")), "s"),
        "plans.jobs_per_op": (per_op(lambda op: op_total(op, "jobs")), "count"),
        "plans.stages_per_op": (per_op(lambda op: op_total(op, "stages")), "count"),
        "plans.tasks_per_op": (per_op(lambda op: op_total(op, "tasks")), "count"),
        "plans.untraced_s": (per_op(untraced), "s"),
        "plans.untagged_jobs_per_op": (per_op(untagged), "count"),
        "plans.cached_rdds_after_op": (float(max(o["cached_rdds"] for o in ops)), "count"),
    })
    for e in entries:
        layer = f"operators.{e}"
        m[f"{layer}_s"] = (per_op(lambda op, e=e: span_s(op, f"entry:{e}")), "s")
        m[f"{layer}.stages"] = (per_op(lambda op, lay=layer: layer_total(op, lay, "stages")), "count")
        m[f"{layer}.shuffle_write_mb"] = (
            per_op(lambda op, lay=layer: layer_total(op, lay, "shuffle_write_mb")), "MB")
    m.update({
        "functions.active_caches_after_op": (float(max(o["active_caches"] for o in ops)), "count"),
        "spark.executor_cpu_s": (per_op(lambda op: op_total(op, "cpu_s")), "s"),
        "spark.executor_run_s": (per_op(lambda op: op_total(op, "run_s")), "s"),
        "spark.gc_s": (per_op(lambda op: op_total(op, "gc_s")), "s"),
        "spark.spill_mb": (per_op(lambda op: op_total(op, "spill_mb")), "MB"),
        "spark.shuffle_write_mb": (per_op(lambda op: op_total(op, "shuffle_write_mb")), "MB"),
        "spark.python_share": (per_op(lambda op: op_total(op, "python_s") / op_total(op, "run_s")
                                      if op_total(op, "run_s") else 0.0), "ratio"),
        "trace.run_s_p50": (run_s, "s"),
    })
    return m


def layer_job_counts(per_group: dict, op_ids: list[str]) -> dict[str, int]:
    """Jobs per top-level layer over the given ops (self-check input)."""
    out: dict[str, int] = defaultdict(int)
    for (layer, op), c in per_group.items():
        if op in op_ids:
            out[layer.split(".")[0]] += int(c["jobs"])
    return dict(out)
