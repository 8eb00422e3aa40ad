"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload clips_full --seed 1 --seconds 14 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same workload with span wrappers and Spark's event
log on, and prints the per-layer metrics. ``--size smoke`` shrinks the
inputs for the self-check (``python3 perfbench/smoke.py``). The last line of
standard output is the result object; a human-readable table goes to
standard error. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.monotonic()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass(frozen=True)
class Size:
    clips: int  # rows of the clips table
    corpus: str  # directory of the corpus tables under perfbench/data


SIZES = {"bench": Size(clips=2048, corpus="sf0.01"), "smoke": Size(clips=512, corpus="sf0.001")}
DRIVER_MEMORY = "1g"


def pin_env(work: str) -> dict[str, str]:
    """Launch environment of the Spark driver and its Python workers."""
    pinned = {
        # workers import the engine from the checkout, wherever it lives
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_SUBMIT_OPTS": " ".join(
            p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={work}/tmp") if p),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(pinned)
    os.makedirs(pinned["TMPDIR"])
    return pinned


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.size = SIZES[args.size]
        self.work = work
        self.spark = None
        self.tracer = None
        self.mem = None

    def _gauges(self) -> tuple[int, int]:
        """Leak gauges: persisted RDDs, and cumsum caches not released.
        Local checkpoints (dup_clusters' ``localCheckpoint``) are not
        counted: Spark's ContextCleaner frees them after a JVM GC, so their
        number at any moment depends on GC timing, not on the caller."""
        from data_profiler_spark.functions import windows

        rdds = self.spark.sparkContext._jsc.getPersistentRDDs().values()
        cached = sum(1 for r in rdds if not r.rdd().isCheckpointed())
        return cached, len(windows._ACTIVE_CACHES)

    def run(self) -> dict:
        from perfbench.procmem import PeakPss

        from data_profiler_spark.session import AUDIO_TABLE_CONFS, get_spark

        confs = {"spark.ui.showConsoleProgress": "false"}
        if self.workload.startswith("clips"):
            confs.update(AUDIO_TABLE_CONFS)
        log_dir = os.path.join(self.work, "eventlog")
        if self.trace:
            os.makedirs(log_dir)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",  # no zstandard module for the reader
            })
        cores = len(os.sched_getaffinity(0))
        self.mem = PeakPss()
        self.mem.start()
        t = time.monotonic()
        self.spark = get_spark(f"perfbench-{self.workload}", cores=cores, extra_confs=confs)
        session_s = time.monotonic() - t
        try:
            wl, ops, warm_errors, setup_s = self._measure()
        finally:
            self.mem.stop()
            if self.tracer:
                self.tracer.uninstall()
            stop_spark(self.spark)
        failed = sum(1 for o in ops if o["errors"]) + sum(1 for w in warm_errors if w)
        for e in [e for w in warm_errors for e in w] + [e for o in ops for e in o["errors"]]:
            print(f"perfbench: FAILED CHECK {e}", file=sys.stderr)
        timed = [o["wall_s"] for o in ops]
        run_s, rows_per_s = wl.summary(ops)
        metrics: dict[str, tuple[float, str]]
        if self.trace:
            from perfbench import trace
            from perfbench.corpus import HEADLINE

            per_group, jobs = trace.fold_event_log(log_dir)
            whole = [o for o in ops if o.get("whole", True)]  # a cut-short corpus pass is left out
            metrics = trace.layer_metrics(
                self.tracer.spans, per_group, jobs, whole, HEADLINE, session_s, run_s)
            spans_out = os.path.join(ROOT, ".perfbench_work", f"spans-{self.workload}.json")
            self.tracer.dump(spans_out)
            by_layer = trace.layer_job_counts(per_group, [o["op"] for o in whole])
            print(f"perfbench: jobs per layer {json.dumps(by_layer, sort_keys=True)}; "
                  f"spans in {os.path.relpath(spans_out, ROOT)}", file=sys.stderr)
        else:
            metrics = {
                "run_s_p50": (run_s, "s"),
                "rows_per_s": (rows_per_s, "rows/s"),
                "setup_s": (setup_s, "s"),
                "peak_pss_mb": (self.mem.peak_mb, "MB"),
            }
        attempted = len(ops) + len(warm_errors)  # the timed ops plus the checked warm-up ops
        print(f"perfbench: {self.workload} seed={self.seed} ops={len(ops)} "
              f"op_s={[round(x, 3) for x in timed]} pss_samples={self.mem.samples}", file=sys.stderr)
        for name, (value, unit) in metrics.items():
            print(f"  {name:<44} {value:>14.4f} {unit}", file=sys.stderr)
        print(f"  {'fail_share':<44} {failed / attempted:>14.4f} ratio "
              f"({failed} of {attempted} ops)", file=sys.stderr)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _measure(self) -> tuple[object, list[dict], list[list[str]], float]:
        from perfbench import trace
        from perfbench.clips import ClipsFull
        from perfbench.corpus import CorpusHeadline

        if self.trace:
            self.tracer = trace.Tracer(self.spark)
            self.tracer.install()
        wl = {"clips_full": ClipsFull, "corpus_headline": CorpusHeadline}[self.workload](self)
        t = time.monotonic()
        wl.build_input()
        build_s = time.monotonic() - t
        t = time.monotonic()
        warm_errors = wl.warm_up()
        warm_s = time.monotonic() - t
        gauges = self._gauges()
        setup_s = time.monotonic() - T0
        print(f"perfbench: setup_s={setup_s:.2f} build_s={build_s:.2f} warm_up_s={warm_s:.2f}",
              file=sys.stderr)

        ops: list[dict] = []
        # Ops run until their summed wall time reaches --seconds. The per-op
        # output check and clean-up are not counted, so the number of timed
        # ops does not flip between runs with the time those take.
        while sum(o["wall_s"] for o in ops) < self.seconds:
            op = str(len(ops))
            ctx = wl.prepare(op)
            span = self.tracer.span("op", "plans", op=op) if self.tracer else nullcontext()
            result, errors = None, []
            with span:
                t = time.monotonic()
                try:
                    result = wl.op(ctx)
                except Exception as e:
                    errors.append(f"op {op}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
                wall = time.monotonic() - t
            with self.tracer.span("check", "bench", op=f"check{op}") if self.tracer else nullcontext():
                info = {"rows": 0, "violation_rows": 0}
                if result is not None:
                    errs, info = wl.check(result)
                    errors += errs
            files = wl.finish(ctx)
            after = self._gauges()
            if after[0] > gauges[0] or after[1] > gauges[1]:
                errors.append(f"op {op}: caches grew from {gauges} to {after} "
                              "(persisted RDDs, cumsum caches)")
            gauges = after
            ops.append({"op": op, "wall_s": wall, "errors": errors, "files_written": files,
                        "cached_rdds": after[0], "active_caches": after[1], **info})
        return wl, ops, warm_errors, setup_s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["clips_full", "corpus_headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="bench")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "data_profiler_spark", "__init__.py")):
        print(f"perfbench: no data_profiler_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        pinned = pin_env(work)
        print("perfbench: pinned " + " ".join(f"{k}={v}" for k, v in sorted(pinned.items())),
              file=sys.stderr)
        # import the perfbench package from the root, not its modules as
        # top-level names (trace.py would shadow the stdlib module)
        sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
        result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
