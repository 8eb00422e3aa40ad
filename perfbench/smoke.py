"""Self-check of the benchmark at smoke size (512 clips, corpus sf 0.001).

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced, and
asserts that
- each run exits 0 with a correct result object as its last line,
- the untraced run prints every end-to-end metric and the traced run every
  per-layer metric, each with the unit BENCHMARK.json gives it,
- the event-log fold attributes at least one job to each layer the workload
  drives, and none is left untagged.
It prints the tracing overhead (traced minus untraced run_s_p50) per
workload. Takes about three minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JOB_LAYERS = {
    "clips_full": {"sources", "audio", "checks", "profiling", "drift", "plans"},
    "corpus_headline": {"operators"},
}


def require(ok: bool, message: str) -> None:
    if not ok:  # not `assert`: the check must survive python -O
        raise SystemExit(f"smoke: FAILED {message}")


def run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    require(p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-4000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    require(sorted(result) == ["attempted", "correct", "failed", "metrics"], f"keys {sorted(result)}")
    require(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
            f"{workload} trace={trace}: {result['failed']} failed\n{p.stderr[-4000:]}")
    return result["metrics"], p.stderr


def check_units(metrics: dict, spec: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    wrong = [(k, got[k], want[k]) for k in set(got) & set(want) if got[k] != want[k]]
    require(got == want, f"{what}: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}, units {wrong}")
    for k, v in metrics.items():
        require(isinstance(v["value"], (int, float)), f"{what}: {k} = {v}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        name = w["name"]
        plain, _ = run(name, 0)
        check_units(plain, bench["end_to_end"], f"{name} end_to_end")
        traced, log = run(name, 1)
        check_units(traced, bench["per_layer"], f"{name} per_layer")
        jobs = json.loads(re.search(r"jobs per layer (\{.*?\})", log).group(1))
        missing = JOB_LAYERS[name] - {k for k, n in jobs.items() if n > 0}
        require(not missing, f"{name}: no job attributed to {sorted(missing)} ({jobs})")
        require(traced["plans.untagged_jobs_per_op"]["value"] == 0, f"{name}: untagged jobs")
        overhead = traced["trace.run_s_p50"]["value"] - plain["run_s_p50"]["value"]
        print(f"{name}: ok; jobs per layer {jobs}; tracing overhead {overhead:+.3f} s "
              f"({traced['trace.run_s_p50']['value']:.3f} traced vs "
              f"{plain['run_s_p50']['value']:.3f} s untraced)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
