"""Run the benchmark over several seeds and summarise run-to-run spread.

Usage (from the root of a checkout)::

    python3 perfbench/prove.py --seeds 10 [--workloads etl_daily ...]
        [--traced] [--out perfbench/BASELINE.json]

For each workload it makes one untraced run per seed and reports, for
every end-to-end metric, the median, the quartiles and the spread: the
distance between the first and third quartile as a share of the median.
A spread above a third of the metric's bound in ``BENCHMARK.json`` is
flagged. ``--traced`` adds one traced run per
workload, its per-layer metrics, and the tracing overhead: the traced
run's ``op_p50_s``, ``best_pass_s`` and ``best_pass_cpu_s`` against the
untraced medians.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

import stats

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=180)
    took = time.perf_counter() - t0
    if done.returncode != 0:
        sys.stderr.write(done.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} exited {done.returncode}")
    result = json.loads(done.stdout.strip().splitlines()[-1])
    result["wall_s"] = took
    print(f"{workload} seed={seed} trace={trace} {took:.1f}s "
          f"correct={result['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                     if trace == 0), file=sys.stderr, flush=True)
    return result


def summarise(values: list[float], bound: float) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    spread = stats.quartile_spread(values)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": spread, "bound": bound,
            "steady": spread < bound / 3,
            "values": values}


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--seeds", type=int, default=10)
    parser.add_argument("--first-seed", type=int, default=1)
    parser.add_argument("--workloads", nargs="*")
    parser.add_argument("--traced", action="store_true")
    parser.add_argument("--out")
    args = parser.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    report = {"host": {"nproc": len(os.sched_getaffinity(0)),
                       "machine": platform.machine(),
                       "python": platform.python_version()},
              "run_seconds": spec["run_seconds"],
              "note": ("The BENCH_r*.json numbers at the repository root come "
                       "from bench.py, a different harness, on a 32-core "
                       "host; they are not comparable with these."),
              "workloads": {}}
    for name in names:
        runs = [run_once(name, seed, spec["run_seconds"], 0)
                for seed in range(args.first_seed, args.first_seed + args.seeds)]
        entry = {
            "seeds": list(range(args.first_seed, args.first_seed + args.seeds)),
            "all_correct": all(r["correct"] for r in runs),
            "run_wall_s": [round(r["wall_s"], 1) for r in runs],
            "end_to_end": {
                k: summarise([r["metrics"][k]["value"] for r in runs], bounds[k])
                for k in bounds},
        }
        if args.traced:
            traced = run_once(name, args.first_seed, spec["run_seconds"], 1)
            layers = {k: v["value"] for k, v in traced["metrics"].items()}
            entry["per_layer"] = layers
            with open(os.path.join(
                    BENCH_DIR, "_results",
                    f"{name}-seed{args.first_seed}-trace1.json")) as fh:
                entry["environment"] = json.load(fh)["env"]
            entry["tracing_overhead"] = {
                k: layers[f"traced.{k}"] / entry["end_to_end"][k]["median"] - 1
                for k in ("op_p50_s", "best_pass_s", "best_pass_cpu_s")}
        report["workloads"][name] = entry
        for k, s in entry["end_to_end"].items():
            print(f"{name:10s} {k:12s} median={s['median']:.4g} "
                  f"spread={s['spread']:.3f} bound={s['bound']} "
                  f"{'ok' if s['steady'] else 'NOT STEADY'}", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
