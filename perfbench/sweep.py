"""Run the benchmark over several seeds and report each end-to-end metric's
median, quartiles and spread (interquartile distance over the median).

    python3 perfbench/sweep.py --workload bulk_hot --seeds 1-10 [--out FILE]
        [--baseline perfbench/baseline.json --traced-seed 1]

Runs are sequential (one Spark JVM at a time). ``--out`` appends one JSON
line per workload with every run's metrics and the summary.
``--baseline`` adds the summary to a JSON file (one entry per workload,
one set per sweep, with the median shift between the last two sets), with
one traced run's per-layer metrics, the workload's shape and the host.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def run_once(workload: str, seed: int, trace: int = 0) -> dict:
    cmd = [*BENCHMARK["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(BENCHMARK["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    # a traced run's comparison with the untraced run of the same seed
    result["notes"] = [ln for ln in lines if ln.startswith(("trace_overhead.", "traced table hash"))]
    return result


def summarize(runs: list[dict]) -> dict:
    out = {}
    bounds = {m["name"]: m["bound"] for m in BENCHMARK["end_to_end"]}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {
            "median": statistics.median(vals),
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / statistics.median(vals),
            "bound": bound,
        }
    return out


def _host() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"cpu": model, "nproc": os.cpu_count(), "mem_gib": round(mem_kb / 2**20, 1),
            "python": platform.python_version()}


def write_baseline(path: Path, workload: str, runs: list[dict], summary: dict,
                   traced: dict | None) -> None:
    """Add this set of runs to the workload's entry. With two or more sets,
    ``median_shift`` compares the last two: each metric's median change as
    a share of the earlier median, signed so that positive is worse."""
    sys.path[:0] = [str(HERE), str(ROOT)]
    import workloads

    data = json.loads(path.read_text()) if path.exists() else {}
    data["host"] = _host()
    data["nproc"] = os.cpu_count()
    data["run_seconds"] = BENCHMARK["run_seconds"]
    cls = workloads.WORKLOADS[workload]
    why = {w["name"]: w["why"] for w in BENCHMARK["workloads"]}
    entry = data.setdefault("workloads", {}).setdefault(workload, {})
    entry["why"] = why[workload]
    entry["shape"] = " ".join(cls.__doc__.split())
    entry["params"] = {k: v for k, v in vars(cls).items() if k.isupper()}
    sets = entry.setdefault("sets", [])
    sets.append({
        "seeds": [r["seed"] for r in runs],
        "correct": [r["correct"] for r in runs],
        "end_to_end": summary,
    })
    if len(sets) >= 2:
        better = {m["name"]: m["better"] for m in BENCHMARK["end_to_end"]}
        prev, last = sets[-2]["end_to_end"], sets[-1]["end_to_end"]
        entry["median_shift"] = {
            name: {
                "shift": (last[name]["median"] - prev[name]["median"]) / prev[name]["median"]
                * (1 if better[name] == "lower" else -1),
                "bound": last[name]["bound"],
            }
            for name in last
        }
    if traced is not None:
        entry["per_layer"] = {
            "seed": traced["seed"],
            "correct": traced["correct"],
            "overhead": traced["notes"],
            "metrics": {k: v["value"] for k, v in traced["metrics"].items()},
        }
    path.write_text(json.dumps(data, indent=1, sort_keys=True) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--baseline", type=Path)
    ap.add_argument("--traced-seed", type=int)
    args = ap.parse_args(argv)
    runs = []
    for seed in _seeds(args.seeds):
        r = run_once(args.workload, seed)
        r["seed"] = seed
        runs.append(r)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {seed} wall {r['wall_s']:.1f}s correct={r['correct']} failed={r['failed']} {vals}",
              flush=True)
    summary = summarize(runs)
    for name, s in summary.items():
        flag = "ok" if s["spread"] < s["bound"] / 3 else ("WITHIN BOUND" if s["spread"] <= s["bound"] else "OVER BOUND")
        print(f"{name:20s} median {s['median']:.5g} q1 {s['q1']:.5g} q3 {s['q3']:.5g} "
              f"spread {s['spread']:.3f} bound {s['bound']} {flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "runs": runs, "summary": summary}) + "\n")
    runs_checked = runs
    if args.baseline:
        traced = None
        if args.traced_seed is not None:
            traced = run_once(args.workload, args.traced_seed, trace=1)
            traced["seed"] = args.traced_seed
            runs_checked = runs + [traced]
        write_baseline(args.baseline, args.workload, runs, summary, traced)
    # the figures are recorded either way; a run that failed its gate fails the sweep
    return 0 if all(r["correct"] and not r["failed"] for r in runs_checked) else 1


if __name__ == "__main__":
    sys.exit(main())
