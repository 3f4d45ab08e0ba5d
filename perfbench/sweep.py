"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workloads kg_build_cold,dedup_hot_bucket \
        --seeds 1-10 --trace 0 --out sweep.json

For every workload and metric it prints the median, the first and third
quartiles (``statistics.quantiles(values, n=4)``) and their distance as
a share of the median, the spread a change is judged against. Each run
is a fresh ``run.py`` process, one at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    """``1-10`` or ``7,123456789,42``."""
    if "," in text:
        return [int(s) for s in text.split(",")]
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.time() - t0
    out["failures"] = [ln for ln in lines if ln.startswith("FAILED ")]
    out["context"] = next((json.loads(ln.split(" ", 1)[1]) for ln in lines if ln.startswith("context ")), {})
    # "metric <name> <value> <unit>" lines: the workload's own named figures
    for ln in lines:
        if ln.startswith("metric "):
            _, name, value, unit = ln.split()
            out["metrics"].setdefault(name, {"value": float(value), "unit": unit})
    return out


def summarise(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0,
                     "unit": runs[0]["metrics"][name]["unit"], "values": vals}
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    report = {}
    for wl in args.workloads.split(","):
        runs = []
        for seed in args.seeds:
            r = run_one(wl, seed, seconds, args.trace)
            runs.append(r)
            print(f"{wl} seed={seed} wall={r['wall_s']:.1f}s correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                             if args.trace == 0 or k.startswith("trace.")), flush=True)
        summary = summarise(runs)
        report[wl] = {"runs": len(runs), "seeds": args.seeds,
                      "all_correct": all(r["correct"] for r in runs),
                      "failures": [f for r in runs for f in r["failures"]],
                      "run_wall_s": [round(r["wall_s"], 1) for r in runs], "metrics": summary,
                      "contexts": [r["context"] for r in runs]}
        if args.trace == 0:
            for name, m in summary.items():
                print(f"  {wl} {name}: median={m['median']:.4g} q1={m['q1']:.4g} "
                      f"q3={m['q3']:.4g} spread={m['spread']:.3f}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
