"""Repeat the benchmark over several seeds and tabulate how steady it is.

    python3 perfbench/sweep.py --runs 10 [--workloads fold,llm_ops]
        [--first-seed 100] [--out sweep.jsonl]

Runs ``run.py`` untraced once per (seed, workload), one at a time, interleaving the
workloads so a slow phase of the host spreads over all of them. Prints,
per workload and metric, the median, the interquartile distance as a share
of the median (quartiles of ``statistics.quantiles(values, n=4)``), the
minimum and the maximum, as a Markdown table. Each run's raw result line
is appended to ``--out`` when given.
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


def bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict | None, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None, wall
    result = json.loads(lines[-1])
    summaries = [ln for ln in proc.stderr.splitlines() if ln.startswith("perfbench: {")]
    if summaries:  # run.py's stderr summary: pass counts, host probe, per-op medians
        result["summary"] = json.loads(summaries[-1][len("perfbench: "):])
    return result, wall


def table(results: dict[str, list[dict]]) -> str:
    rows = ["| workload | metric | runs | median | IQR/median | min | max |",
            "|---|---|---|---|---|---|---|"]
    for wl, runs in results.items():
        names = list(runs[0]["metrics"]) if runs else []
        for name in names:
            vals = [r["metrics"][name]["value"] for r in runs]
            unit = runs[0]["metrics"][name]["unit"]
            med = statistics.median(vals)
            spread = 0.0
            if len(vals) >= 2 and med:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
            rows.append(f"| {wl} | {name} ({unit}) | {len(vals)} | {med:.4g} | "
                        f"{spread:.3f} | {min(vals):.4g} | {max(vals):.4g} |")
    return "\n".join(rows)


def main() -> int:
    cfg = bench_config()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--out")
    args = ap.parse_args()
    names = args.workloads.split(",")
    results: dict[str, list[dict]] = {w: [] for w in names}
    failures = 0
    for i in range(args.runs):
        for w in names:
            seed = args.first_seed + i
            res, wall = run_once(w, seed, cfg["run_seconds"])
            print(f"{w} seed={seed} wall={wall:.1f}s "
                  f"{'FAILED' if res is None else 'correct=' + str(res['correct'])}",
                  file=sys.stderr, flush=True)
            if res is None or not res["correct"]:
                failures += 1
            if res is not None:
                results[w].append(res)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall,
                                            "result": res}) + "\n")
    print(table(results))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
