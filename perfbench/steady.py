"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread, (Q3 - Q1) / median.

    python3 perfbench/steady.py --workload mixed_rw --seeds 1 2 3 4 5
    python3 perfbench/steady.py --workload mixed_rw --seeds 1 2 3 --overhead

Runs the command from BENCHMARK.json at the checkout root, one run at a
time, and prints each run's wall time, which the time budget of a full
evaluation is made of. ``--overhead`` also makes a traced run per seed and reports the
tracing overhead: traced minus untraced end-to-end values, as medians.
Traced runs report per-layer metrics only, so the overhead is read from
the summary line both kinds of run print.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SUMMARY = re.compile(
    r"setup ([0-9.]+) s; (\d+)/(\d+) ops ok in ([0-9.]+) s; query p50 ([0-9.]+) ms")


def run_once(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, tuple]:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall_s = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"seed {seed}: exit {proc.returncode}\n{proc.stdout}\n{proc.stderr[-3000:]}")
    result = json.loads(lines[-1])
    print(f"seed {seed} trace {trace}: run took {wall_s:.1f} s", flush=True)
    m = next(SUMMARY.search(line) for line in lines if SUMMARY.search(line))
    setup_s, ok, wall_s, p50 = (float(m.group(i)) for i in (1, 2, 4, 5))
    return result, (setup_s, p50, ok / wall_s)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    values: dict[str, list[float]] = {}
    summaries = {0: [], 1: []}
    for seed in args.seeds:
        result, summary = run_once(bench, args.workload, seed, 0)
        summaries[0].append(summary)
        print(f"seed {seed}: " + json.dumps(result), flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        if args.overhead:
            summaries[1].append(run_once(bench, args.workload, seed, 1)[1])

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, xs in values.items():
        spread = stats.quartile_spread(xs) if len(xs) > 1 else 0.0
        print(f"{name}: median {stats.median(xs):.4f}, spread {spread:.4f} "
              f"(bound {bounds.get(name)}), values {[round(x, 4) for x in xs]}")
    if args.overhead:
        for i, name in enumerate(("setup_s", "query_p50_ms", "ops_per_s")):
            plain = stats.median([s[i] for s in summaries[0]])
            traced = stats.median([s[i] for s in summaries[1]])
            print(f"tracing overhead on {name}: {traced - plain:+.4f} "
                  f"({(traced - plain) / plain:+.1%})")


if __name__ == "__main__":
    main()
