"""Serving benchmark for the memories_spark engine.

    python3 perfbench/run.py --workload mixed_rw --seed 1 --seconds 5 --trace 0

Runs one workload (see ``workloads.py``) from the root of a source
checkout: generates the seeded inputs, starts a session through
``memories_spark.session.get_spark``, sets up, warms up, measures for
``--seconds`` and checks every output. Human-readable lines go first;
the last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run also times each layer's public functions and
counts Spark jobs per op, and the metrics are the per-layer ones. The
spans are written to ``.perfbench/trace-<workload>-<seed>.json``.

The session is fitted to the machine from outside, through the
program's own environment variables ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM`` (set by the command in BENCHMARK.json).
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _stop_spark() -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import memories_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2

    import stats
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=out_dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work

    tracer = Tracer(bool(args.trace))
    canary = [workloads.canary_ms()]
    try:
        out = workloads.WORKLOADS[args.workload](args.seed, args.seconds, tracer, work)
        canary.append(workloads.canary_ms())
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    tracer.unwrap_all()

    lat = out.query_ms()
    ok = out.attempted - out.failed
    tail = stats.tail(lat)
    print(f"{args.workload} seed={args.seed}: setup {out.setup_s:.2f} s; "
          f"{ok}/{out.attempted} ops ok in {out.wall_s:.2f} s; "
          f"query p50 {stats.median(lat):.1f} ms over n={len(lat)}")
    for op, xs in sorted(out.latencies_ms.items()):
        print(f"  {op}: n={len(xs)} p50 {stats.median(xs):.1f} ms")
    print("query tail: " + (f"p{tail[1]:.1f} = {tail[0]:.1f} ms at n={len(lat)}" if tail else
                            f"n={len(lat)} leaves no percentile with "
                            f"{stats.TAIL_BEYOND} samples beyond it"))
    print(f"host canary: {canary[0]:.1f} ms at start, {canary[-1]:.1f} ms at end")
    for p in out.problems:
        print(f"CHECK FAILED: {p}")

    if args.trace:
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(path)
        top = sorted(tracer.self_time_by_name().items(), key=lambda kv: -kv[1])
        print("self time in timed ops (s): "
              + ", ".join(f"{k} {v:.2f}" for k, v in top))
        for name, xs in sorted(tracer.per_call_ms().items()):
            print(f"  {name}: {len(xs)} calls, p50 {stats.median(xs):.1f} ms")
        out.layer["host.canary_ms"] = stats.median(canary)
        metrics = {name: {"value": out.layer.get(name, 0.0), "unit": unit}
                   for name, (unit, _) in workloads.LAYER_METRICS.items()}
    else:
        metrics = {
            "setup_s": {"value": out.setup_s, "unit": "s"},
            "query_p50_ms": {"value": stats.median(lat), "unit": "ms"},
            "ops_per_s": {"value": ok / out.wall_s if out.wall_s else 0.0, "unit": "1/s"},
            "ok_ratio": {"value": ok / out.attempted if out.attempted else 0.0,
                         "unit": "ratio"},
        }
    correct = not out.problems and out.attempted > 0
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
