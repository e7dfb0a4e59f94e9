"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 enginebench/run.py --workload serve_zipf --seed 1 --seconds 12 --trace 0

Run from the root of a checkout (the package ``anisearch_model_spark``
must sit beside this directory).  The last stdout line is the result
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it is the run's detail (every metric
the workload measured, the output-check verdict, host probes).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared_metrics(trace: bool) -> dict[str, str]:
    """name → unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    import host
    import workloads

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import anisearch_model_spark  # noqa: F401
    except ImportError as e:
        print(f"enginebench: cannot import the engine package from {ROOT}: "
              f"{e}", file=sys.stderr)
        return 2
    units = declared_metrics(bool(args.trace))

    probe_start, ticks_start = host.probe(), host.cpu_ticks()
    work_root = os.path.join(ROOT, ".enginebench")
    run = workloads.Run(
        args.workload, args.seed, args.seconds, bool(args.trace),
        os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}"),
        len(os.sched_getaffinity(0)), T_PROCESS)
    metrics, detail = workloads.execute(run)
    detail["host_probe_s"] = {"start": probe_start, "end": host.probe()}
    detail["steal_frac"] = host.steal_frac(ticks_start, host.cpu_ticks())
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": unit}
                    for name, unit in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
