"""Steadiness check: run workloads over several seeds, then report per
end-to-end metric its median and quartile spread against its bound.

    python3 enginebench/prove.py --workloads serve_zipf ingest_live --seeds 1-10

Run from the root of a checkout.  Each run is a separate process, as
the benchmark is run for real; ``--out`` keeps every result line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out")
    args = p.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    results = []
    for wl in args.workloads:
        for seed in seeds(args.seeds):
            t0 = time.time()
            cp = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=root, capture_output=True, text=True, timeout=600)
            wall = time.time() - t0
            lines = cp.stdout.strip().splitlines()
            rec = {"workload": wl, "seed": seed, "rc": cp.returncode,
                   "wall_s": wall}
            if cp.returncode == 0 and len(lines) >= 2:
                rec["detail"] = json.loads(lines[-2])
                rec["result"] = json.loads(lines[-1])
            else:
                rec["stderr_tail"] = cp.stderr[-2000:]
            results.append(rec)
            print(json.dumps({k: rec[k] for k in ("workload", "seed", "rc",
                                                   "wall_s")}), flush=True)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(results, f, indent=1)
    for wl in args.workloads:
        ok = [r for r in results if r["workload"] == wl and "result" in r]
        print(f"\n{wl}: {len(ok)} runs ok, wall median "
              f"{median([r['wall_s'] for r in ok]) if ok else 0:.1f} s")
        if len(ok) < 2:
            continue
        for name in ok[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            spread = quartile_spread(vals) if len(vals) >= 2 else float("nan")
            bound = bounds.get(name)
            flag = ""
            if bound is not None:
                flag = "ok" if spread < bound / 3 else (
                    "WIDE" if spread <= bound else "OVER")
            print(f"  {name:32s} median {median(vals):12.4f}  "
                  f"spread {spread:6.3f}  bound {bound}  {flag}")
        print("  failed:", sum(r["result"]["failed"] for r in ok),
              "of", sum(r["result"]["attempted"] for r in ok))
    return 0


if __name__ == "__main__":
    sys.exit(main())
