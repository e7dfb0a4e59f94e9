"""Same-time interleaved A/B of the engine benchmark: a base ref vs the
working tree.

Usage (from anywhere inside the repository):
    python3 tools/ab_bench.py --base HEAD --pairs 10 \\
        --workloads serve_zipf ingest_live [--seeds 1,2] [--out ab.jsonl]

The base ref is checked out into a temporary ``git worktree``, removed
again on exit.  Each pair runs ``enginebench/run.py --trace 0`` once in
each tree, one after the other, for the ``run_seconds`` of the working
tree's BENCHMARK.json.  Pair i uses seed ``seeds[i % len(seeds)]``; the
side that runs first alternates within each seed (the base first on the
first round of seeds, the working tree first on the next, ...), so every
seed runs in both orders and a host that slows down mid-run penalises
both sides alike.  For every end-to-end metric of BENCHMARK.json it
prints the two medians, the parent's interquartile range, the
change/parent ratio of the medians and how many pairs the change was
better in, then each side's median and total of failed operations.  A
run that exits non-zero or prints no result line counts as a failed
pair and is reported, not retried.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(tree: str, workload: str, seed: int, seconds: int) -> dict | None:
    """One untraced run in ``tree``: its metric values, or None."""
    out = subprocess.run(
        [sys.executable, "enginebench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        print(f"  run failed in {tree} (rc={out.returncode}): "
              f"{out.stderr[-300:]}", file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    return {k: v["value"] for k, v in result["metrics"].items()} | {
        "failed": result["failed"], "attempted": result["attempted"]}


def summarize(pairs: list[dict], metrics: list[dict]) -> None:
    ok = [p for p in pairs if p["parent"] and p["change"]]
    print(f"  {len(ok)} of {len(pairs)} pairs complete")
    if not ok:
        return
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["parent"][name] for p in ok]
        b = [p["change"][name] for p in ok]
        better = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        ma, mb = statistics.median(a), statistics.median(b)
        ratio = mb / ma if ma else float("nan")
        q = statistics.quantiles(a, n=4) if len(a) > 1 else [ma, ma, ma]
        print(f"  {name:28s} parent {ma:10.4g} (IQR {q[2] - q[0]:.3g})  "
              f"change {mb:10.4g}  ratio {ratio:6.3f}  "
              f"better {better}/{len(ok)}")
    for side in ("parent", "change"):
        failed = [p[side]["failed"] for p in ok]
        attempted = sum(p[side]["attempted"] for p in ok)
        print(f"  {side} failed operations: median "
              f"{statistics.median(failed):g}, total {sum(failed)} "
              f"of {attempted} attempted")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", default="HEAD", help="git ref of the parent")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", nargs="+",
                    default=["serve_zipf", "ingest_live"])
    ap.add_argument("--seeds", default="1,2",
                    help="comma-separated seeds, cycled over the pairs")
    ap.add_argument("--out", help="append every pair as a JSON line here")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]

    tmp = tempfile.mkdtemp(prefix="ab_bench-")
    base = os.path.join(tmp, "base")
    subprocess.run(["git", "-C", REPO, "worktree", "add", "--detach", base,
                    args.base], check=True, capture_output=True)
    try:
        for workload in args.workloads:
            pairs = []
            for i in range(args.pairs):
                seed = seeds[i % len(seeds)]
                order = [("parent", base), ("change", REPO)]
                if (i // len(seeds)) % 2:
                    order.reverse()
                pair = {"workload": workload, "pair": i, "seed": seed,
                        "first": order[0][0]}
                for side, tree in order:
                    pair[side] = run_bench(tree, workload, seed, seconds)
                pairs.append(pair)
                print(f"{workload} pair {i} seed {seed}: "
                      f"{json.dumps({k: pair[k] for k in ('parent', 'change')})}",
                      flush=True)
                if args.out:
                    with open(args.out, "a", encoding="utf-8") as f:
                        f.write(json.dumps(pair) + "\n")
            print(f"{workload} (base {args.base} vs working tree):")
            summarize(pairs, metrics)
    finally:
        subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force",
                        base], capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", REPO, "worktree", "prune"],
                       capture_output=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
