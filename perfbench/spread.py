"""Run every workload over several seeds and report each end-to-end
metric's median, quartiles, n and spread, plus failed/attempted.

    python3 perfbench/spread.py [--seeds 1-10] [--out runs.json]
        [--compare earlier.json]

Run from the repository root.  Each (seed, workload) pair is one
``run.py`` invocation with ``run_seconds`` from BENCHMARK.json;
workloads alternate within each seed so slow drift of the host is
shared between them.  The spread is (Q3 - Q1) / median, with quartiles
as ``statistics.quantiles(values, n=4)`` gives them; it is compared with
the metric's bound.  ``--compare`` prints how far each median moved
from an earlier ``--out`` file, as a share of that earlier median, and
also compares that move with the bound.  Exits nonzero if any run
failed or any spread or move exceeds its metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", help="write every run's result line here (JSON)")
    ap.add_argument("--compare", help="an earlier --out file to compare medians with")
    args = ap.parse_args(argv)

    results: dict[str, list[dict]] = {w["name"]: [] for w in bench["workloads"]}
    for seed in _seeds(args.seeds):
        for workload in results:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {
                "correct": False, "attempted": 1, "failed": 1, "metrics": {}}
            results[workload].append(res)
            for line in lines:
                if line.startswith(f"{workload} seed="):
                    print(line, flush=True)
            if proc.returncode:
                print(proc.stdout[-3000:] + proc.stderr[-3000:], file=sys.stderr)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(results, fh, indent=1)
    earlier = None
    if args.compare:
        with open(args.compare) as fh:
            earlier = json.load(fh)

    ok = True
    for workload, runs in results.items():
        failed = sum(r["failed"] for r in runs)
        attempted = sum(r["attempted"] for r in runs)
        print(f"\n{workload}: failed/attempted {failed}/{attempted}")
        for m in bench["end_to_end"]:
            values = [r["metrics"][m["name"]]["value"] for r in runs if m["name"] in r["metrics"]]
            if len(values) < 2:
                print(f"  {m['name']}: n={len(values)}, too few values")
                ok = False
                continue
            q1, med, q3 = statistics.quantiles(values, n=4)
            spread = (q3 - q1) / med
            line = (f"  {m['name']:<12} median {med:10.4f} {m['unit']:<3} IQR {q3 - q1:9.4f} "
                    f"n {len(values):2d}  spread {spread:.3f} (bound {m['bound']})")
            if earlier and workload in earlier:
                old = [r["metrics"][m["name"]]["value"] for r in earlier[workload]
                       if m["name"] in r["metrics"]]
                old_med = statistics.median(old)
                move = (med - old_med) / old_med
                line += f"  median vs earlier {move:+.3f}"
                ok = ok and abs(move) <= m["bound"]
            print(line)
            ok = ok and spread <= m["bound"]
        ok = ok and failed == 0
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
