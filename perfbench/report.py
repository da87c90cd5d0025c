"""Run the benchmark over several workloads and seeds, one run at a time,
and print every metric by name and unit with its median, quartiles and
spread (quartile distance as a share of the median), plus
docs_failed_frac per workload.

    python3 perfbench/report.py                       # every workload, seeds 1-3
    python3 perfbench/report.py --workloads crawl_uniform --seeds 1 2 3 4 5
    python3 perfbench/report.py --trace 1 --seeds 7

Run from the repository root. Raw results are appended, one JSON line per
run, to ``--out`` (default ``.perfbench-work/report.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import WORK, WORKLOADS  # noqa: E402


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else None
    return {
        "workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
        "wall_s": time.perf_counter() - t0, "result": res,
        "log": [ln for ln in p.stderr.splitlines() if ln.startswith("[perfbench]")],
        "stderr_tail": p.stderr.strip().splitlines()[-5:] if res is None else [],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS), choices=list(WORKLOADS))
    ap.add_argument("--seeds", nargs="+", type=int, default=[1, 2, 3])
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=str(WORK / "report.jsonl"))
    args = ap.parse_args()
    if args.seconds is None:
        with open(HERE.parent / "BENCHMARK.json") as f:
            args.seconds = json.load(f)["run_seconds"]

    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    bad = 0
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            r = run_once(w, seed, args.seconds, args.trace)
            with open(args.out, "a") as f:
                f.write(json.dumps(r) + "\n")
            print(f"{w} seed={seed}: exit {r['exit']} in {r['wall_s']:.1f} s", file=sys.stderr)
            for line in r["stderr_tail"]:
                print(f"    {line}", file=sys.stderr)
            if r["result"] is None or r["exit"] != 0:
                bad += 1
            if r["result"] is not None:
                runs.append(r)
        if not runs:
            continue
        attempted = sum(r["result"]["attempted"] for r in runs)
        failed = sum(r["result"]["failed"] for r in runs)
        walls = [r["wall_s"] for r in runs]
        print(f"\n## {w}  ({len(runs)} runs, seeds {args.seeds}, run wall "
              f"median {statistics.median(walls):.1f} s, max {max(walls):.1f} s)")
        print(f"docs_failed_frac = {failed / attempted} (ratio, {failed}/{attempted} docs)")
        print(f"{'metric':<34} {'unit':<8} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
        for name in runs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            unit = runs[0]["result"]["metrics"][name]["unit"]
            med, q1, q3, spr = spread(vals)
            print(f"{name:<34} {unit:<8} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spr:>8.4f}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
