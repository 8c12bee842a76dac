"""Steadiness self-check: runs the benchmark in two sets of ten seeded
runs per workload and reports each end-to-end metric's spread against
its bound.

    python3 perfbench/selfcheck.py

For every workload of BENCHMARK.json and every set, each run gets its
own seed, counting up from 1000. Per metric and set it prints the median
and the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. Every
run must be correct, every spread must stay within the metric's bound,
the second set's median may not be worse than the first's by more than
the bound, and the share of failed operations must be the same in every
set. Writes the raw results to ``.perfbench-work/selfcheck.json``.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETS = 2
RUNS = 10
FIRST_SEED = 1000


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    argv = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().split("\n")[-1])


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    results: dict = {}
    seed = FIRST_SEED
    for s in range(SETS):
        for w in (w["name"] for w in bench["workloads"]):
            for _ in range(RUNS):
                out = run_once(bench["command"], w, seed, bench["run_seconds"])
                results.setdefault(w, [[] for _ in range(SETS)])[s].append(out)
                print(f"set {s} {w} seed {seed}: " + json.dumps(out), flush=True)
                seed += 1
    ok = True
    for w, sets in results.items():
        shares = {round(sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs), 12)
                  for runs in sets}
        correct = all(r["correct"] for runs in sets for r in runs)
        ok &= len(shares) == 1 and correct
        print(f"\n{w}: failed share per set {sorted(shares)}; correct {correct}")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds, line = [], []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs]
                sp = spread(vals)
                meds.append(statistics.median(vals))
                flag = "" if sp <= bound / 3 else (" !" if sp <= bound else " FAIL")
                ok &= sp <= bound
                line.append(f"median {meds[-1]:.4g} spread {sp:.3f}{flag}")
            worse = [(b - a) / a if m["better"] == "lower" else (a - b) / a
                     for a, b in zip(meds, meds[1:])]
            ok &= all(x <= bound for x in worse)
            shift = " ".join(f"{x:+.3f}" for x in worse)
            print(f"  {name:28s} bound {bound:.2f}  " + " | ".join(line)
                  + (f"  worse-by {shift}" if shift else ""))
    out = ROOT / ".perfbench-work" / "selfcheck.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(results))
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
