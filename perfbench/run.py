"""Accounting-pipeline benchmark: one process, one Spark session, one
closed-loop client.

    python3 perfbench/run.py --workload history_upsert --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics of
``perfbench/tracing.py`` with ``--trace 1``). Progress goes to standard
error. Exits with code 2, printing no result, when the package is
missing from the checkout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback
from collections import defaultdict

import harness

WORKLOAD_NAMES = ("history_upsert", "report_queries")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def set_up(sess, workload_cls, seed: int, work, t0: float):
    """Input generation, tables built before timing and the first (cold)
    call of each operation class. Returns the workload and the set-up
    wall since ``t0``, taken before the session started."""
    wl = workload_cls(sess.spark, work, seed)
    t1 = time.perf_counter()
    wl.prepare()
    t2 = time.perf_counter()
    for op in [fn() for fn in wl.op_classes().values()]:
        log(f"cold {op.cls}: {op.wall:.2f}s")
        _must_pass(op)
    log(f"set-up: session {sess.start_s:.2f}s, inputs {t2 - t1:.2f}s, "
        f"cold calls {time.perf_counter() - t2:.2f}s")
    return wl, time.perf_counter() - t0


def warm_up(wl) -> None:
    def unit():
        for op in wl.warm_unit():
            _must_pass(op)

    walls = harness.warm(unit, *wl.WARM)
    log("warm: " + " ".join(f"{w:.3f}" for w in walls))


def _must_pass(op):
    if op.failed or op.wrong:
        raise RuntimeError(f"set-up or warm-up {op.cls}: {op.failed or op.wrong}")
    return op


def measure(wl, seconds: float) -> list:
    """Whole rounds until ``seconds`` have passed."""
    ops = []
    t_end = time.perf_counter() + seconds
    while True:
        ops += wl.run_round()
        if time.perf_counter() >= t_end:
            return ops


def summarize(ops, wl, sess, setup_s: float) -> dict:
    """The end-to-end metrics of one untraced run."""
    walls = defaultdict(list)
    busy = rows = 0
    for op in ops:
        if op.failed:
            continue
        walls[op.cls].append(op.wall)
        busy += op.wall
        rows += op.rows
    for cls, w in walls.items():
        log(f"{cls}: n={len(w)} median {harness.median(w):.3f}s walls "
            + " ".join(f"{x:.3f}" for x in w))
    p50 = harness.geomean(harness.median(w) for w in walls.values())
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (sess.peak_rss_mb(), "MB"),
        "op_p50_s": (p50, "s"),
        "rows_per_s": (rows / busy, "rows/s"),
        "table_bytes_per_input_byte": (wl.table_bytes_per_input_byte(), "B/B"),
    }


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from workloads import WORKLOADS

    work = harness.configure(name)
    if trace:
        import tracing

        return tracing.run_traced(WORKLOADS[name], seed, work)
    t0 = time.perf_counter()
    sess = harness.Session(work)
    try:
        wl, setup_s = set_up(sess, WORKLOADS[name], seed, work, t0)
        warm_up(wl)
        ops = measure(wl, seconds)
        wrong = [op.wrong for op in ops if op.wrong]
        final = wl.final_check()
        if final:
            wrong.append(final)
        for msg in wrong + [op.failed for op in ops if op.failed]:
            log(msg)
        metrics = summarize(ops, wl, sess, setup_s)
    finally:
        sess.stop()
    return {
        "correct": not wrong,
        "attempted": len(ops),
        "failed": sum(1 for op in ops if op.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not harness.package_present():
        log(f"slurm2sql_spark not found under {harness.ROOT}; run from a checkout")
        return 2
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
