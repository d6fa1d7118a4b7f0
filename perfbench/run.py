"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_flat --seed 1 --seconds 8 --trace 0

Run from the repository root.  With ``--trace 0`` the run measures the
workload with tracing off and reports the end-to-end metrics; with
``--trace 1`` it runs the traced layer suite (perfbench/trace.py) and
reports the per-layer metrics.  Human-readable lines start with ``#``;
the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  The exit code is 0 only
when every operation's outputs matched the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402


def _emit(metrics: dict, attempted: int, failed: int) -> int:
    for name, (value, unit) in metrics.items():
        print(f"# {name:<44} {value:>16.6g} {unit}")
    print(f"# {'failed_frac':<44} {failed / max(attempted, 1):>16.6g} ratio"
          f"  ({failed}/{attempted} operations)")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 and attempted > 0 else 1


def run_metrics(w, mods, work: str, cores: int, seconds: int) -> int:
    from perfbench.workloads import end_to_end

    w.prepare(seconds)
    with harness.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = harness.build(mods.session, work, cores)
        try:
            w.warm(spark)
            setup_s = time.perf_counter() - t0
            m = w.measure(spark, seconds)
        finally:
            harness.stop_jvm(spark)
    failed = sum(not o.ok for o in m.ops)
    if not any(o.ok and o.timed for o in m.ops):
        print("# every operation failed; no metrics", file=sys.stderr)
        return _emit({}, len(m.ops), failed)
    metrics, pct, n = end_to_end(m, setup_s, rss.peak, w.latency)
    print(f"# {w.name} seed={w.seed} local[{cores}] ops={len(m.ops)} "
          f"setup_s={setup_s:.2f}"
          + (f" latency samples={n} tail=p{pct}" if w.latency else ""))
    print("# op latencies: " + " ".join(
        f"{o.latency_s:.2f}" + ("" if o.timed else "(untimed)")
        for o in m.ops))
    print(f"# context: alu_burn_s={harness.alu_burn_s():.4f} "
          f"mem_burn_s={harness.mem_burn_s():.4f} (never a divisor)")
    return _emit(metrics, len(m.ops), failed)


def main() -> int:
    from perfbench.workloads import WORKLOADS, load_mods

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # fails here, before any work, when the program is not in the tree
    mods = load_mods()
    import tests.oracle  # noqa: F401

    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    harness.prepare_env(work)
    cores = harness.nproc()
    try:
        if args.trace:
            from perfbench import trace

            return trace.run(args.workload, args.seed, args.seconds, ROOT,
                             work, mods, cores, _emit)
        w = WORKLOADS[args.workload](work, args.seed, mods)
        return run_metrics(w, mods, work, cores, args.seconds)
    finally:
        harness.reap_children()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
