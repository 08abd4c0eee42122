"""Engine benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Prints progress to stderr and, as the
last line of stdout, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones).  Exits non-zero when any output
check fails.  See README.md in this directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOADS = ("ingest_backlog", "query_suite")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "cdc_platform_spark", "__init__.py")):
        print(f"perfbench: no cdc_platform_spark package under {ROOT}; run from the repo root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import harness, metrics

    ctx = harness.Ctx(
        root=ROOT,
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cores=len(os.sched_getaffinity(0)),
        t_process=T_PROCESS,
    )
    if args.workload == "ingest_backlog":
        from perfbench.ingest import run
    else:
        from perfbench.queries import run
    try:
        res = run(ctx)
    finally:
        harness.stop_jvm()
        shutil.rmtree(ctx.work, ignore_errors=True)
    for p in res.problems:
        print(f"perfbench: MISMATCH {p}", file=sys.stderr)
    metrics.emit(res, ctx.trace)
    return 0 if res.correct and res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
