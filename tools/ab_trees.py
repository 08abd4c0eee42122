"""A/B two repo trees (e.g. HEAD vs the r13 worktree) on named bench queries.

VERDICT r14 item 1: the driver flagged q10/q05/q26/q51 as regressed at 32
cores, while the 8-core run and unchanged plan shapes said noise.  Settle it
with alternating fresh JVMs per arm (A = tree A, B = tree B), bench.py
methodology inside each JVM (warm-up + min-of-N with GC between runs), min
over all JVMs per arm.

Run:
  PYTHONPATH=/root/repo python tools/ab_trees.py \
      --tree-a /root/repo --tree-b /root/r13tree --rounds 5 \
      q10_agg_pricing_summary q05_join_multiway q26_cdc_append q51_shipping_priority

Perfbench mode (the choosing-metrics §8 protocol): one ``perfbench/run.py``
process per tree per seed, the tree order alternating from pair to pair,
then each end-to-end metric's median and quartiles per tree, the pairs B
won, and failed/attempted operation counts:
  python tools/ab_trees.py --perfbench ingest_backlog --seeds 8 9 10 11 12 \
      --tree-a <parent checkout> --tree-b <change checkout>
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

WORKER = """
import json, sys, time
repo = sys.argv[1]
sys.path.insert(0, repo)
from cdc_platform_spark.operators import load_all
from cdc_platform_spark.session import get_spark

names = json.loads(sys.argv[2])
sf = sys.argv[3]
registry = load_all()
spark = get_spark(app_name="ab-trees")
spark.range(1_000_000).selectExpr("sum(id)").collect()
out = {}
for name in names:
    def run():
        df = registry[name].builder(spark, sf)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    run()  # warm-up
    samples = []
    for _ in range(3):
        samples.append(round(run(), 3))
        import gc
        gc.collect(); spark._jvm.System.gc()
    out[name] = samples
print("RESULT " + json.dumps(out))
spark.stop()
"""


def run_arm(repo: str, names: list[str], sf: str) -> dict[str, list[float]]:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the worker pins sys.path itself
    p = subprocess.run(
        [sys.executable, "-c", WORKER, repo, json.dumps(names), sf],
        capture_output=True, text=True, timeout=1800, env=env, cwd=repo,
    )
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    print(p.stdout[-3000:], file=sys.stderr)
    print(p.stderr[-3000:], file=sys.stderr)
    raise RuntimeError(f"worker failed for {repo}")


def run_perfbench(repo: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` process in ``repo``; its result line."""
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=1800, env=env, cwd=repo,
    )
    lines = p.stdout.strip().splitlines()
    if not lines:
        print(p.stderr[-3000:], file=sys.stderr)
        raise RuntimeError(f"perfbench printed no result line in {repo}")
    return json.loads(lines[-1])


def perfbench_ab(args) -> int:
    """Alternating-order pairs: pair i runs A then B for even i, B then A
    for odd i, so drift in host load does not favour one tree."""
    trees = {"A": args.tree_a, "B": args.tree_b}
    with open(os.path.join(args.tree_a, "BENCHMARK.json")) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    runs: dict[str, list[dict]] = {"A": [], "B": []}
    for i, seed in enumerate(args.seeds):
        for arm in ("AB" if i % 2 == 0 else "BA"):
            res = run_perfbench(trees[arm], args.perfbench, seed, args.seconds)
            runs[arm].append(res)
            vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
            print(f"pair {i} seed {seed} {arm}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
    print(f"\n== {args.perfbench}: A={args.tree_a}  B={args.tree_b}  ({len(args.seeds)} pairs) ==")
    for arm in "AB":
        n_failed = sum(r["failed"] for r in runs[arm])
        n_tried = sum(r["attempted"] for r in runs[arm])
        n_wrong = sum(not r["correct"] for r in runs[arm])
        print(f"{arm}: failed/attempted {n_failed}/{n_tried}, incorrect runs {n_wrong}")
    for name, direction in better.items():
        col = {arm: [r["metrics"][name]["value"] for r in runs[arm]] for arm in "AB"}
        for arm in "AB":
            q1, med, q3 = statistics.quantiles(col[arm], n=4) if len(col[arm]) > 1 else [col[arm][0]] * 3
            print(f"{name} {arm}: min {min(col[arm]):.3f}  q1 {q1:.3f}  median {med:.3f}  "
                  f"q3 {q3:.3f}  max {max(col[arm]):.3f}")
        sign = 1 if direction == "higher" else -1
        wins = sum(sign * (b - a) > 0 for a, b in zip(col["A"], col["B"]))
        gain = statistics.median(col["B"]) / statistics.median(col["A"]) - 1
        print(f"{name}: B better in {wins}/{len(args.seeds)} pairs; "
              f"median B vs A {100 * gain:+.1f}% ({direction} is better)")
    print("RAW " + json.dumps(runs))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--perfbench", metavar="WORKLOAD", help="A/B perfbench/run.py on this workload")
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(8, 18)))
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--tree-a", default="/root/repo")
    ap.add_argument("--tree-b", default="/root/r13tree")
    ap.add_argument("--rounds", type=int, default=5)
    args = ap.parse_args()
    if args.perfbench:
        return perfbench_ab(args)
    if not args.names:
        ap.error("name at least one query, or pass --perfbench WORKLOAD")

    acc = {"A": {n: [] for n in args.names}, "B": {n: [] for n in args.names}}
    for r in range(args.rounds):
        for arm, repo in (("A", args.tree_a), ("B", args.tree_b)):
            res = run_arm(repo, args.names, args.sf)
            for n, samples in res.items():
                acc[arm][n].extend(samples)
            print(f"round {r} arm {arm}({repo}): " + json.dumps(res), flush=True)
    print("\n== per-query summary (min / median over all JVMs) ==")
    for n in args.names:
        a, b = acc["A"][n], acc["B"][n]
        print(
            f"{n}: A={min(a):.3f}/{statistics.median(a):.3f}  "
            f"B={min(b):.3f}/{statistics.median(b):.3f}  "
            f"min-delta A vs B {100 * (min(a) - min(b)) / min(b):+.1f}%"
        )
    print("RAW " + json.dumps(acc))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
