"""Interleaved A/B of a git ref (the parent) against the checkout (the change).

    python3 scripts/ab.py <ref> [--workload W]... [--query Q]...
                          [--pairs 10] [--seed 1] [--trace 1]

Workload mode, the default (every workload of BENCHMARK.json): each side
runs BENCHMARK.json's command from its own tree, `--workload W --seed S
--seconds <run_seconds> --trace 0`, and the metrics are its end-to-end
metrics. Query mode (--query Q): each side imports the engine from its
own tree and times one `queries.QUERIES` leaf on $SPARK_GRAFT_SF_DIR
(default sf0.1, as bench.py) with the noop sink after clearCache: one
untimed warm rep, then the median of 3 reps is `wall_s`.

Every run is a fresh process on all the cores this process may use.
Each pair runs both sides, alternating which goes first. The parent is a
detached worktree under .perfbench/ab/, removed on exit. Each run prints
one line with its box telemetry to stderr; each (workload, metric) gets
one row on stdout with both medians, the parent's IQR, the change's
wins, failed/attempted operations per side and a verdict:

- regression: the change fails a larger share of operations, or its
  median is worse than the parent's by more than the metric's bound
- gain: the change wins at least 9/10 of the pairs and its median is
  better by more than the parent's IQR
- unresolved: the parent's IQR is wider than the bound and not every
  change run is better than every parent run
- no regression: otherwise

With --trace 1, after its pairs each workload runs one traced pair
(`--trace 1`, parent first) and prints the parent's and the change's
value of every per-layer metric of BENCHMARK.json, with no verdict: one
traced run per side shows which layer moved, it does not judge it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(REPO, "perfbench")
WORKTREE = os.path.join(REPO, ".perfbench", "ab", "parent")


def verdict(parent: list, change: list, better: str, bound: float,
            failed: tuple = ((0, 1), (0, 1))) -> dict:
    """Judge one metric from per-pair samples (None = no valid run).
    `failed` is ((failed, attempted) of the parent, of the change)."""
    (pf, pa), (cf, ca) = failed
    p = [x for x in parent if x is not None]
    c = [x for x in change if x is not None]
    sign = 1 if better == "higher" else -1
    pm = statistics.median(p) if p else float("nan")
    cm = statistics.median(c) if c else float("nan")
    q1, _, q3 = statistics.quantiles(p, n=4) if len(p) > 1 else (pm,) * 3
    row = {"parent": pm, "change": cm, "iqr": q3 - q1, "pairs": len(parent),
           "wins": sum(a is not None and b is not None and sign * (b - a) > 0
                       for a, b in zip(parent, change))}
    if not c or cf * pa > pf * ca:
        row["verdict"] = "regression"
    elif not p:
        row["verdict"] = "unresolved"
    elif 10 * row["wins"] >= 9 * len(parent) and sign * (cm - pm) > row["iqr"]:
        row["verdict"] = "gain"
    elif (row["iqr"] > bound * abs(pm)
          and not min(sign * x for x in c) > max(sign * x for x in p)):
        row["verdict"] = "unresolved"
    elif sign * (cm - pm) < -bound * abs(pm):
        row["verdict"] = "regression"
    else:
        row["verdict"] = "no regression"
    return row


def trace_rows(name: str, parent: dict | None, change: dict | None,
               per_layer: list) -> list:
    """The lines of one traced pair: each per-layer metric with the
    parent's and the change's value ('-' where a run has none)."""
    def shown(res, metric):
        m = (res or {}).get("metrics", {}).get(metric)
        return "-" if m is None else f"{m['value']:.4g}"

    def state(res):
        return ("FAILED" if res is None else
                f"correct={res['correct']} failed {res['failed']}/"
                f"{res['attempted']}")

    return ([f"trace {name}: parent {state(parent)}; change {state(change)}"]
            + [f"{name:24} {m['name']:34} {shown(parent, m['name']):>12} "
               f"{shown(change, m['name']):>12} {m['unit']}"
               for m in per_layer])


def time_query(query: str) -> None:
    """One query-mode run: the engine from the working directory's tree.
    Prints a result line shaped like perfbench/run.py's."""
    sys.path.insert(0, PERFBENCH)
    from sparkenv import build, prepare_environment, stop_jvm

    tree = os.getcwd()
    cache = os.path.join(tree, ".perfbench")
    prepare_environment(tree, cache)
    from jsonld_js_spark.queries import QUERIES

    fn = QUERIES[query][0]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build(len(os.sched_getaffinity(0)), cache)
    try:
        def rep() -> float:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        rep()
        wall = statistics.median(rep() for _ in range(3))
    finally:
        stop_jvm(spark)
    print(json.dumps({"correct": True, "attempted": 1, "failed": 0,
                      "metrics": {"wall_s": {"value": wall, "unit": "s"}}}))


def run_side(tree: str, cmd: list, env: dict | None) -> dict | None:
    """Run one side in a fresh process; its result line, or None."""
    out = subprocess.run(cmd, cwd=tree, env=env, capture_output=True,
                         text=True)
    try:
        res = json.loads(out.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        res = None
    if out.returncode or res is None:
        print(out.stderr[-2000:], file=sys.stderr)
        return None
    return res


def ab(name: str, cmd: list, env: dict | None, metrics: list,
       pairs: int) -> list:
    from ledger import box_state  # lazy: ledger imports pyspark

    trees = {"parent": WORKTREE, "change": REPO}
    runs: dict = {"parent": [], "change": []}
    for i in range(pairs):
        for side in ("parent", "change")[::1 if i % 2 == 0 else -1]:
            box = box_state()
            res = run_side(trees[side], cmd, env)
            runs[side].append(res)
            shown = ("FAILED" if res is None else " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
            print(f"{name} pair {i} {side}: {shown} (load "
                  f"{box.get('loadavg_1m')}, {box.get('cpu_mhz_mean')} MHz)",
                  file=sys.stderr, flush=True)

    def failed(side):
        return (sum(r["failed"] if r else 1 for r in runs[side]),
                sum(r["attempted"] if r else 1 for r in runs[side]))

    def samples(side, metric):
        return [r["metrics"][metric]["value"] if r and r["correct"] else None
                for r in runs[side]]

    fails = (failed("parent"), failed("change"))
    return [{"name": name, "metric": m["name"], "failed": fails,
             **verdict(samples("parent", m["name"]),
                       samples("change", m["name"]), m["better"], m["bound"],
                       fails)}
            for m in metrics]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("ref", help="the parent: any git commit-ish")
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--query", action="append", default=[])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: one traced pair per workload after its pairs")
    args = ap.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or ([] if args.query else
                                  [w["name"] for w in bench["workloads"]])
    wall = [m for m in bench["end_to_end"] if m["name"] == "wall_s"]
    query_env = {**os.environ, "PYTHONPATH": os.path.join(REPO, "scripts")}
    sys.path[:0] = [PERFBENCH, REPO]

    def git(*a, check=True):
        subprocess.run(["git", *a], cwd=REPO, check=check,
                       capture_output=True)

    def run_cmd(w, trace):
        return [*bench["command"], "--workload", w, "--seed", str(args.seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]

    git("worktree", "remove", "--force", WORKTREE, check=False)
    git("worktree", "add", "--detach", WORKTREE, args.ref)
    traced = []
    try:
        rows = []
        for w in workloads:
            rows += ab(w, run_cmd(w, 0), None, bench["end_to_end"],
                       args.pairs)
            if args.trace:
                traced += trace_rows(
                    w, run_side(WORKTREE, run_cmd(w, 1), None),
                    run_side(REPO, run_cmd(w, 1), None), bench["per_layer"])
        worker = "import sys, ab; ab.time_query(sys.argv[1])"
        rows += [row for q in args.query for row in ab(
            q, [sys.executable, "-c", worker, q], query_env, wall,
            args.pairs)]
    finally:
        git("worktree", "remove", "--force", WORKTREE, check=False)
    print(f"{'workload/query':24} {'metric':14} {'parent':>10} {'change':>10} "
          f"{'parent IQR':>10} {'wins':>6} {'failed p':>9} {'failed c':>9}  "
          f"verdict")
    for r in rows:
        (pf, pa), (cf, ca) = r["failed"]
        print(f"{r['name']:24} {r['metric']:14} {r['parent']:10.4g} "
              f"{r['change']:10.4g} {r['iqr']:10.4g} "
              f"{r['wins']:>3}/{r['pairs']:<2} {f'{pf}/{pa}':>9} "
              f"{f'{cf}/{ca}':>9}  {r['verdict']}")
    if traced:
        print(f"\n{'workload':24} {'per-layer metric':34} {'parent':>12} "
              f"{'change':>12} unit")
        print("\n".join(traced))
    return 0


if __name__ == "__main__":
    sys.exit(main())
