"""KG-build benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload hybrid_extract --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Load is a closed loop: one client, one
job at a time, on local[<cores>]. Inputs are generated from the seed
once and cached under .perfbench/; the run record (set-up, every pass
with its box telemetry, spans, plan census) goes to .perfbench/runs/.
With --trace 0 the result carries the end-to-end metrics, with
--trace 1 the per-layer ledger. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

ROOT = os.getcwd()
WARM_PASSES = 2
MIN_PASSES = 4          # timed passes of an untraced run
MIN_TRACE_PAIRS = 2     # untraced/traced pass pairs of a traced run


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import jsonld_js_spark.operators.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from "
              f"{ROOT}: {e}", file=sys.stderr)
        return 2

    import inputs
    import ledger
    from sparkenv import build, prepare_environment, stop_jvm
    from workloads import WORKLOADS, check_pass, run_pass

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    cache = os.path.join(ROOT, inputs.CACHE_DIR)
    prepare_environment(ROOT, cache)
    cores = len(os.sched_getaffinity(0))
    record: dict = {"workload": w.name, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "cores": cores, "n_convs": w.n_convs,
                    "box_start": ledger.box_state()}

    tx_dir, meta, generate_s = inputs.ensure_transcripts(
        ROOT, args.seed, w.n_convs, w.canonicalize)
    record["generate_wall_s"] = generate_s

    spark = None
    try:
        # set-up: JVM launch, session, Python-worker start and the untimed
        # warm passes, timed from process start without input generation.
        # After a single warm pass the next one still ran 20-40% slower.
        spark = build(cores, cache)
        tx = spark.read.parquet(tx_dir)
        warm = [run_pass(w, spark, tx) for _ in range(WARM_PASSES)]
        setup_s = time.perf_counter() - T_PROCESS - generate_s
        record["setup_s"] = setup_s
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        # peak RSS covers the timed passes
        ledger.reset_peak_rss(jvm_pid)

        tracer = ledger.Tracer()
        passes: list[dict] = []
        t_start = time.perf_counter()
        while (len(passes) < (2 * MIN_TRACE_PAIRS if args.trace
                              else MIN_PASSES)
               or time.perf_counter() - t_start < args.seconds):
            # trace runs alternate untraced and traced passes
            traced = bool(args.trace) and len(passes) % 2 == 1
            rec = {"traced": traced, "box": ledger.box_state(), "output": None}
            group = f"pass-{len(passes)}"
            since = ledger.sql_execution_count(spark)
            spark.sparkContext.setJobGroup(group, group)
            try:
                t0 = time.perf_counter()
                if traced:
                    with tracer.span("pass"):
                        rec["output"] = run_pass(w, spark, tx)
                else:
                    rec["output"] = run_pass(w, spark, tx)
                rec["wall_s"] = time.perf_counter() - t0
                if traced:
                    rec["jobs"] = ledger.job_tasks(spark, group)
                    rec["census"] = ledger.plan_census(spark, since)
            except Exception:  # noqa: BLE001 - a failed pass is counted
                traceback.print_exc()
            passes.append(rec)
        spark.sparkContext.setJobGroup("ledger", "ledger")
        record["peak_rss_mb"] = ledger.peak_rss_mb(jvm_pid)

        warm_ok = all(check_pass(o, meta) for o in warm)
        for rec in passes:
            rec["ok"] = (rec["output"] is not None
                         and check_pass(rec["output"], meta))
        record["input"] = {"dir": os.path.relpath(tx_dir, ROOT), **meta}
        record["warm_outputs"] = warm
        record["passes"] = passes

        good = [p for p in passes if p["ok"]]
        failed = len(passes) - len(good)
        if not good or (args.trace and not any(p["traced"] for p in good)):
            print("perfbench: every pass failed", file=sys.stderr)
            return 1
        correct = failed == 0 and warm_ok
        triples = good[0]["output"].get("triples", 0)

        if args.trace:
            untraced = statistics.median(p["wall_s"] for p in good
                                         if not p["traced"])
            last = [p for p in good if p["traced"]][-1]
            wall = statistics.median(p["wall_s"] for p in good if p["traced"])
            metrics, ledger_ok = ledger.run_ledger(
                w, spark, tracer, root=ROOT, seed=args.seed, tx_dir=tx_dir,
                meta=meta, cores=cores, pass_wall=wall)
            correct = correct and ledger_ok
            metrics["trace.overhead_s"] = wall - untraced
            for k, v in last["jobs"].items():
                metrics[f"spark.{k}"] = v
            for k, v in last["census"].items():
                metrics[f"plan.{k}"] = v
            units = ledger.LAYER_METRICS
            record["spans"] = tracer.spans
        else:
            wall = statistics.median(p["wall_s"] for p in good)
            metrics = {"wall_s": wall, "triples_per_s": triples / wall,
                       "setup_s": setup_s,
                       "peak_rss_mb": record["peak_rss_mb"]}
            units = {"wall_s": "s", "triples_per_s": "1/s", "setup_s": "s",
                     "peak_rss_mb": "MB"}
        record["ops_failed_share"] = failed / len(passes)
        record["metrics"] = metrics
        record["box_end"] = ledger.box_state()
    finally:
        if spark is not None:
            stop_jvm(spark)

    runs = os.path.join(cache, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{w.name}-seed{args.seed}-trace"
                                 f"{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": correct, "attempted": len(passes), "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
