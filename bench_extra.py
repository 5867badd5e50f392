"""Per-query isolation harness for the optimization rounds (guide §1).

NOT the driver's bench (bench.py is frozen): this file times individual
queries with the noop sink, repeats them, and dumps
``.explain("formatted")`` plans to ``plans/<tag>/<query>_<suffix>.txt``
so plan-shape claims in OPTIMIZATION_r*.md are checkable offline.

Usage:
    python bench_extra.py [--reps 3] [--plans-dir plans/r06]
                          [--suffix before|after] [--out timings.json]
                          [query ...]

Plans are dumped only when ``--plans-dir`` is given; without it the
harness only times the queries.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import time
from contextlib import redirect_stdout


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-dir", default=None,
                    help="dump explain('formatted') per query here")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--out", default=None, help="write timings JSON here")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from jsonld_js_spark.queries import QUERIES
    from jsonld_js_spark.session import build_session

    spark = build_session("jsonld-js-spark-bench-extra", cores=cpus,
                          shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    skip = {"kg_extract_transcripts", "kg_canonize_transcripts",
            "kg_full_build"}
    names = args.queries or [n for n in QUERIES if n not in skip]

    results: dict[str, dict] = {}
    for name in names:
        fn, _sql = QUERIES[name]
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            spark.catalog.clearCache()
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
        walls = []
        for _ in range(args.reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} [{args.suffix}]")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        walls_sorted = sorted(walls)
        results[name] = {"median": walls_sorted[len(walls) // 2],
                         "min": walls_sorted[0], "all": walls}
        print(json.dumps({name: results[name]}), flush=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
            f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
