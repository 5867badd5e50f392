"""Seeded benchmark inputs, written once per (workload, seed, size).

Transcripts are ``synthesize_transcripts(spark, n, seed,
partitions=SPLITS)``'s rows, written as parquet, one file per split, so
every pass reads them back through ``spark.read.parquet`` like a table
scan. Beside each input sits ``meta.json``: the route counts, the
warning codes the planted turns must degrade to, and the expected
output (triple count and fingerprint), all computed once.

Generation runs in a child process with its own Spark session::

    python3 perfbench/inputs.py --seed 1 --n-convs 30000 [--canonicalize]

A run that has to generate its input waits for that process and leaves
its wall out of ``setup_s``. Its own set-up then starts as cold as that
of a run that finds the input cached: no JVM, no JIT warm-up and no
Python workers carried over from generation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

CACHE_DIR = ".perfbench"
SPLITS = 4

TRIPLE_COLS = ("graph", "subj", "pred", "obj_kind", "obj_value",
               "obj_datatype", "obj_lang")
TURN_TRIPLE_COLS = ("conv_id", "turn_idx") + TRIPLE_COLS

WORK_FACTOR_CODE = "canonicalization work factor exceeded"
BAD_ID_CODE = "invalid @id value"
DEPTH_CODE = "document depth exceeded"
JSON_LITERAL_CODE = "invalid JSON literal"
PLANTED_PER_CLASS = 4
# the Python workers' recursion limit, the interpreter default
WORKER_RECURSION_LIMIT = 1000


def _nested(depth: int) -> str:
    return ('{"@context":{"n":"https://example.org/vocab#n"},'
            + '"n":{' * depth + '"@id":"https://example.org/deep"'
            + '}' * depth + '}')


def _json_literal(value: str) -> str:
    return ('{"@context":{"p":{"@id":"https://example.org/vocab#p",'
            '"@type":"@json"}},"@id":"https://example.org/lit","p":'
            + value + '}')


_K6_CLIQUE = json.dumps(
    {"@context": {"p": "https://example.org/vocab#p"},
     "@graph": [{"@id": f"_:n{i}",
                 "p": [{"@id": f"_:n{j}"} for j in range(6) if j != i]}
                for i in range(6)]},
    separators=(",", ":"))

# planted class -> (text, warning code it must degrade to, or None when
# the turn must fall back to the envelope document without a warning)
PLANTED = {
    "k6": (_K6_CLIQUE, WORK_FACTOR_CODE),
    "bad_id": (
        '{"@id": 5, "https://example.org/vocab#p": "x"}', BAD_ID_CODE),
    # parses, then runs out of stack during expansion
    "deep_expand": (_nested(700), DEPTH_CODE),
    # parses to an infinite float, which RFC 8785 refuses in rdf:JSON
    "inf_json": (_json_literal("1e999"), JSON_LITERAL_CODE),
    # the next three never parse: each falls back to the envelope
    "deep_text": (_nested(50_000), None),
    "nan_json": (_json_literal("NaN"), None),
    "invalid_json": ('{"@id": "https://example.org/cut", "p": [1, 2', None),
}


def planted_codes() -> dict[str, int]:
    codes: dict[str, int] = {}
    for _text, code in PLANTED.values():
        if code:
            codes[code] = codes.get(code, 0) + PLANTED_PER_CLASS
    return codes


def fingerprint_cols(cols):
    """(count, order-independent xxhash64 sum) aggregate expressions."""
    from pyspark.sql import functions as F

    return (F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("fp"))


def fingerprint(df, cols) -> tuple[int, str]:
    row = df.agg(*fingerprint_cols(cols)).collect()[0]
    return int(row["n"]), str(row["fp"] or 0)


def planted_rows(seed: int) -> list[tuple]:
    """PLANTED_PER_CLASS turns of every class, placed by the seed."""
    from jsonld_js_spark.sources.transcripts import BASE_TS, _h

    return [(f"plant-{seed}-{cls}-{k}", 1 + _h("plant", seed, cls, k) % 15,
             "assistant", text, None, BASE_TS)
            for cls, (text, _code) in sorted(PLANTED.items())
            for k in range(PLANTED_PER_CLASS)]


def input_dir(root: str, seed: int, n_convs: int, canonicalize: bool) -> str:
    kind = "planted" if canonicalize else "plain"
    return os.path.join(root, CACHE_DIR, "inputs",
                        f"{kind}-s{seed}-n{n_convs}")


def load_meta(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "meta.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def save_meta(base: str, meta: dict) -> None:
    tmp = os.path.join(base, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, os.path.join(base, "meta.json"))


def ensure_transcripts(root: str, seed: int, n_convs: int,
                       canonicalize: bool) -> tuple[str, dict, float]:
    """(parquet dir, meta, seconds spent generating); generates the
    input in a child process unless it is already cached."""
    base = input_dir(root, seed, n_convs, canonicalize)
    tx_dir = os.path.join(base, "tx")
    meta = load_meta(base)
    if meta is not None:
        return tx_dir, meta, 0.0
    t0 = time.perf_counter()
    cmd = [sys.executable, os.path.abspath(__file__), "--seed", str(seed),
           "--n-convs", str(n_convs)]
    if canonicalize:
        cmd.append("--canonicalize")
    # the child's stdout goes to stderr: stdout ends with the result line
    subprocess.run(cmd, cwd=root, stdout=sys.stderr, check=True)
    meta = load_meta(base)
    if meta is None:
        raise RuntimeError(f"input generation wrote no {base}/meta.json")
    return tx_dir, meta, time.perf_counter() - t0


def expected_triples(spark, tx_dir: str) -> tuple[int, str]:
    """Count and fingerprint of the pure-kernel ``extract_triples``
    output: the oracle for the hybrid path on the same input."""
    from jsonld_js_spark.operators.pipeline import (extract_triples,
                                                    triples_only)

    return fingerprint(triples_only(extract_triples(
        spark.read.parquet(tx_dir))), TURN_TRIPLE_COLS)


def expected_canonized(spark, tx_dir: str) -> tuple[int, str, dict]:
    """Count, fingerprint and warning codes of ``turn_to_quads(...,
    canonicalize=True)`` called in this process on every input row: the
    oracle for ``extract_triples(tx, canonicalize=True)``, which runs the
    same kernel in the Python workers behind Arrow batches."""
    import pandas as pd

    from jsonld_js_spark.kernel.tordf import quads_to_rows
    from jsonld_js_spark.operators.pipeline import turn_to_quads

    pdf = spark.read.parquet(tx_dir).toPandas()
    out: dict[str, list] = {c: [] for c in TURN_TRIPLE_COLS}
    codes: dict[str, int] = {}
    # a driver-side import (jedi) raises the recursion limit, which would
    # let the deep planted document expand here but not in a worker
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(WORKER_RECURSION_LIMIT)
    try:
        for conv_id, turn_idx, role, text, tool, ts in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["role"], pdf["text"],
                pdf["tool"], pdf["ts"]):
            quads, events = turn_to_quads(conv_id, int(turn_idx), role,
                                          text, tool, ts, canonicalize=True)
            for row in quads_to_rows(quads):
                out["conv_id"].append(conv_id)
                out["turn_idx"].append(int(turn_idx))
                for col, value in zip(TRIPLE_COLS, row):
                    out[col].append(value)
            for e in events:
                codes[e["code"]] = codes.get(e["code"], 0) + 1
    finally:
        sys.setrecursionlimit(limit)
    schema = ", ".join(f"{c} {'int' if c == 'turn_idx' else 'string'}"
                       for c in TURN_TRIPLE_COLS)
    n, fp = fingerprint(spark.createDataFrame(pd.DataFrame(out), schema),
                        TURN_TRIPLE_COLS)
    return n, fp, codes


def generate(spark, base: str, seed: int, n_convs: int,
             canonicalize: bool) -> dict:
    """Write the seeded input under ``base`` and return its meta."""
    from pyspark.sql import functions as F

    from jsonld_js_spark.sources.transcripts import (TRANSCRIPT_SCHEMA,
                                                     synthesize_transcripts)

    tx_dir = os.path.join(base, "tx")
    t0 = time.perf_counter()
    tx = synthesize_transcripts(spark, n_convs, seed, partitions=SPLITS)
    if canonicalize:
        # hash the planted conversations in among the generated ones,
        # keeping SPLITS balanced splits
        tx = tx.unionByName(spark.createDataFrame(
            planted_rows(seed), TRANSCRIPT_SCHEMA)).repartition(
                SPLITS, "conv_id")
    tx.write.parquet(tx_dir)
    tx = spark.read.parquet(tx_dir)
    doc = ((F.col("role") == "assistant") & F.col("text").startswith("{")
           & ~F.col("conv_id").startswith("plant-"))
    routes = {"turns": tx.count(), "doc_turns": tx.filter(doc).count()}
    generate_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    codes = planted_codes() if canonicalize else {}
    if canonicalize:
        n, fp, seen = expected_canonized(spark, tx_dir)
        if seen != codes:
            raise RuntimeError(f"planted turns degraded to {seen}, "
                               f"expected {codes}")
    else:
        n, fp = expected_triples(spark, tx_dir)
    return {"seed": seed, "n_convs": n_convs, "canonicalize": canonicalize,
            "routes": routes, "warning_codes": codes,
            "expected_triples": {"n": n, "fp": fp,
                                 "computed_s": time.perf_counter() - t0},
            "generate_s": generate_s}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Write one seeded input.")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--n-convs", type=int, required=True)
    p.add_argument("--canonicalize", action="store_true")
    args = p.parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    from sparkenv import build, prepare_environment, stop_jvm

    cache = os.path.join(root, CACHE_DIR)
    prepare_environment(root, cache)
    base = input_dir(root, args.seed, args.n_convs, args.canonicalize)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    spark = build(len(os.sched_getaffinity(0)), cache)
    try:
        meta = generate(spark, base, args.seed, args.n_convs,
                        args.canonicalize)
    finally:
        stop_jvm(spark)
    save_meta(base, meta)
    return 0


# ---------------------------------------------------------------------
# similarity corpus: documents + embeddings tables in the schema the
# declared dedup/simsearch queries read (one parquet file each)
# ---------------------------------------------------------------------

_DOC_WORDS = ("spark arrow graph node edge triple quad batch shuffle key "
              "value join scan sort merge window stream table column row "
              "hash token vector query filter group frame index cache "
              "block split task stage plan codec").split()
N_DOCS = 1000
N_VECS = 600
EMB_DIM = 64


def ensure_similarity(root: str, seed: int) -> str:
    """Seeded documents/embeddings tables; returns their directory."""
    import numpy as np
    import pandas as pd

    base = os.path.join(root, CACHE_DIR, "inputs", f"similarity-s{seed}")
    done = os.path.join(base, "_done")
    if os.path.exists(done):
        return base
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i % 6 == 5:
            # near duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(
                rng.choice(_DOC_WORDS))
        else:
            words = list(rng.choice(_DOC_WORDS,
                                    size=int(rng.integers(12, 60))))
        texts.append(" ".join(words))
    docs = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "zh"], size=N_DOCS),
        "source": [f"src{i % 5}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    docs.to_parquet(os.path.join(base, "documents.parquet"), index=False)
    vecs = rng.normal(0.0, 0.15, size=(N_VECS, EMB_DIM)).astype("float32")
    emb = pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype="int64"),
        "embedding": list(vecs),
        "label": rng.integers(0, 5, size=N_VECS).astype("int32"),
    })
    emb.to_parquet(os.path.join(base, "embeddings.parquet"), index=False)
    open(done, "w").close()
    return base


if __name__ == "__main__":
    sys.exit(main())
