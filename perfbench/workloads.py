"""The benchmark's workloads: one timed pass each, plus its output check.

A pass builds its DataFrame afresh: re-running an already executed
DataFrame would reuse its materialized shuffle stages and time nothing.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F

from jsonld_js_spark.operators.pipeline import (extract_triples,
                                                extract_triples_hybrid,
                                                triples_only)

from inputs import TURN_TRIPLE_COLS, fingerprint, fingerprint_cols


@dataclass(frozen=True)
class Workload:
    name: str
    n_convs: int
    # every turn through the canonizing kernel, on an input with
    # planted degradation cases
    canonicalize: bool = False


WORKLOADS = {w.name: w for w in (
    Workload("hybrid_extract", n_convs=20_000),
    Workload("kernel_canonize", n_convs=2_500, canonicalize=True),
)}


def hybrid_triples(tx):
    return triples_only(extract_triples_hybrid(tx))


def run_pass(w: Workload, spark, tx) -> dict:
    """One pass of the workload; returns what its check needs."""
    if w.canonicalize:
        ex = extract_triples(tx, canonicalize=True)
        code = F.when(F.col("kind") == "warning", F.col("obj_value"))
        rows = (ex.groupBy("kind", code.alias("code"))
                .agg(*fingerprint_cols(TURN_TRIPLE_COLS)).collect())
        triples = [r for r in rows if r["kind"] == "triple"]
        return {"triples": triples[0]["n"] if triples else 0,
                "fp": str(triples[0]["fp"]) if triples else "0",
                "warning_codes": {r["code"]: r["n"] for r in rows
                                  if r["kind"] == "warning"}}
    n, fp = fingerprint(hybrid_triples(tx), TURN_TRIPLE_COLS)
    return {"triples": n, "fp": fp}


def check_pass(observed: dict, meta: dict) -> bool:
    """Is one pass's output equal to the input's stored oracle?"""
    exp = meta["expected_triples"]
    return ((observed["triples"], observed["fp"]) == (exp["n"], exp["fp"])
            and observed.get("warning_codes", {}) == meta["warning_codes"])
