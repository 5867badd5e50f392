"""Focused gates for the round-6 optimization internals.

Each test pins an equivalence the r6 rewrites rely on:
  - per-row minhash banding == the explode/groupBy construction it
    replaced (bit-for-bit, vs an independent pure-Python reference);
  - shape collapse keeps the MIN doc_id and THAT row's token array;
  - the reps subtree really is window-free (plan shape);
  - the integer verify predicate and its size gate are exactly
    round(I/U,4) >= t, also at subset pairs beyond the corpus sizes;
  - frontier label propagation converges on a deep chain;
  - release=False leaves caller-registered caches alive.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from jsonld_js_spark.operators import cachereg
from jsonld_js_spark.operators.dedup import (
    collapse_exact_shapes, dedup_components, jaccard_at_least,
    minhash_band_structs, minhash_lsh_pairs, round4_boundary_num)

DOCS = [
    (1, ["alpha", "beta", "gamma"]),
    (2, ["gamma", "beta", "alpha"]),          # same SET as 1, later id
    (3, ["alpha", "beta"]),
    (4, ["delta"]),
    (5, []),                                   # empty: must drop
    (7, ["beta", "alpha"]),                    # same set as 3
]


def _ref_band_sigs(toks, n_minhash=12, n_bands=3):
    """Independent pure-Python replica of the documented construction:
    token -> 60-bit md5 compaction -> two minhash halves per md5 ->
    band sig = md5 of '|'-joined minhash decimals."""
    half = (n_minhash + 1) // 2
    rpb = n_minhash // n_bands
    th = [str(int(hashlib.md5(t.encode()).hexdigest()[:15], 16))
          for t in toks]
    mhs = []
    for g in range(half):
        hexes = [hashlib.md5(f"g{g}|{h}".encode()).hexdigest() for h in th]
        mhs.append(min(int(x[0:15], 16) for x in hexes))
        mhs.append(min(int(x[15:30], 16) for x in hexes))
    return [(b, hashlib.md5(
        "|".join(str(mhs[b * rpb + r]) for r in range(rpb)).encode())
        .hexdigest()) for b in range(n_bands)]


def test_minhash_band_structs_matches_reference(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in DOCS if t],
        "doc_id long, toks array<string>")
    rows = (df.select("doc_id",
                      F.explode(minhash_band_structs(F.col("toks"), 12, 3))
                      .alias("bs"))
            .select("doc_id", "bs.band", "bs.sig").collect())
    got = {(r.doc_id, r.band): r.sig for r in rows}
    for doc_id, toks in DOCS:
        if not toks:
            continue
        for band, sig in _ref_band_sigs(toks):
            assert got[(doc_id, band)] == sig, (doc_id, band)


def test_collapse_exact_shapes_keeps_min_id_and_its_array(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, toks array<string>")
    reps = {r.doc_id: list(r.toks)
            for r in collapse_exact_shapes(df).collect()}
    # min ids per shape survive; empty-toks doc 5 is dropped
    assert set(reps) == {1, 3, 4}
    # the kept array is the MIN row's (order included), not a peer's
    assert reps[1] == ["alpha", "beta", "gamma"]
    assert reps[3] == ["alpha", "beta"]


def test_reps_plan_has_no_window(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, toks array<string>")
    plan = collapse_exact_shapes(df)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Window" not in plan
    assert "Generate" in plan  # the single-row materialization barrier


@pytest.mark.parametrize("threshold", [0.5, 0.8, 0.3, 0.72, 0.9999])
def test_integer_verify_predicate_equals_rounded_threshold(threshold):
    # round4_boundary_num, not a local ceil: float(0.8) sits above the
    # decimal 0.8, and a plain ceil(Fraction(t)*1e4) drops J = 4/5
    # exactly at the threshold — the bug this test originally caught
    num = round4_boundary_num(threshold)
    for sa in range(1, 40):
        for sb in range(1, 40):
            for inter in range(0, min(sa, sb) + 1):
                union = sa + sb - inter
                want = round(inter / union, 4) >= threshold
                got = inter * (20000 + num) >= (sa + sb) * num
                assert got == want, (threshold, sa, sb, inter)
            # the size gate prunes exactly the size pairs no
            # intersection could lift to the threshold
            gate = min(sa, sb) * 20000 >= max(sa, sb) * num
            reachable = any(inter * (20000 + num) >= (sa + sb) * num
                            for inter in range(0, min(sa, sb) + 1))
            assert gate == reachable, (threshold, sa, sb)


def test_jaccard_at_least_matches_spark_rounding(spark):
    # subset pairs that round onto the threshold (J = 0.799950...,
    # 0.499950...): a gate stricter than the implied one, such as
    # 5*min >= 4*max at 0.8, would drop them
    for threshold, small, big, want in [(0.8, 3203, 4004, True),
                                        (0.8, 3202, 4004, False),
                                        (0.5, 5000, 10001, True)]:
        a = [str(i) for i in range(small)]
        b = [str(i) for i in range(big)]
        df = spark.createDataFrame([(a, b), (b, a)],
                                   "v1 array<string>, v2 array<string>")
        pred, jaccard = jaccard_at_least("v1", "v2", threshold)
        inter = F.size(F.array_intersect("v1", "v2"))
        rounded = F.round(inter / (F.size("v1") + F.size("v2") - inter), 4)
        for r in df.select(pred.alias("p"),
                           (rounded >= threshold).alias("ref"),
                           jaccard.alias("j"), rounded.alias("jr")).collect():
            assert r.p == r.ref == want, (threshold, small, big)
            assert r.j == r.jr


def test_components_chain_converges_to_min(spark):
    # a single 9-node chain: diameter forces many frontier rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc1 long, doc2 long")
    got = {r.doc_id: r.component for r in dedup_components(pairs).collect()}
    assert got == {i: 1 for i in range(1, 10)}


def test_release_false_preserves_caller_caches(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in DOCS if t], "doc_id long, toks array<string>")
    cachereg.release_caches()
    held = cachereg.scoped_cache(docs)
    held.count()
    pairs, _ = minhash_lsh_pairs(held, release=False)
    assert held.storageLevel.useMemory, \
        "release=False must not unpersist caller caches"
    pairs2, _ = minhash_lsh_pairs(held, release=True)
    assert not held.storageLevel.useMemory, \
        "default release=True drops previously registered caches"
    cachereg.release_caches()
