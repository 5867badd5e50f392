"""minhash_lsh_pairs hot-bucket cap + connected-component dedup."""

import pytest
from pyspark.sql import functions as F

from jsonld_js_spark.operators.dedup import (dedup_components, lsh_candidates,
                                             minhash_lsh_pairs)


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    # a hot cluster: 30 docs sharing most tokens (same bucket)
    for i in range(30):
        toks = [f"w{j}" for j in range(20)] + [f"u{i}"]
        rows.append((i, toks))
    # a small pair of near-dups
    rows.append((100, [f"x{j}" for j in range(10)]))
    rows.append((101, [f"x{j}" for j in range(9)] + ["y"]))
    # singletons
    for i in range(200, 205):
        rows.append((i, [f"z{i}{j}" for j in range(8)]))
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>").cache()
    df.count()
    return df


def test_uncapped_pairs_quadratic_in_cluster(docs):
    pairs, dropped = minhash_lsh_pairs(docs, threshold=0.5)
    p = pairs.collect()
    assert dropped.count() == 0
    # hot cluster: nearly all 30*29/2=435 pairs present (LSH is
    # probabilistic; a few pairs may miss every band)
    hot = [r for r in p if r["doc1"] < 100]
    assert len(hot) >= 400
    assert {(r["doc1"], r["doc2"]) for r in p if r["doc1"] >= 100} == {(100, 101)}


def test_capped_pairs_star_and_reported(docs):
    pairs, dropped = minhash_lsh_pairs(docs, threshold=0.5, max_bucket=10)
    p = pairs.collect()
    # hot buckets degrade to stars: far below the quadratic 435, but
    # the whole 30-doc cluster stays covered (exact counts depend on
    # how the cluster's near-identical signatures split into buckets,
    # which is a property of the hash family — don't pin it)
    hot = [r for r in p if r["doc1"] < 100]
    assert 29 <= len(hot) < 200
    covered = {r["doc1"] for r in hot} | {r["doc2"] for r in hot}
    assert covered == set(range(30))
    # the drop is reported, never silent
    d = dropped.collect()
    assert len(d) >= 1 and all(r["size"] > 10 for r in d)
    # the small pair is untouched
    assert {(r["doc1"], r["doc2"]) for r in p if r["doc1"] >= 100} == {(100, 101)}


def test_lsh_candidates_cap_star_and_report(spark):
    """The shared candidate stage on hand-built buckets: band 0 holds a
    5-member bucket (above the cap of 3) and a 2-member one; band 1
    repeats the cold pair, which must come out once."""
    rows = ([(i, 0, "hot") for i in range(1, 6)]
            + [(10, 0, "cold"), (11, 0, "cold"),
               (10, 1, "cold"), (11, 1, "cold")])
    buckets = spark.createDataFrame(rows, "id long, band int, sig string")

    cand, dropped = lsh_candidates(buckets, 3)
    assert sorted(tuple(r) for r in cand.collect()) == [
        (1, 2), (1, 3), (1, 4), (1, 5), (10, 11)]
    assert [tuple(r) for r in dropped.collect()] == [(0, "hot", 5)]

    cand, dropped = lsh_candidates(buckets, None)
    hot = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    assert sorted(tuple(r) for r in cand.collect()) == hot + [(10, 11)]
    assert dropped.count() == 0
    assert dropped.schema["size"].dataType.simpleString() == "bigint"
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_components_connect_capped_cluster(docs):
    pairs, _ = minhash_lsh_pairs(docs, threshold=0.5, max_bucket=10)
    comp = {r["doc_id"]: r["component"] for r in dedup_components(pairs).collect()}
    # the star keeps the full hot cluster in ONE component
    assert len({comp[i] for i in range(30)}) == 1
    assert comp[100] == comp[101]
    assert comp[100] != comp[0]


# ---------------------------------------------------------------------
# cosine_neardup_pairs (embedding-cosine near-dup, SRP-LSH self-join)
# ---------------------------------------------------------------------

@pytest.fixture(scope="module")
def vectors(spark):
    """Deterministic corpus: 40 pseudo-random base vectors + planted
    clones of every 4th one (tiny perturbation, cosine ~1)."""
    import hashlib

    def vec(i):
        return [((int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:8], 16)
                  % 2000) - 1000) / 1000.0 for d in range(64)]

    rows = [(i, vec(i)) for i in range(40)]
    for i in range(0, 40, 4):
        v = vec(i)
        rows.append((1000 + i, [x * 0.99 + 0.003 for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df.cache()


def test_cosine_neardup_finds_planted_pairs(vectors):
    from jsonld_js_spark.operators.dedup import cosine_neardup_pairs

    pairs, dropped = cosine_neardup_pairs(vectors, threshold=0.9,
                                          bits=64, bands=4)
    got = {(r["id1"], r["id2"]): r["cosine"] for r in pairs.collect()}
    assert dropped.count() == 0
    planted = {(i, 1000 + i) for i in range(0, 40, 4)}
    # 16-bit band sigs: each planted pair (cosine ~0.9999) collides in
    # at least one band with overwhelming probability; planes are
    # deterministic so this is a fixed outcome, not a flaky one
    assert planted <= set(got)
    assert all(c >= 0.99 for (a, b), c in got.items() if (a, b) in planted)
    # no organic pair of the pseudo-random bases reaches cosine 0.9
    assert set(got) == planted


def test_cosine_neardup_hot_bucket_star(spark):
    from jsonld_js_spark.operators.dedup import cosine_neardup_pairs

    # 20 identical vectors: one degenerate bucket per band
    rows = [(i, [1.0] * 64) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs, dropped = cosine_neardup_pairs(df, threshold=0.9,
                                          bits=64, bands=4, max_bucket=10)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    # star around min-id member: linear in bucket size, still connected
    assert got == {(0, i) for i in range(1, 20)}
    assert dropped.count() == 4  # one hot bucket in each band


def test_scoped_caches_released_between_pipelines(spark, docs):
    """r5 ADVICE #4: dedup/ANN mid-pipeline caches must not accumulate
    across queries in one session — starting the next scoped pipeline
    unpersists the previous one's registrations."""
    from jsonld_js_spark.operators import cachereg
    from jsonld_js_spark.operators.dedup import cosine_neardup_pairs

    pairs1, _ = minhash_lsh_pairs(docs, threshold=0.5)
    pairs1.count()
    live1 = list(cachereg._LIVE)
    assert live1 and all(df.is_cached for df in live1)

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<double>")
    pairs2, _ = cosine_neardup_pairs(emb, threshold=0.99, bits=16,
                                     bands=2, dims=8)
    pairs2.count()
    # the first pipeline's caches are gone; only the second's are live
    assert all(not df.is_cached for df in live1)
    assert cachereg._LIVE and all(df.is_cached for df in cachereg._LIVE)
    cachereg.release_caches()


def test_ngram_scale_path_recall_on_planted_corpus(spark):
    """r5 VERDICT #4 (strength): measure the LSH scale path's recall
    against exact shingle Jaccard on a PLANTED corpus with known
    near-dup pairs across the similarity range. With 3 bands x 4 rows
    the theoretical candidate probability is 1-(1-j^4)^3 (~0.96 at
    j=0.9, ~0.56 at j=0.7), so the gate asserts near-perfect recall
    only in the high-similarity bin and REPORTS the lower bins —
    that's the honest contract of a banded-LSH candidate generator."""
    import random

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(500)]
    docs = {}
    for i in range(30):
        docs[i] = [rng.choice(vocab) for _ in range(120)]
    for i in range(30):
        p = [0.02, 0.08, 0.2][i % 3]
        docs[100 + i] = [rng.choice(vocab) if rng.random() < p else w
                         for w in docs[i]]

    def sh3(toks):
        return {"\x1f".join(toks[j:j + 3]) for j in range(len(toks) - 2)}

    shingles = {d: sh3(t) for d, t in docs.items()}
    ids = sorted(docs)
    # exact-shape rep classes, as the operator collapses them: docs
    # with IDENTICAL shingle sets reduce to the min-id representative
    # before hashing (their pairs are exact dedup's job, not LSH's)
    rep: dict = {}
    by_shape: dict = {}
    for d in ids:
        key = frozenset(shingles[d])
        rep[d] = by_shape.setdefault(key, d)
    exact = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = rep[ids[x]], rep[ids[y]]
            if a == b:
                continue
            inter = len(shingles[a] & shingles[b])
            j = inter / (len(shingles[a]) + len(shingles[b]) - inter)
            if j >= 0.5:
                exact[(min(a, b), max(a, b))] = j

    sdf = spark.createDataFrame(
        [(d, sorted(shingles[d])) for d in ids],
        "doc_id long, toks array<string>")
    pairs, _ = minhash_lsh_pairs(sdf, n_minhash=12, n_bands=3,
                                 threshold=0.5, max_bucket=20)
    got = {(r["doc1"], r["doc2"]): r["jaccard"] for r in pairs.collect()}

    # precision is 1.0 by construction (the operator verifies with
    # true Jaccard) — check it anyway
    for (a, b), j in got.items():
        assert (a, b) in exact, f"false positive {(a, b)} j={j}"

    bins = {"j>=0.85": [0.85, 1.01], "0.7<=j<0.85": [0.7, 0.85],
            "0.5<=j<0.7": [0.5, 0.7]}
    print()
    for name, (lo, hi) in bins.items():
        tp = [p for p, j in exact.items() if lo <= j < hi]
        hit = [p for p in tp if p in got]
        if tp:
            print(f"  ngram LSH recall {name}: {len(hit)}/{len(tp)} "
                  f"= {len(hit) / len(tp):.3f}")
        if name == "j>=0.85":
            assert tp, "planted corpus produced no high-sim pairs"
            assert len(hit) / len(tp) >= 0.9, (len(hit), len(tp))
