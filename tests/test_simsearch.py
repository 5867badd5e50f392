"""ANN operators: exactness of brute force, recall of LSH/IVF vs it."""

import pytest
from pyspark.sql import functions as F

from jsonld_js_spark.operators.simsearch import brute_topk, ivf_topk, lsh_topk

SF = "/root/testdata/sf0.001"
K = 10


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def queries(spark, emb):
    return (emb.filter(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("query_id"), "embedding").cache())


@pytest.fixture(scope="module")
def brute(emb, queries):
    return {(r["query_id"], r["vec_id"]): r["cosine"]
            for r in brute_topk(emb, queries, K).collect()}


def test_brute_topk_shape(brute, queries):
    n_q = queries.count()
    assert len(brute) == n_q * K


def test_brute_matches_pairwise_definition(spark, emb, queries, brute):
    """Spot-check one query's scores with numpy."""
    import numpy as np

    q0 = np.array(queries.filter("query_id = 0").first()["embedding"], dtype="float64")
    rows = emb.filter("vec_id != 0").collect()
    cos = {
        r["vec_id"]: float(np.dot(np.array(r["embedding"], dtype="float64"), q0)
                           / (np.linalg.norm(r["embedding"]) * np.linalg.norm(q0)))
        for r in rows
    }
    expected = sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:K]
    got = sorted(((vid, c) for (q, vid), c in brute.items() if q == 0),
                 key=lambda kv: (-kv[1], kv[0]))
    assert [v for v, _ in expected] == [v for v, _ in got]
    for (v1, c1), (v2, c2) in zip(expected, got):
        assert abs(c1 - c2) < 1e-5


def _recall(approx_rows, brute, n_queries):
    hits = 0
    for r in approx_rows:
        if (r["query_id"], r["vec_id"]) in brute:
            hits += 1
    return hits / (n_queries * K)


def test_lsh_recall(emb, queries, brute):
    """Recall on the NEAR-UNIFORM synthetic corpus (organic top-k
    neighbors sit at cosine ~0.25-0.39 — measured): the default
    bits=32/bands=8 config trades ~2.4x candidate pruning for ~0.66
    recall. On data this close to uniform no LSH family can both
    prune hard and recall high — that frontier is the data's; see
    test_lsh_planted_neighbors for the clustered-data behavior."""
    approx = lsh_topk(emb, queries, K).collect()
    rec = _recall(approx, brute, queries.count())
    assert rec >= 0.5, f"LSH recall {rec}"


def test_lsh_planted_neighbors_wide_bands(spark, emb):
    """The 100-TB config (16-bit band signatures, 65k buckets/band):
    on the workload ANN actually serves — retrieving near-duplicates
    (cosine >= ~0.99) — recall is ~1.0 while the candidate fraction
    stays tiny. Queries are arithmetic mixes of corpus vectors
    (0.95*v + 0.05*w), the same construction as the emb_knn_lsh
    driver query."""
    import pyspark.sql.functions as SF

    ed = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    base = (ed.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("va")))
    nxt = (ed.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 8))
           .select((F.col("vec_id") - 1).alias("qid"),
                   F.col("embedding").alias("vb")))
    q = (base.join(nxt, "qid")
         .select((F.col("qid") + 1000000).alias("query_id"),
                 SF.zip_with("va", "vb",
                             lambda a, b: F.lit(0.95) * a + F.lit(0.05) * b)
                 .alias("embedding")))
    out = lsh_topk(ed, q, K, bits=64, bands=4, max_bucket=400).collect()
    found = {(r["query_id"], r["vec_id"]) for r in out}
    for v in range(8):
        assert (v + 1000000, v) in found, f"planted base {v} not retrieved"
    # pruning: total candidates (= re-ranked rows before top-k, here all
    # survive) must be a small fraction of the 8 x N cross product
    assert len(out) <= 0.05 * 8 * emb.count()


def test_lsh_max_bucket_cap(spark):
    """Degenerate corpora (many identical vectors -> one hot bucket)
    must not go quadratic: with max_bucket set, the hot bucket's
    corpus rows are dropped from candidate generation entirely."""
    rows = [(i, [1.0] * 64) for i in range(50)]  # all identical -> 1 bucket
    rows += [(100 + i, [float((i + d) % 7) - 3.0 for d in range(64)])
             for i in range(5)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0] * 64)],
                              "query_id long, embedding array<double>")
    capped = lsh_topk(e, q, k=50, bits=32, bands=8, max_bucket=10).collect()
    uncapped = lsh_topk(e, q, k=50, bits=32, bands=8).collect()
    assert len(uncapped) >= 50  # the identical block all collides
    assert len(capped) < 10     # hot bucket dropped


def test_lsh_candidates_bounded(emb, queries):
    """The point of LSH: candidate set must be much smaller than N*Q."""
    from jsonld_js_spark.operators.simsearch import _as_double, _plane_coefs, _signatures

    coefs = _plane_coefs(64, 32)
    e_sig = _signatures(_as_double(emb, "embedding"), coefs,
                        id_col="vec_id", vec_col="embedding", bands=4, bits=32)
    q_sig = _signatures(_as_double(queries, "embedding"), coefs,
                        id_col="query_id", vec_col="embedding", bands=4, bits=32)
    cand = e_sig.join(q_sig, ["band", "sig"]).select("vec_id", "query_id").distinct()
    n, q = emb.count(), queries.count()
    # 4 bands x 8 bits: random pairs collide rarely; near-dups survive
    assert cand.count() < 0.3 * n * q


def test_ivf_recall(emb, queries, brute):
    approx = ivf_topk(emb, queries, K, n_probe=4).collect()
    rec = _recall(approx, brute, queries.count())
    assert rec >= 0.3, f"IVF recall {rec}"


def test_approx_scores_are_exact_for_reported(emb, queries, brute):
    """Re-ranked candidates carry EXACT cosine — any reported pair that
    brute force also reports must agree on the score."""
    approx = lsh_topk(emb, queries, K).collect()
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        if key in brute:
            assert abs(r["cosine"] - brute[key]) < 1e-9


def test_kmeans_cells_deterministic_and_partitioning(spark):
    """kmeans_cells: every vector gets exactly one cell, the labeling
    is identical across repartitionings (deterministic seeding +
    rounded centroids), and more iterations only reassign — never
    lose — vectors."""
    import hashlib

    from jsonld_js_spark.operators.simsearch import kmeans_cells

    def vec(i):
        return [((int(hashlib.md5(f"k{i}:{d}".encode()).hexdigest()[:8], 16)
                  % 2000) - 1000) / 1000.0 for d in range(16)]

    rows = [(i, vec(i)) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = kmeans_cells(df, k=4, iterations=2)
    got = {r["vec_id"]: r["cell"] for r in a.collect()}
    assert len(got) == 60
    assert set(got.values()) <= set(range(4))
    b = kmeans_cells(df.repartition(7), k=4, iterations=2)
    assert {r["vec_id"]: r["cell"] for r in b.collect()} == got
    c = kmeans_cells(df, k=4, iterations=3)
    assert len(c.collect()) == 60
