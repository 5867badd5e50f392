"""Near-duplicate detection operators — the 100-TB scale path.

``minhash_lsh_pairs`` is the ONE MinHash+LSH candidate generator: every
LSH dedup query configures it instead of re-implementing it.
``doc_dedup_minhash_lsh`` runs it without a cap; the capped queries
(``doc_dedup_minhash_capped``, ``doc_dedup_ngram_minhash``,
``doc_dedup_components``) set the HOT-BUCKET CAP. An LSH bucket of size
c contributes c·(c-1)/2 candidate pairs; a single degenerate bucket
(boilerplate, empty-ish docs, template spam) turns the whole job
quadratic. With ``max_bucket`` set, buckets larger than the cap
contribute only a star around their smallest doc_id (c-1 pairs — every
member still pairs with the representative, so connected-component
dedup keeps the full cluster) and the drop is REPORTED, never silent:
the returned DataFrame is accompanied by a ``dropped_buckets``
DataFrame listing (band, sig, size) for every capped bucket.

Exact-duplicate token-set classes are collapsed to a min-doc_id
representative BEFORE hashing (exact dedup belongs before near-dup
search; at scale the hottest bucket is exactly the exact-dup class).
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hash60
from .cachereg import release_caches, scoped_cache


def round4_boundary_num(threshold: float) -> int:
    """num such that round(x, 4) >= threshold  <=>  x >= num/20000 for
    the engine's float comparison: m = smallest k whose 4-decimal
    DOUBLE k/10000 satisfies `>= threshold` (the float threshold can
    sit a hair ABOVE its decimal — float(0.8) = 0.8000...044, so a
    plain ceil(Fraction(t)*1e4) = 8001 would drop exact-boundary
    pairs like J = 4/5), and num = 2m - 1 (HALF_UP: x >= m/10000 -
    1/20000 rounds up to m/10000)."""
    m = math.ceil(Fraction(threshold) * 10000)
    if (m - 1) / 10000 >= threshold:
        m -= 1
    return 2 * m - 1


def minhash_band_structs(toks_col, n_minhash: int, n_bands: int):
    """array<struct<band,sig>> of LSH band signatures computed entirely
    PER ROW — no explode, no shuffle, no aggregation (the old shape
    exploded every token into a corpus x tokens row stream and hash-
    aggregated it back; at scale that is the pipeline's biggest
    exchange, and it carries pure intermediate state). Bit-for-bit the
    same signatures: token -> 60-bit compaction, TWO minhash functions
    per md5 (hex chars 1-15 / 16-30), band sig = md5 of the '|'-joined
    minhash decimals.

    Values are let-bound via single-element-array transforms (the
    simsearch._signatures trick) so the token-hash array and the
    minhash array are each computed ONCE per row — named intermediate
    columns get inlined by CollapseProject and recomputed per use."""
    half = (n_minhash + 1) // 2
    rpb = n_minhash // n_bands
    th = F.transform(toks_col, lambda t: hash60(t).cast("string"))

    def sigs_from_mhs(m):
        out = []
        for b in range(n_bands):
            parts = [F.element_at(m, b * rpb + r + 1).cast("string")
                     for r in range(rpb)]
            out.append(F.struct(F.lit(b).alias("band"),
                                F.md5(F.concat_ws("|", *parts)).alias("sig")))
        return F.array(*out)

    def mhs_from_th(thv):
        gs = F.transform(
            F.sequence(F.lit(0), F.lit(half - 1)),
            lambda g: F.transform(
                thv, lambda h: F.md5(F.concat(F.lit("g"), g.cast("string"),
                                              F.lit("|"), h))))
        return F.flatten(F.transform(gs, lambda hx: F.array(
            F.array_min(F.transform(
                hx, lambda x: F.conv(F.substring(x, 1, 15), 16, 10)
                .cast("long"))),
            F.array_min(F.transform(
                hx, lambda x: F.conv(F.substring(x, 16, 15), 16, 10)
                .cast("long"))))))

    return F.flatten(F.transform(
        F.array(th),
        lambda thv: F.flatten(F.transform(
            F.array(mhs_from_th(thv)),
            lambda m: sigs_from_mhs(m)))))


def collapse_exact_shapes(d: DataFrame) -> DataFrame:
    """(doc_id, toks) -> one min-doc_id representative per exact token
    SET (shape): ONE hash aggregation (partial/map-side, shuffle is
    unique shapes only). The old window shape (min over
    partitionBy(shape) + filter) shuffled AND sorted the full corpus.

    The (shape, toks) pair is emitted through a single-row GENERATOR:
    when ``toks`` is an unmaterialized expression (the shingle/token
    transform straight off the scan), a plain projection would inline
    it into both the grouping key and the aggregated value
    (CollapseProject) and the whole tokenize would run per reference —
    measured 5x wall on the shingle variant. Generators are evaluation
    barriers: the expression runs once per row."""
    pair = F.explode(F.transform(F.array("toks"), lambda t: F.struct(
        F.md5(F.concat_ws("\x1f", F.array_sort(t))).alias("shape"),
        t.alias("toks"))))
    # the empty-toks filter sits AFTER the generator so it cannot push
    # below a caller's spread exchange into the scan task with the
    # tokenize expression inlined
    return (d.select("doc_id", pair.alias("p"))
            .filter(F.size("p.toks") > 0)
            .groupBy("p.shape")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.min_by("p.toks", "doc_id").alias("toks"))
            .select("doc_id", "toks"))


def minhash_lsh_pairs(docs: DataFrame, *, n_minhash: int = 12,
                      n_bands: int = 3, threshold: float = 0.5,
                      max_bucket: int | None = None,
                      toks_col: str = "toks",
                      release: bool = True) -> tuple[DataFrame, DataFrame]:
    """(doc1, doc2, jaccard) near-dup pairs + (band, sig, size) capped
    buckets. ``docs`` carries one row per document: its ``doc_id`` and
    a distinct token array in ``toks_col``.

    ``release=False`` when the CALLER already released the previous
    pipeline's scoped caches and registered caches of its own that
    this pipeline's input depends on — releasing here would drop them
    mid-pipeline and recompute their lineage (the ADVICE-r5
    composition hazard)."""
    if release:
        release_caches()  # drop the previous pipeline's scoped caches
    # no size filter here: collapse_exact_shapes filters empty token
    # arrays after its generator barrier (a filter on an unmaterialized
    # toks expression would push below any upstream exchange and run
    # the whole tokenize in the scan task)
    d = docs.select("doc_id", F.col(toks_col).alias("toks"))

    reps = scoped_cache(collapse_exact_shapes(d))

    # signatures are pure per-row array algebra (minhash_band_structs):
    # hashing cost is still n/2 short-input md5s per token (two minhash
    # functions per md5, reproducible in DuckDB via substr(md5(), off,
    # 15)), but there is no token explode and no hash aggregation — the
    # old shape's corpus x tokens exchange is gone and the first shuffle
    # in the pipeline is the bucket-size window (capped) or the bucket
    # self-join (uncapped)
    buckets = (reps.select(
        "doc_id",
        F.explode(minhash_band_structs(F.col("toks"), n_minhash, n_bands))
        .alias("bs"))
        .select("doc_id", F.col("bs.band").alias("band"),
                F.col("bs.sig").alias("sig")))

    if max_bucket is not None:
        w = Window.partitionBy("band", "sig")
        sized = (buckets
                 .withColumn("bsize", F.count(F.lit(1)).over(w))
                 .withColumn("bmin", F.min("doc_id").over(w)))
        hot = F.col("bsize") > max_bucket
        dropped = (sized.filter(hot)
                   .groupBy("band", "sig")
                   .agg(F.max("bsize").alias("size")))
        # hot buckets degrade to a star around the smallest member:
        # candidate generation stays linear in bucket size and the
        # cluster stays connected for component-based dedup
        star = (sized.filter(hot & (F.col("doc_id") != F.col("bmin")))
                .select(F.col("bmin").alias("doc1"),
                        F.col("doc_id").alias("doc2")))
        cold = sized.filter(~hot)
    else:
        # no cap: no bucket-size window at all, and an empty report
        dropped = buckets.filter(F.lit(False)).select(
            "band", "sig", F.lit(0).cast("long").alias("size"))
        star = None
        cold = buckets
    cold = scoped_cache(cold.select("doc_id", "band", "sig"))

    a = cold.alias("a")
    b_ = cold.alias("b")
    cand = (a.join(b_, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc1"),
                    F.col("b.doc_id").alias("doc2")))
    if star is not None:
        cand = cand.unionByName(star)
    # cand feeds THREE consumers (ids1, ids2, the verify join) — cache
    # it or the bucket self-join + distinct re-executes per consumer
    cand = scoped_cache(cand.distinct())

    # semi-join the corpus-sized rep token table down to candidate ids
    # (small post-LSH), then join UNHINTED: AQE broadcasts the shrunk
    # side when it fits; the full reps table is never broadcast
    ids1 = cand.select(F.col("doc1").alias("doc_id")).distinct()
    ids2 = cand.select(F.col("doc2").alias("doc_id")).distinct()
    da = (reps.join(ids1, "doc_id", "left_semi")
          .select(F.col("doc_id").alias("doc1"), F.col("toks").alias("toks1")))
    db = (reps.join(ids2, "doc_id", "left_semi")
          .select(F.col("doc_id").alias("doc2"), F.col("toks").alias("toks2")))
    sa, sb = F.size("toks1"), F.size("toks2")
    inter = F.size(F.array_intersect("toks1", "toks2"))
    union = sa + sb - inter
    # The verify threshold as ONE exact integer predicate (no float
    # division, one intersect per candidate instead of the pushed-down
    # float filter's two — join/filter conditions get no common-
    # subexpression elimination):
    #   round(I/U, 4) >= t  <=>  I/U >= (2m-1)/20000, m = ceil(t*1e4)
    #   <=>  (20000+2m-1)*I >= (2m-1)*(sa+sb)        [U = sa+sb-I]
    # preceded by the implied size gate (J <= min/max, so J >= t forces
    # min*20000 >= (2m-1)*max), an O(1) compare that prunes candidates
    # before the O(|toks|) intersect ever runs.
    num = round4_boundary_num(threshold)
    size_gate = (F.least(sa, sb).cast("long") * 20000
                 >= F.greatest(sa, sb).cast("long") * num)
    int_pred = (inter.cast("long") * (20000 + num)
                >= (sa.cast("long") + sb) * num)
    pairs = (cand.join(da, "doc1")
             .join(db, "doc2")
             .filter(size_gate & int_pred)
             .select("doc1", "doc2",
                     F.round(inter / union, 4).alias("jaccard")))
    return pairs, dropped


def cosine_neardup_pairs(embeddings: DataFrame, *, threshold: float = 0.9,
                         bits: int = 64, bands: int = 4, dims: int = 64,
                         max_bucket: int | None = None,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         seed: int = 42,
                         release: bool = True) -> tuple[DataFrame, DataFrame]:
    """Embedding-cosine near-duplicate pairs — the vector analogue of
    :func:`minhash_lsh_pairs`. Candidates come from a banded
    signed-random-projection LSH SELF-join (shuffle bounded by bucket
    collisions, never the N^2 cross join); the exact cosine verify runs
    only on candidates, with the corpus semi-joined down to candidate
    ids first so the full vector table is never broadcast. Hot buckets
    degrade to a star around the min-id member (linear, component-
    connected) and are REPORTED via the second returned DataFrame
    (band, sig, size) — same contract as minhash_lsh_pairs.

    Returns ((id1, id2, cosine) with id1 < id2 and cosine >= threshold,
    dropped_buckets). ``release=False``: see minhash_lsh_pairs."""
    from .simsearch import _as_double, _cosine, _plane_coefs, _signatures

    if release:
        release_caches()  # drop the previous pipeline's scoped caches

    # cache the cast corpus: it feeds the signature build AND both
    # verify semi-joins below — uncached, the 64-dot-product signature
    # DAG re-executes for every consumer (mirrors minhash reps caching)
    e = scoped_cache(
        _as_double(embeddings.select(F.col(id_col).alias("vec_id"),
                                     F.col(vec_col).alias("v")), "v"))
    coefs = _plane_coefs(dims, bits, seed)
    sig = _signatures(e, coefs, id_col="vec_id", vec_col="v",
                      bands=bands, bits=bits)

    w = Window.partitionBy("band", "sig")
    sized = (sig.withColumn("bsize", F.count(F.lit(1)).over(w))
             .withColumn("bmin", F.min("vec_id").over(w)))
    if max_bucket is not None:
        hot = F.col("bsize") > max_bucket
        dropped = (sized.filter(hot)
                   .groupBy("band", "sig")
                   .agg(F.max("bsize").alias("size")))
        star = (sized.filter(hot & (F.col("vec_id") != F.col("bmin")))
                .select(F.col("bmin").alias("id1"),
                        F.col("vec_id").alias("id2")))
        cold = sized.filter(~hot)
    else:
        dropped = sized.filter(F.lit(False)).select(
            "band", "sig", F.col("bsize").alias("size"))
        star = None
        cold = sized
    # cache the signature table: it feeds BOTH sides of the candidate
    # self-join (plus the star/dropped branches upstream share sized's
    # lineage) — without this the per-row bit-signature expression tree
    # evaluates twice (mirrors minhash cold caching)
    cold = scoped_cache(cold.select("vec_id", "band", "sig"))

    a = cold.alias("a")
    b_ = cold.alias("b")
    cand = (a.join(b_, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("id1"),
                    F.col("b.vec_id").alias("id2")))
    if star is not None:
        cand = cand.unionByName(star)
    # cand feeds THREE consumers (ids1, ids2, the verify join) — cache
    # it or the signature self-join + distinct re-executes per consumer
    cand = scoped_cache(cand.distinct())

    # semi-join the corpus down to candidate ids before the verify join
    # (candidates are small post-LSH); join UNHINTED so AQE broadcasts
    # the shrunk side only when it fits
    ids1 = cand.select(F.col("id1").alias("vec_id")).distinct()
    ids2 = cand.select(F.col("id2").alias("vec_id")).distinct()
    va = (e.join(ids1, "vec_id", "left_semi")
          .select(F.col("vec_id").alias("id1"), F.col("v").alias("v1")))
    vb = (e.join(ids2, "vec_id", "left_semi")
          .select(F.col("vec_id").alias("id2"), F.col("v").alias("v2")))
    pairs = (cand.join(va, "id1").join(vb, "id2")
             .select("id1", "id2",
                     (F.round(_cosine("v1", "v2"), 6) + F.lit(0.0))
                     .alias("cosine"))
             .filter(F.col("cosine") >= threshold)
             .select("id1", "id2", "cosine"))
    return pairs, dropped


def dedup_components(pairs: DataFrame, *, max_iterations: int = 50) -> DataFrame:
    """(doc_id, component) connected components over near-dup pairs via
    iterative label propagation (min-id convergence) — the standard
    Spark shape; iterations scale with component DIAMETER, not corpus
    size."""
    # materialize the pair list ONCE and truncate lineage BEFORE the
    # symmetric union: the union scans its input twice and every
    # propagation round joins against it, so an uncheckpointed input
    # re-executes the whole upstream candidate-generation DAG 2x + once
    # per round (measured 47s -> ~13s on the sf0.1 minhash pipeline)
    pairs = pairs.select("doc1", "doc2").localCheckpoint()
    edges = (pairs.select(F.col("doc1").alias("a"), F.col("doc2").alias("b"))
             .unionByName(pairs.select(F.col("doc2").alias("a"),
                                       F.col("doc1").alias("b"))))
    labels = (edges.select(F.col("a").alias("node"))
              .distinct()
              .withColumn("component", F.col("node"))
              .localCheckpoint())
    # frontier propagation with the convergence flag folded into the
    # per-round checkpoint: each round is ONE materialized plan
    # (propagate from last round's CHANGED labels only, min-merge into
    # the full label table, flag rows that improved) plus a cheap
    # isEmpty scan of the checkpointed result — the old shape ran a
    # second join job per round just to compute `changed`, and joined
    # the full label table even when a handful of nodes were still
    # moving. Same fixpoint: every label a node ever holds is offered
    # to its neighbors the round after it changes, so the converged
    # labels are the per-component minima either way.
    frontier = labels
    for _ in range(max_iterations):
        prop = (edges.join(frontier, edges["a"] == frontier["node"])
                .select(F.col("b").alias("node"), F.col("component")))
        best = prop.groupBy("node").agg(F.min("component").alias("cand"))
        merged = (labels.join(best, "node", "left")
                  .select("node",
                          F.least("component",
                                  F.coalesce("cand", "component"))
                          .alias("component"),
                          (F.col("cand") < F.col("component"))
                          .alias("changed"))
                  .localCheckpoint())
        labels = merged.select("node", "component")
        frontier = merged.filter("changed").select("node", "component")
        if frontier.isEmpty():
            break
    else:
        raise RuntimeError(
            f"dedup_components: no convergence in {max_iterations} rounds")
    return labels.select(F.col("node").alias("doc_id"), "component")
