"""Near-duplicate detection operators — the 100-TB scale path.

Every Jaccard threshold is one exact integer predicate,
:func:`jaccard_at_least` (``round(I/U, 4) >= t`` without float
division). :func:`blocked_jaccard_pairs` is the all-pairs Jaccard join
inside (lang, source) blocks that the token and shingle demo queries
configure; ``minhash_lsh_pairs`` verifies its LSH candidates with the
same predicate.

Every LSH near-dup operator is its own signatures and its own exact
predicate around two shared stages: :func:`lsh_candidates` (bucket
rows -> candidate pairs from ONE bucket self-join, plus the report of
dropped buckets) and :func:`verify_sides` (candidates + corpus -> both
sides' values, semi-joined down before an unhinted join).
``minhash_lsh_pairs`` (token-set Jaccard) and ``cosine_neardup_pairs``
(embedding cosine) are the two operators; every LSH dedup query
configures one of them.

HOT-BUCKET CAP: an LSH bucket of size c contributes c·(c-1)/2
candidate pairs; a single degenerate bucket (boilerplate, empty-ish
docs, template spam) turns the whole job quadratic. With
``max_bucket`` set, buckets larger than the cap contribute only a star
around their smallest id (c-1 pairs — every member still pairs with
the representative, so connected-component dedup keeps the full
cluster) and the drop is REPORTED, never silent: the pairs come with a
``dropped_buckets`` DataFrame listing (band, sig, size) for every
capped bucket.

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


def jaccard_at_least(v1, v2, threshold: float):
    """(predicate, jaccard) over two DISTINCT arrays: the predicate is
    exactly ``round(I/U, 4) >= threshold`` and ``jaccard`` is
    ``round(I/U, 4)``, with I = |v1 ∩ v2| and U = sa + sb - I.

    Integer cross-multiplication, no float division and no higher-
    order function (the plan keeps no ``lambda``):
      round(I/U, 4) >= t  <=>  I/U >= num/20000
      <=>  (20000+num)*I >= num*(sa+sb)
    preceded by the implied size gate (J <= min/max, so J >= t forces
    min*20000 >= num*max), an O(1) compare that prunes before the
    O(|v|) intersect. Keep the order when the predicate lands in a
    join condition: join conditions get no common-subexpression
    elimination, so the cheap terms must come first. Sizes are read
    off the arrays: a precomputed size column collapses into the scan
    projection and re-runs the tokenize per row."""
    sa, sb = F.size(v1), F.size(v2)
    inter = F.size(F.array_intersect(v1, v2))
    num = round4_boundary_num(threshold)
    gate = (F.least(sa, sb).cast("long") * 20000
            >= F.greatest(sa, sb).cast("long") * num)
    exact = inter.cast("long") * (20000 + num) >= (sa.cast("long") + sb) * num
    return gate & exact, F.round(inter / (sa + sb - inter), 4)


def blocked_jaccard_pairs(sets: DataFrame, threshold: float) -> DataFrame:
    """All-pairs set Jaccard inside (lang, source) blocks: a
    ``(doc_id, lang, source, toks)`` table of distinct non-empty
    arrays -> ``(doc1, doc2, jaccard)`` with doc1 < doc2 and
    ``round(J, 4) >= threshold``. One shuffle equi-join on the block
    key; the residual condition runs the id order, then the size gate,
    then the intersect (:func:`jaccard_at_least`). O(n^2) per block:
    the MinHash-LSH operators bound the pair space at scale."""
    a, b = sets.alias("a"), sets.alias("b")
    pred, jaccard = jaccard_at_least(F.col("a.toks"), F.col("b.toks"),
                                     threshold)
    return (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                   & (F.col("a.source") == F.col("b.source"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & pred)
            .select(F.col("a.doc_id").alias("doc1"),
                    F.col("b.doc_id").alias("doc2"),
                    jaccard.alias("jaccard")))


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


def lsh_candidates(buckets: DataFrame,
                   max_bucket: int | None) -> tuple[DataFrame, DataFrame]:
    """The shared candidate stage: ``(id, band, sig)`` bucket rows ->
    (cached distinct ``(id1, id2)`` pairs with id1 < id2, the
    ``(band, sig, size)`` dropped-bucket report). Capped buckets become
    stars (module docstring); the bucket-size Window is built only when
    ``max_bucket`` is set, and uncapped the report is empty."""
    if max_bucket is not None:
        w = Window.partitionBy("band", "sig")
        sized = (buckets
                 .withColumn("bsize", F.count(F.lit(1)).over(w))
                 .withColumn("bmin", F.min("id").over(w)))
        hot = F.col("bsize") > max_bucket
        dropped = (sized.filter(hot)
                   .groupBy("band", "sig")
                   .agg(F.max("bsize").alias("size")))
        star = (sized.filter(hot & (F.col("id") != F.col("bmin")))
                .select(F.col("bmin").alias("id1"), F.col("id").alias("id2")))
        cold = sized.filter(~hot)
    else:
        dropped = buckets.filter(F.lit(False)).select(
            "band", "sig", F.lit(0).cast("long").alias("size"))
        star = None
        cold = buckets
    # the bucket table feeds BOTH sides of the self-join (and, capped,
    # the star/dropped branches share its lineage): cache it or the
    # per-row signature expression evaluates once per side
    cold = scoped_cache(cold.select("id", "band", "sig"))

    a = cold.alias("a")
    b = cold.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2")))
    if star is not None:
        cand = cand.unionByName(star)
    # cand feeds THREE consumers (both verify_sides semi-joins and the
    # verify join) — cache it or the self-join + distinct re-executes
    # per consumer
    return scoped_cache(cand.distinct()), dropped


def verify_sides(cand: DataFrame, corpus: DataFrame) -> DataFrame:
    """The shared verify stage: ``(id1, id2)`` candidates + an
    ``(id, v)`` corpus -> ``(id1, id2, v1, v2)`` for the caller's exact
    predicate. The corpus is semi-joined down to candidate ids (small
    post-LSH) and then joined UNHINTED: AQE broadcasts a shrunk side
    when it fits; the corpus-sized table is never broadcast."""
    def side(n):
        ids = cand.select(F.col(f"id{n}").alias("id")).distinct()
        return (corpus.join(ids, "id", "left_semi")
                .select(F.col("id").alias(f"id{n}"),
                        F.col("v").alias(f"v{n}")))
    return (cand.join(side(1), "id1").join(side(2), "id2")
            .select("id1", "id2", "v1", "v2"))


def minhash_lsh_pairs(docs: DataFrame, *, n_minhash: int = 12,
                      n_bands: int = 3, threshold: float = 0.5,
                      max_bucket: int | None = None,
                      release: bool = True) -> tuple[DataFrame, DataFrame]:
    """(doc1, doc2, jaccard) near-dup pairs + (band, sig, size) capped
    buckets. ``docs`` carries one row per document: its ``doc_id`` and
    a distinct token array in ``toks``.

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
    reps = scoped_cache(collapse_exact_shapes(docs))

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
        .select(F.col("doc_id").alias("id"), F.col("bs.band").alias("band"),
                F.col("bs.sig").alias("sig")))
    cand, dropped = lsh_candidates(buckets, max_bucket)
    sides = verify_sides(cand, reps.select(F.col("doc_id").alias("id"),
                                           F.col("toks").alias("v")))

    pred, jaccard = jaccard_at_least("v1", "v2", threshold)
    pairs = (sides.filter(pred)
             .select(F.col("id1").alias("doc1"), F.col("id2").alias("doc2"),
                     jaccard.alias("jaccard")))
    return pairs, dropped


def cosine_neardup_pairs(embeddings: DataFrame, *, threshold: float = 0.9,
                         bits: int = 64, bands: int = 4, dims: int = 64,
                         max_bucket: int | None = None,
                         release: bool = True) -> tuple[DataFrame, DataFrame]:
    """Embedding-cosine near-duplicate pairs over a ``(vec_id,
    embedding)`` corpus — the vector analogue of
    :func:`minhash_lsh_pairs`: banded signed-random-projection
    signatures through the same :func:`lsh_candidates` and
    :func:`verify_sides` stages, verified by exact cosine.

    Returns ((id1, id2, cosine) with id1 < id2 and cosine >= threshold,
    dropped_buckets). ``release=False``: see minhash_lsh_pairs."""
    from .simsearch import _as_double, _cosine, _plane_coefs, _signatures

    if release:
        release_caches()  # drop the previous pipeline's scoped caches

    # cache the cast corpus: it feeds the signature build AND both
    # verify semi-joins — uncached, the 64-dot-product signature DAG
    # re-executes for every consumer (mirrors minhash reps caching)
    e = scoped_cache(
        _as_double(embeddings.select(F.col("vec_id").alias("id"),
                                     F.col("embedding").alias("v")), "v"))
    sig = _signatures(e, _plane_coefs(dims, bits), id_col="id",
                      vec_col="v", bands=bands, bits=bits)
    cand, dropped = lsh_candidates(sig, max_bucket)
    cosine = F.round(_cosine("v1", "v2"), 6) + F.lit(0.0)
    pairs = (verify_sides(cand, e)
             .select("id1", "id2", cosine.alias("cosine"))
             .filter(F.col("cosine") >= threshold))
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
