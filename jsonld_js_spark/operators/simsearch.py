"""Similarity search over embedding columns.

Fixed column contract: the corpus is ``(vec_id, embedding)``, queries
are ``(query_id, embedding)``, and IVF cells are the corpus's
``label`` column. Top-k results are ``(query_id, vec_id, cosine)``.

- :func:`brute_topk` — exact cosine top-k: `F.zip_with`/`F.aggregate`
  column algebra, no UDF; the correctness baseline (O(N·Q)).
- :func:`lsh_topk` — the scale path: signed-random-projection LSH.
  Deterministic ±1 hyperplane coefficients are derived from md5 (no
  RNG, resume-safe), signatures are banded, candidates come from a
  bucket equi-join (shuffle bounded by collisions, not N·Q), and the
  exact cosine re-rank runs only on candidates. At 100 TB the bucket
  join is the only shuffle and AQE handles hot buckets.
- :func:`ivf_topk` — probe the nearest ``label`` cells, exact search
  inside them; :func:`kmeans_cells` builds such cells.

All three top-k operators end in the same per-query ``row_number``
tail (:func:`_topk`). Recall is validated against brute force in
tests/test_simsearch.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_double(df: DataFrame, col: str) -> DataFrame:
    return df.withColumn(col, F.col(col).cast("array<double>"))


def _cosine(a: str, b: str):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (query_id, vec_id, cosine) rows: highest
    cosine first, ties to the lower vec_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))


def brute_topk(embeddings: DataFrame, queries: DataFrame,
               k: int = 10) -> DataFrame:
    """Exact cosine top-k of every query against the corpus. Queries
    are broadcast (they are the small side by construction)."""
    e = _as_double(embeddings, "embedding")
    q = _as_double(queries, "embedding").withColumnRenamed("embedding", "_qv")
    joined = e.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id"))
    return _topk(joined.select(
        "query_id", "vec_id",
        F.round(_cosine("embedding", "_qv"), 6).alias("cosine")), k)


def _plane_coefs(dims: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 coefficients per (bit, dim) from md5 — derived
    on the driver and inlined as literals, nothing random at runtime."""
    return [[1.0 if hashlib.md5(f"{seed}:{b}:{d}".encode()).digest()[0] & 1
             else -1.0 for d in range(dims)]
            for b in range(bits)]


def _signatures(df: DataFrame, coefs: list[list[float]], *, id_col: str,
                vec_col: str, bands: int, bits: int) -> DataFrame:
    """(id, band, sig) rows computed entirely PER ROW and with an O(1)
    expression tree: the ±1 planes are ONE nested literal array and the
    projections one F.transform over it (each an F.aggregate dot
    product), so Catalyst analysis cost does not grow with `bits` (the
    old shape built `bits` separate aggregate trees — driver-side
    planning dominated wall time). Bands are substrings of the bit
    string exploded to rows — zero shuffle before the bucket join."""
    rows_per_band = bits // bands
    planes = F.lit(coefs)  # one nested array literal (one py4j call)
    projs = F.transform(
        planes,
        lambda p: F.aggregate(F.zip_with(vec_col, p, lambda x, y: x * y),
                              F.lit(0.0), lambda acc, x: acc + x))
    bitstr = F.array_join(
        F.transform(projs, lambda v: F.when(v >= 0, F.lit("1"))
                    .otherwise(F.lit("0"))), "")
    # let-bind the bit string via a single-element-array transform so it
    # is computed ONCE per row; naming it in a select and referencing it
    # per band gets inlined by CollapseProject and recomputed `bands`
    # times (measured 4x wall on the 64-bit config)
    bands_arr = F.flatten(F.transform(
        F.array(bitstr),
        lambda bs: F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda i: F.struct(
                i.cast("int").alias("band"),
                F.substring(bs, i * rows_per_band + 1,
                            rows_per_band).alias("sig")))))
    return (df.select(id_col, F.explode(bands_arr).alias("bs"))
            .select(id_col, F.col("bs.band").alias("band"),
                    F.col("bs.sig").alias("sig")))


def lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             *, bits: int = 32, bands: int = 8, dims: int = 64,
             max_bucket: int | None = None) -> DataFrame:
    """Banded signed-random-projection ANN: candidates share at least
    one band signature with the query; exact cosine re-ranks them.

    Parameter guidance (measured in tests/test_simsearch.py):
    signature width per band = bits/bands decides pruning. 16-bit
    signatures (e.g. bits=64, bands=4) give 65k buckets per band —
    the 100-TB config for REAL embedding corpora, where near-duplicates
    sit at cosine >= 0.95 and survive wide bands (planted-neighbor
    recall ~1.0, candidate fraction ~bands/2^16 for the random bulk).
    On near-uniform vectors (top-k neighbors at cosine ~0.3, like the
    synthetic test corpus) no LSH family prunes AND recalls — use
    narrower bands (bits=32, bands=8: recall ~0.66 at ~2.4x pruning)
    or brute force; that trade-off is the data's, not the index's.

    ``max_bucket`` drops corpus-side buckets larger than the cap (a
    degenerate bucket — e.g. the all-zeros region — would otherwise
    contribute bucket_size x queries candidates); drops lower recall
    for vectors in dropped buckets, never correctness of the re-rank.
    """
    coefs = _plane_coefs(dims, bits)
    e = _as_double(embeddings, "embedding")
    q = _as_double(queries, "embedding")

    e_sig = _signatures(e, coefs, id_col="vec_id", vec_col="embedding",
                        bands=bands, bits=bits)
    q_sig = _signatures(q, coefs, id_col="query_id", vec_col="embedding",
                        bands=bands, bits=bits)
    if max_bucket is not None:
        wb = Window.partitionBy("band", "sig")
        e_sig = (e_sig.withColumn("bsize", F.count(F.lit(1)).over(wb))
                 .filter(F.col("bsize") <= max_bucket).drop("bsize"))
    cand = (e_sig.join(q_sig, ["band", "sig"])
            .select("vec_id", "query_id").distinct())

    joined = (cand
              .join(e.select("vec_id", F.col("embedding").alias("_ev")),
                    "vec_id")
              .join(F.broadcast(q.select("query_id",
                                         F.col("embedding").alias("_qv"))),
                    "query_id")
              .filter(F.col("vec_id") != F.col("query_id")))
    return _topk(joined.select(
        "query_id", "vec_id",
        (F.round(_cosine("_ev", "_qv"), 6) + F.lit(0.0)).alias("cosine")), k)


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             *, n_probe: int = 3,
             centroid_round: int | None = None) -> DataFrame:
    """IVF-style ANN using an existing coarse partition (the `label`
    column as cells): per query, probe the n_probe nearest cell
    centroids, exact-search only those cells.

    ``centroid_round`` rounds centroid components (use 6 for
    cross-engine reproducibility: float AVG summation order differs
    between engines; rounding pins the probe selection)."""
    e = _as_double(embeddings, "embedding")
    q = _as_double(queries, "embedding")

    cagg = F.avg("v")
    if centroid_round is not None:
        cagg = F.round(cagg, centroid_round)
    centroids = (e.select("label", F.posexplode("embedding").alias("dim", "v"))
                 .groupBy("label", "dim").agg(cagg.alias("c"))
                 .groupBy("label")
                 .agg(F.array_sort(F.collect_list(F.struct("dim", "c")))
                      .alias("pairs"))
                 .select("label",
                         F.transform("pairs", lambda p: p["c"]).alias("cv")))
    probes = (q.crossJoin(F.broadcast(centroids))
              .select("query_id", "label",
                      _cosine("embedding", "cv").alias("ccos")))
    wp = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("label").asc())
    probe_cells = (probes.withColumn("rn", F.row_number().over(wp))
                   .filter(F.col("rn") <= n_probe)
                   .select("query_id", "label"))

    joined = (e.join(probe_cells, "label")
              .join(F.broadcast(q.select("query_id",
                                         F.col("embedding").alias("_qv"))),
                    "query_id")
              .filter(F.col("vec_id") != F.col("query_id")))
    return _topk(joined.select(
        "query_id", "vec_id",
        F.round(_cosine("embedding", "_qv"), 6).alias("cosine")), k)


def kmeans_cells(embeddings: DataFrame, *, k: int = 8, iterations: int = 2,
                 round_to: int = 6) -> DataFrame:
    """Build an IVF coarse quantizer with Lloyd's k-means, expressed as
    pure DataFrame ops — the index-BUILD step whose output feeds
    :func:`ivf_topk` as the cell column.

    Deterministic and cross-engine reproducible by construction:
    initial centroids are the k lowest-id vectors (no RNG), every
    recomputed centroid component is rounded to ``round_to`` decimals
    (so float summation order cannot flip assignments), and ties on
    distance break toward the lower cell id.

    Scale shape: each iteration is ONE crossJoin against the
    BROADCAST k-row centroid table (k is small by definition of a
    coarse quantizer) + one groupBy(cell) partial/final aggregation —
    no shuffle grows with k, and the corpus is scanned ``iterations+1``
    times. Returns (vec_id, cell).
    """
    e = _as_double(embeddings.select(F.col("vec_id").alias("_id"),
                                     F.col("embedding").alias("_v")), "_v")
    # deterministic seeds: the k lowest ids
    cents = (e.orderBy("_id").limit(k)
             .select((F.row_number().over(Window.orderBy("_id")) - 1)
                     .alias("cell"),
                     F.col("_v").alias("_c")))

    def _assign(vecs, cents):
        d2 = F.aggregate(F.zip_with("_v", "_c", lambda a, b: (a - b) * (a - b)),
                         F.lit(0.0), lambda acc, x: acc + x)
        w = Window.partitionBy("_id").orderBy(F.col("_d2").asc(),
                                              F.col("cell").asc())
        return (vecs.crossJoin(F.broadcast(cents))
                .withColumn("_d2", d2)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("_id", "_v", "cell"))

    assigned = _assign(e, cents)
    for _ in range(iterations - 1):
        new_cents = (assigned
                     .select("cell", F.posexplode("_v").alias("dim", "x"))
                     .groupBy("cell", "dim")
                     .agg(F.round(F.avg("x"), round_to).alias("c"))
                     .groupBy("cell")
                     .agg(F.array_sort(F.collect_list(F.struct("dim", "c")))
                          .alias("pairs"))
                     .select("cell",
                             F.transform("pairs", lambda p: p["c"])
                             .alias("_c"))
                     # truncate lineage at the k-row centroid table:
                     # without this each iteration's plan embeds every
                     # prior iteration's full assign+agg chain, so at
                     # depth d the corpus DAG re-executes O(d) times;
                     # checkpointing k rows keeps plan depth constant
                     # and the corpus is scanned once per iteration
                     .localCheckpoint())
        assigned = _assign(e, new_cents)
    return assigned.select(F.col("_id").alias("vec_id"), "cell")
