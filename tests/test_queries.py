"""Pre-validate the driver contract: every queries() entry vs its
DuckDB oracle at sf0.001 (the driver runs the same comparison at
sf0.01). Mirrors the driver's strictness: the DuckDB side is fetched
via Arrow (the driver's fetch path), column *type kinds* must match
(int vs float vs other — a DuckDB HUGEINT/decimal128 SUM vs Spark
int64 is a failure here, exactly as it is in the driver's value hash),
and values are compared with exact reprs, not a lossy %.10g collapse.
"""

import math

import duckdb
import pytest

from jsonld_js_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _kind(arrow_type_or_spark_name):
    """Collapse a type name to the equivalence class the driver's value
    hash effectively distinguishes: int / float / decimal / other."""
    t = str(arrow_type_or_spark_name).lower()
    if t.startswith(("int", "uint", "bigint", "long", "smallint", "tinyint")):
        return "int"
    if t.startswith(("float", "double", "halffloat")):
        return "float"
    if t.startswith("decimal"):
        return "decimal"
    return "other"


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def _rows_to_set(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


ORACLED = [(name, fn, sql) for name, (fn, sql) in QUERIES.items() if sql]
NO_ORACLE = [(name, fn) for name, (fn, sql) in QUERIES.items() if not sql]


@pytest.mark.parametrize("name,fn,sql", ORACLED, ids=[n for n, _, _ in ORACLED])
def test_query_matches_oracle(spark, ddb, name, fn, sql):
    sdf = fn(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_kinds = {f.name.lower(): _kind(f.dataType.simpleString())
                   for f in sdf.schema.fields}
    spark_rows = [tuple(r) for r in sdf.collect()]

    # Fetch via Arrow — the driver's path — so DuckDB's HUGEINT/decimal
    # widenings are visible instead of silently collapsed by fetchall().
    atbl = ddb.execute(sql).arrow()
    duck_cols = [f.name.lower() for f in atbl.schema]
    duck_kinds = {f.name.lower(): _kind(f.type) for f in atbl.schema}
    duck_rows = list(zip(*(atbl.column(i).to_pylist()
                           for i in range(atbl.num_columns)))) \
        if atbl.num_columns else []

    assert sorted(spark_cols) == sorted(duck_cols), \
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    for c in spark_cols:
        assert spark_kinds[c] == duck_kinds[c], (
            f"{name}: column {c!r} type-kind mismatch: spark={spark_kinds[c]} "
            f"duck={duck_kinds[c]} — the driver hash WILL fail on this "
            f"(wrap the oracle aggregate in CAST(... AS BIGINT/DOUBLE))")
    assert len(spark_rows) == len(duck_rows), \
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    sset = _rows_to_set(spark_rows, spark_cols)
    dset = _rows_to_set(duck_rows, duck_cols)
    if sset != dset:
        diff_s = [r for r in sset if r not in dset][:5]
        diff_d = [r for r in dset if r not in sset][:5]
        raise AssertionError(f"{name}: value mismatch\n spark-only={diff_s}\n duck-only={diff_d}")


@pytest.mark.parametrize("name,fn", NO_ORACLE, ids=[n for n, _ in NO_ORACLE])
def test_rows_only_queries_run(spark, name, fn):
    sdf = fn(spark, SF_DIR)
    assert sdf.count() >= 0
    assert len(sdf.columns) > 0


def test_kg_full_build_composite_gate(spark):
    """kg_full_build has no SQL oracle (its input is synthesized in
    Python), but it decomposes exactly: its rows == the kernel oracle's
    canonized document triples + entity-mention triples, and each half
    is independently hash/parity-gated elsewhere (extract via the P/R
    quad oracle, linking via ORACLE_KG_ENTITY_LINK). This pins the
    union itself, and the served extractor against the oracle."""
    from jsonld_js_spark.operators.entity_link import (
        link_entities, mention_triples)
    from jsonld_js_spark.operators.pipeline import (
        extract_triples, triples_only)
    from jsonld_js_spark.queries import kg_full_build
    from jsonld_js_spark.sources.entities import entities_df
    from jsonld_js_spark.sources.transcripts import synthesize_transcripts

    built = kg_full_build(spark, SF_DIR)
    tx = synthesize_transcripts(spark, 60, seed=42)
    doc = triples_only(extract_triples(tx, canonicalize=True)).drop(
        "conv_id", "turn_idx")
    ents = entities_df(spark, 300)
    mentions = mention_triples(
        link_entities(tx, ents, strategy="salted", n_salt=8))
    assert doc.count() > 0 and mentions.count() > 0
    expected = doc.unionByName(mentions)
    assert built.exceptAll(expected).count() == 0
    assert expected.exceptAll(built).count() == 0


def test_kg_extract_documents_kernel_envelope_parity(spark):
    """kg_extract_documents checks the hybrid's JVM envelope against
    DuckDB; the kernel oracle must give the same rows over the same
    turns, so the kernel's envelope is checked too, through this link."""
    from jsonld_js_spark.operators.pipeline import (
        extract_triples, extract_triples_hybrid)
    from jsonld_js_spark.queries import _docs_as_transcripts

    tx = _docs_as_transcripts(spark, SF_DIR)
    a, b = extract_triples(tx), extract_triples_hybrid(tx)
    assert a.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_kg_canonize_transcripts_composite_gate(spark):
    """kg_canonize_transcripts has no SQL oracle (its input is
    synthesized in Python), but it decomposes exactly: RDFC-1.0
    canonicalization RELABELS blank nodes and never adds or drops
    triples for this corpus (no duplicate-quad collapse in it), so its
    row count must equal the plain extraction's triple count over the
    SAME corpus slice — and the canonical labels themselves are
    hash-gated elsewhere (tests/test_canon.py, kg_canonize_documents).
    This pins the pipeline wiring the rows-only driver check can't."""
    from jsonld_js_spark.operators.pipeline import (
        extract_triples, triples_only)
    from jsonld_js_spark.queries import kg_canonize_transcripts
    from jsonld_js_spark.sources.transcripts import synthesize_transcripts

    canon_rows = kg_canonize_transcripts(spark, SF_DIR).count()
    tx = synthesize_transcripts(spark, 40, seed=42)
    plain_rows = triples_only(extract_triples(tx)).count()
    assert canon_rows > 0
    assert canon_rows == plain_rows


def test_ngram_demo_pairs_contained_in_minhash_scale_path(spark):
    """r5 VERDICT #4: the O(n^2) all-pairs ngram-Jaccard DEMO is the
    ground-truth generator for the LSH scale path. Every demo pair,
    translated through the operator's exact-shape rep collapse (docs
    with identical shingle sets dedupe to a min-id representative
    before hashing), must appear among doc_dedup_ngram_minhash's
    verified pairs — recall of the scale path vs exact Jaccard,
    measured and printed. Demo pairs are (lang, source)-blocked, so
    containment (not equality) is the correct direction: the LSH path
    also finds cross-block pairs."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from jsonld_js_spark.queries import (_shingles3, doc_dedup_ngram_jaccard,
                                         doc_dedup_ngram_minhash, load)

    demo = {(r["doc1"], r["doc2"])
            for r in doc_dedup_ngram_jaccard(spark, SF_DIR).collect()}
    scale = {(r["doc1"], r["doc2"])
             for r in doc_dedup_ngram_minhash(spark, SF_DIR).collect()}

    # exact-shape rep map, computed exactly like minhash_lsh_pairs
    sh = _shingles3(load(spark, SF_DIR, "documents")).select("doc_id", "toks")
    shape = F.md5(F.concat_ws("\x1f", F.array_sort("toks"))).alias("shape")
    rep = {r["doc_id"]: r["rep"]
           for r in sh.select("doc_id", shape)
           .withColumn("rep", F.min("doc_id").over(Window.partitionBy("shape")))
           .collect()}

    translated = set()
    for a, b in demo:
        ra, rb = rep[a], rep[b]
        if ra == rb:
            continue  # same exact-shape class: exact dedup's job
        translated.add((min(ra, rb), max(ra, rb)))

    assert translated, "test corpus has no cross-shape ngram near-dups"
    missed = translated - scale
    recall = 1 - len(missed) / len(translated)
    print(f"\nngram scale-path recall vs exact demo: {recall:.4f} "
          f"({len(translated) - len(missed)}/{len(translated)} pairs)")
    assert not missed, (
        f"scale path missed {len(missed)} ground-truth pairs: "
        f"{sorted(missed)[:10]}")


def test_token_demo_pairs_contained_in_minhash_scale_path(spark):
    """Symmetric to the ngram gate: the token-set all-pairs demo
    (threshold 0.8) is ground truth for doc_dedup_minhash_lsh (same
    token sets, verify threshold 0.5 ⊂ 0.8). Pairs translate through
    the exact-shape rep collapse; recall printed."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from jsonld_js_spark.functions import tokens
    from jsonld_js_spark.queries import (doc_dedup_minhash_lsh,
                                         doc_dedup_token_jaccard, load)

    demo = {(r["doc1"], r["doc2"])
            for r in doc_dedup_token_jaccard(spark, SF_DIR).collect()}
    scale = {(r["doc1"], r["doc2"])
             for r in doc_dedup_minhash_lsh(spark, SF_DIR).collect()}

    d = (load(spark, SF_DIR, "documents")
         .select("doc_id", tokens(F.col("text")).alias("toks"))
         .filter(F.size("toks") > 0))
    shape = F.md5(F.concat_ws("\x1f", F.array_sort("toks"))).alias("shape")
    rep = {r["doc_id"]: r["rep"]
           for r in d.select("doc_id", shape)
           .withColumn("rep", F.min("doc_id").over(Window.partitionBy("shape")))
           .collect()}

    translated = set()
    for a, b in demo:
        ra, rb = rep[a], rep[b]
        if ra != rb:
            translated.add((min(ra, rb), max(ra, rb)))

    assert translated, "test corpus has no cross-shape token near-dups"
    missed = translated - scale
    recall = 1 - len(missed) / len(translated)
    print(f"\ntoken scale-path recall vs exact demo: {recall:.4f} "
          f"({len(translated) - len(missed)}/{len(translated)} pairs)")
    # banded LSH (3x4) catches ~80% at j=0.8 and ~99.9% at j=0.95 —
    # the honest gate: high overall recall AND no high-sim miss
    assert recall >= 0.95, sorted(missed)[:10]
    if missed:
        jac = {(r["doc1"], r["doc2"]): r["jaccard"]
               for r in doc_dedup_token_jaccard(spark, SF_DIR).collect()}
        by_rep = {}
        for (a, b), j in jac.items():
            ra, rb = rep[a], rep[b]
            if ra != rb:
                key = (min(ra, rb), max(ra, rb))
                by_rep[key] = max(by_rep.get(key, 0.0), j)
        high_missed = [(p, by_rep.get(p)) for p in missed
                       if by_rep.get(p, 0.0) >= 0.95]
        assert not high_missed, high_missed


@pytest.fixture(scope="module")
def boundary_sf(tmp_path_factory):
    """One (lang, source) block holding a 3,203-token document inside a
    4,004-token one: J = 0.79995..., which rounds onto the 0.8
    threshold (the smallest such subset pair)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [" ".join(f"t{i}" for i in range(n)) for n in (3203, 4004)]
    sf = tmp_path_factory.mktemp("boundary_sf")
    pq.write_table(pa.table({
        "doc_id": pa.array([1, 2], pa.int64()), "text": texts,
        "lang": ["en", "en"], "source": ["web", "web"],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        sf / "documents.parquet")
    return str(sf)


def test_token_jaccard_oracle_keeps_rounded_boundary_pair(boundary_sf):
    """The DuckDB oracle compares ROUND(J, 4) with the threshold, as the
    Spark leaves do, so the pair that rounds onto 0.8 is kept."""
    from jsonld_js_spark.queries import ORACLE_DOC_JACCARD

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{boundary_sf}/documents.parquet')")
    assert con.execute(ORACLE_DOC_JACCARD).fetchall() == [(1, 2, 0.8)]
    con.close()


def test_token_jaccard_leaf_keeps_rounded_boundary_pair(spark, boundary_sf):
    fn = QUERIES["doc_dedup_token_jaccard"][0]
    assert [tuple(r) for r in fn(spark, boundary_sf).collect()] == [(1, 2, 0.8)]
