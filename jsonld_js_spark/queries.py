"""Driver-contract query library: SURVEY §2 operator coverage.

Every entry here is a (spark, sf_dir) -> DataFrame callable with —
wherever expressible — a matching ANSI-SQL oracle DuckDB runs on the
same parquet. Column names/aliases match EXACTLY between both sides
(the driver hash-compares values under sorted column names).

Numeric discipline for cross-engine equality:
- money: cents as BIGINT (exact integer arithmetic both sides);
- float aggregates: ROUND(x, 4..6) — both engines compute IEEE
  doubles over identical inputs;
- hashes: md5-hex-prefix -> 60-bit integer, identical construction in
  Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
  (`cast(concat('0x', substr(md5(x),1,15)) as ubigint)`).

Operator-category map (SURVEY §2.11): scans/filters (q_filter_*),
joins incl. broadcast + salted-skew (q_join_*, q_skew_*), aggregations
(q_agg_*, doc_*), windows (q_window_*, q_events_*), sorts/top-k
(q_topk_*), set ops (q_setop_*), ref-counting (q_refcount_*), the
JSON-LD engine itself (kg_*), training-data ops (doc_*, emb_*, mm_*).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import cents, hash60, tokens, words


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =====================================================================
# Relational operators over the star schema
# =====================================================================

def q_agg_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-style partial+final hash aggregation (SURVEY §2.11
    aggregations; Catalyst partial agg comes free)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
                 F.sum(cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
                 F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                 .alias("sum_disc_price_cents"),
                 F.count(F.lit(1)).alias("count_order")))


ORACLE_Q_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS sum_disc_price_cents,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_join_broadcast_region_sales(spark, sf_dir):
    """Star join with explicit broadcast of the small dims — the plan
    the entity-linking join uses (broadcast dictionary, SURVEY §2.11)."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    return (li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .groupBy("r_name")
            .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                 .alias("revenue_cents"),
                 F.countDistinct("s_suppkey").alias("n_suppliers")))


ORACLE_Q_JOIN_BROADCAST = """
SELECT r_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents,
       COUNT(DISTINCT s_suppkey) AS n_suppliers
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_window_top_order_per_cust(spark, sf_dir):
    """row_number() window — the embed-@once / first-match semantics
    of framing (lib/frame.js:136-169) as a relational op."""
    from pyspark.sql.window import Window
    o = load(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()))
    return (o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey",
                    cents(F.col("o_totalprice")).alias("top_price_cents")))


ORACLE_Q_WINDOW = """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS top_price_cents
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders)
WHERE rn = 1
"""


def q_topk_orders(spark, sf_dir):
    """Global top-k (sort + limit; TakeOrderedAndProject physical op)."""
    o = load(spark, sf_dir, "orders")
    return (o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
            .limit(10)
            .select("o_orderkey", cents(F.col("o_totalprice")).alias("price_cents")))


ORACLE_Q_TOPK = """
SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_setop_union_dedup(spark, sf_dir):
    """unionByName + dropDuplicates == jsonld.merge's node-level dedupe
    (lib/jsonld.js:770-857 -> SURVEY §2.11 set ops)."""
    c = load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_name")
    b = c.filter(F.col("c_acctbal") > 0).select("c_custkey", "c_name")
    return a.unionByName(b).dropDuplicates(["c_custkey", "c_name"])


ORACLE_Q_SETOP = """
SELECT DISTINCT c_custkey, c_name FROM (
  SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 0)
"""


def q_filter_pushdown_part(spark, sf_dir):
    """Selective filter + narrow projection — predicate pushdown +
    column pruning must reach the parquet scan (checked in bench via
    .explain)."""
    p = load(spark, sf_dir, "part")
    return (p.filter((F.col("p_size") % 5 == 0) & (F.col("p_size") <= 40))
            .select("p_partkey", "p_name", "p_size"))


ORACLE_Q_FILTER = """
SELECT p_partkey, p_name, p_size FROM part
WHERE p_size % 5 = 0 AND p_size <= 40
"""


def q_refcount_once(spark, sf_dir):
    """Objects referenced exactly once — fromRDF's `referencedOnce`
    list-folding precondition (lib/fromRdf.js:129-139) as groupBy+HAVING."""
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") == 1).select("l_orderkey"))


ORACLE_Q_REFCOUNT = """
SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) = 1
"""


def q_antijoin_customers_without_orders(spark, sf_dir):
    """Left-anti join == framing's match-none semantics / flatten's
    drop of referenced-only nodes (lib/flatten.js:33)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


ORACLE_Q_ANTIJOIN = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""


def q_skew_salted_join(spark, sf_dir):
    """Equi-join with explicit key salting (SALT=8): the big side gets
    a random-free deterministic salt from its row, the small side is
    exploded across all salt values — the north_star pattern for hot
    conv_ids / high-degree entities. Result identical to the plain
    join (that's what the oracle checks)."""
    n_salt = 8
    li = (load(spark, sf_dir, "lineitem")
          .withColumn("salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"),
                                     F.lit(n_salt))))
    o = (load(spark, sf_dir, "orders")
         .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))))
    return (li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
            .groupBy("o_orderpriority")
            .agg(F.sum(cents(F.col("l_extendedprice"))).alias("revenue_cents"),
                 F.count(F.lit(1)).alias("n_items")))


ORACLE_Q_SKEW = """
SELECT o_orderpriority,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_events_sessionize(spark, sf_dir):
    """lag() window over an event stream: session starts per user with
    a 30-minute gap rule (stateful-stream analog in batch form)."""
    from pyspark.sql.window import Window
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    return (e.withColumn("new_session",
                         F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
            .groupBy("user_id")
            .agg(F.sum("new_session").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


ORACLE_Q_SESSIONIZE = """
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER
              (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events)
GROUP BY user_id
"""


def q_events_windowed(spark, sf_dir):
    """Tumbling 1-hour window counts per event type (the batch shape of
    the Structured-Streaming windowed agg in streaming/incremental)."""
    e = load(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                      "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value")))


ORACLE_Q_WINDOWED = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) + 0.0 AS sum_value
FROM events GROUP BY 1, 2
"""


# =====================================================================
# The JSON-LD engine itself, SQL-oracle-checked by construction
# =====================================================================

KG_V = "https://example.org/kg#"


def kg_tordf_customers(spark, sf_dir):
    """Rows -> JSON-LD docs -> fused expand+nodeMap+toRDF -> triples.

    The doc embeds a nested node (nation) so the UDF exercises node
    splitting; the oracle reconstructs every expected triple with
    plain SQL string concat — a fully independent check of IRI
    expansion, @type handling, nesting, and integer literal typing.
    """
    # dataset-level merge semantics: duplicate (subj,pred,obj) across
    # documents collapse, exactly jsonld.merge's allowDuplicate:false
    # (lib/util.js:246-298) -> dropDuplicates after the union
    return (_tordf_customers_raw(spark, sf_dir)
            .dropDuplicates(["subj", "pred", "obj"])
            .orderBy("subj", "pred", "obj"))


def _tordf_customers_raw(spark, sf_dir):
    """kg_tordf_customers WITHOUT the final dropDuplicates + global
    orderBy — for consumers whose own processing is invariant to quad
    duplication and order (kg_fromrdf_nodes: per-subject assembly
    dedupes value objects in build_node, and this corpus has no
    rdf:rest quads so the referenced-once list machinery sees no
    candidates). Skips one full shuffle and one range-partition+sort
    of the triples stream; output of the CONSUMER query is
    hash-identical (driver-gated)."""
    from .operators.pipeline import extract_triples_hybrid, triples_only

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    c2 = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
          .select("c_custkey", "c_name", "c_mktsegment", "n_nationkey", "n_name"))
    # spread the single-split scan before the per-row kernel stage
    # (_spread: test-data plumbing; the kernel Arrow UDF would
    # otherwise run in ONE task)
    c2 = _spread(c2, "c_custkey")
    doc_text = F.concat(
        F.lit('{"@context": {"@vocab": "' + KG_V + '"}, '),
        F.lit('"@id": "https://example.org/kg/customer/'), F.col("c_custkey"),
        F.lit('", "@type": "Customer", "name": "'), F.col("c_name"),
        F.lit('", "segment": "'), F.col("c_mktsegment"),
        F.lit('", "nation": {"@id": "https://example.org/kg/nation/'),
        F.col("n_nationkey"),
        F.lit('", "name": "'), F.col("n_name"), F.lit('"}}'))
    docs = _as_turns(c2, F.lit("kg"), F.col("c_custkey"), doc_text,
                     F.lit("assistant"))
    tri = triples_only(extract_triples_hybrid(docs))
    return tri.select("subj", "pred", F.col("obj_value").alias("obj"))


ORACLE_KG_TORDF = f"""
WITH cust AS (
  SELECT c_custkey, c_name, c_mktsegment, n_nationkey, n_name
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
t AS (
  SELECT 'https://example.org/kg/customer/' || c_custkey AS subj,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
         '{KG_V}Customer' AS obj FROM cust
  UNION ALL
  SELECT 'https://example.org/kg/customer/' || c_custkey,
         '{KG_V}name', c_name FROM cust
  UNION ALL
  SELECT 'https://example.org/kg/customer/' || c_custkey,
         '{KG_V}segment', c_mktsegment FROM cust
  UNION ALL
  SELECT 'https://example.org/kg/customer/' || c_custkey,
         '{KG_V}nation', 'https://example.org/kg/nation/' || n_nationkey
  FROM cust
  UNION ALL
  SELECT DISTINCT 'https://example.org/kg/nation/' || n_nationkey,
         '{KG_V}name', n_name FROM cust)
SELECT subj, pred, obj FROM t ORDER BY subj, pred, obj
"""


def kg_extract_transcripts(spark, sf_dir):
    """Flagship KG construction over the synthetic transcript corpus
    (deterministic, seed-fixed). No SQL oracle — correctness is the
    hand-written-quads P/R gate in tests/test_pipeline.py (canonize-
    then-compare, the reference comparator's semantics)."""
    from .operators.pipeline import extract_triples_hybrid, triples_only
    from .sources.transcripts import synthesize_transcripts

    tx = synthesize_transcripts(spark, 100, seed=42)
    return triples_only(extract_triples_hybrid(tx))


def kg_canonize_transcripts(spark, sf_dir):
    """Same pipeline with per-document RDFC-1.0 canonical labels
    (salt-namespaced). Rows-only check; label correctness is
    tests/test_canon.py."""
    from .operators.pipeline import extract_triples_hybrid, triples_only
    from .sources.transcripts import synthesize_transcripts

    tx = synthesize_transcripts(spark, 40, seed=42)
    return triples_only(extract_triples_hybrid(tx, canonicalize=True))




def kg_frame_customers(spark, sf_dir):
    """Framing as a static join tree (SURVEY §2.8): the frame
    {"@type": Customer, "nation": {"name": "NATION_3"}} over the
    triples table = two self-joins (type-filter ⋈ obj==subj ⋈ value
    pattern) — what the reference does with recursion
    (lib/frame.js:76-323) the engine does with Catalyst joins.
    Derived ONLY from the triples table, never the base tables."""
    from .operators.cachereg import release_caches, scoped_cache
    release_caches()
    tri = scoped_cache(kg_tordf_customers(spark, sf_dir))
    typed = (tri.filter((F.col("pred") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
                        & (F.col("obj") == KG_V + "Customer"))
             .select(F.col("subj").alias("cust")))
    nation_edge = (tri.filter(F.col("pred") == KG_V + "nation")
                   .select(F.col("subj").alias("cust"), F.col("obj").alias("nation")))
    nation_name = (tri.filter((F.col("pred") == KG_V + "name")
                              & (F.col("obj") == "NATION_3"))
                   .select(F.col("subj").alias("nation")))
    cust_name = (tri.filter(F.col("pred") == KG_V + "name")
                 .select(F.col("subj").alias("cust"), F.col("obj").alias("customer_name")))
    return (typed.join(nation_edge, "cust").join(nation_name, "nation")
            .join(cust_name, "cust")
            .select(F.col("cust").alias("customer_iri"), "customer_name",
                    F.col("nation").alias("nation_iri")))


ORACLE_KG_FRAME = """
SELECT 'https://example.org/kg/customer/' || c_custkey AS customer_iri,
       c_name AS customer_name,
       'https://example.org/kg/nation/' || n_nationkey AS nation_iri
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
"""


# =====================================================================
# Training-data operators: dedup / similarity / text / multimodal
# =====================================================================

def doc_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on a content key (md5 of the first 60
    chars; the corpus has no full-text dups); keeper = min doc_id."""
    d = load(spark, sf_dir, "documents")
    key = F.md5(F.substring("text", 1, 60)).alias("content_key")
    return (d.groupBy(key)
            .agg(F.min("doc_id").alias("keeper"),
                 F.count(F.lit(1)).alias("n_copies"))
            .filter(F.col("n_copies") > 1)
            .select("keeper", "n_copies"))


ORACLE_DOC_DEDUP_EXACT = """
SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies
FROM documents GROUP BY md5(substr(text, 1, 60)) HAVING COUNT(*) > 1
"""


def doc_dedup_token_jaccard(spark, sf_dir):
    """Near-dup detection: token-set Jaccard >= 0.8 within
    (lang, source) blocks. Blocking bounds the pair space (at scale:
    replace blocks with MinHash-LSH buckets, below); the join is a
    real shuffle join on the block key
    (operators/dedup.blocked_jaccard_pairs)."""
    from .operators.dedup import blocked_jaccard_pairs

    # spread the one-split scan, then materialize the token array
    # behind a generator: a plain alias would inline the tokenize into
    # the pushed-down size filter (run in the single scan task) and
    # into every downstream reference (see _shingles3)
    d = (load_docs_wide(spark, sf_dir)
         .select("doc_id", "lang", "source",
                 F.explode(F.array(tokens(F.col("text")))).alias("toks"))
         .filter(F.size("toks") > 0))
    return blocked_jaccard_pairs(d, 0.8)


ORACLE_DOC_JACCARD = """
WITH d AS (
  SELECT doc_id, lang, source,
         list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))
             AS toks
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0)
SELECT doc1, doc2, jaccard FROM (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (len(a.toks) + len(b.toks)
                  - len(list_intersect(a.toks, b.toks))), 4) AS jaccard
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
WHERE jaccard >= 0.8
"""


def _shingles3(docs):
    """(doc_id, lang, source, toks): distinct word-3-gram shingle arrays
    built with pure column algebra (sequence + transform over the
    ordered token array) — JVM-side, no shuffle, no UDF.

    The token array is materialized through a single-row GENERATOR
    (explode of a one-element array): as a plain projection alias,
    CollapseProject inlines the split expression into EVERY reference
    — size(t) in the pushed-down filter (evaluated below any spread
    exchange, i.e. in the one-split scan task) and all three
    element_at calls per shingle position (re-splitting the text per
    access). Generators are evaluation and pushdown barriers: split
    runs once per row, after the caller's spread."""
    d = (docs.select("doc_id", "lang", "source",
                     F.explode(F.array(words(F.col("text")))).alias("t"))
         .filter(F.size("t") >= 3))
    sh = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.size("t") - 3),
        lambda i: F.concat_ws("\x1f", F.element_at(F.col("t"), i + 1),
                              F.element_at(F.col("t"), i + 2),
                              F.element_at(F.col("t"), i + 3))))
    return d.select("doc_id", "lang", "source", sh.alias("toks"))


def doc_dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup detection on word 3-gram SHINGLES (order-sensitive,
    unlike the token-set variant above): Jaccard >= 0.5 over distinct
    shingle sets within (lang, source) blocks. Shingles are built with
    pure column algebra (sequence + transform over the ordered token
    array) — no shuffle before the block join.

    Like doc_dedup_token_jaccard this is the ORACLE-MATCHED DEMO of
    the similarity measure: blocked all-pairs is O(n^2) per block. At
    corpus scale run the same shingle arrays through
    operators/dedup.minhash_lsh_pairs (shingle -> minhash -> band ->
    bucket join), which bounds the pair space by bucket collisions."""
    from .operators.dedup import blocked_jaccard_pairs

    return blocked_jaccard_pairs(_shingles3(load_docs_wide(spark, sf_dir)),
                                 0.5)


ORACLE_DOC_NGRAM_JACCARD = """
WITH t0 AS (
  SELECT doc_id, lang, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
d AS (
  SELECT doc_id, lang, source,
         list_distinct(list_transform(range(1, len(t) - 1),
             i -> t[i] || chr(31) || t[i + 1] || chr(31) || t[i + 2])) AS sh
  FROM t0 WHERE len(t) >= 3)
SELECT doc1, doc2, jaccard FROM (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
               4) AS jaccard
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
WHERE jaccard >= 0.5
"""


_N_MINHASH = 12
_N_BANDS = 3  # 4 rows per band: selective buckets, fewer false candidates


def doc_dedup_minhash_lsh(spark, sf_dir):
    """MinHash(12) + LSH(3 bands x 4) over token sets: the cap-free
    configuration of operators/dedup.minhash_lsh_pairs (shape collapse
    -> minhash -> band -> bucket self-join -> true-Jaccard verify).
    Docs with IDENTICAL token sets are first collapsed to a min-doc_id
    representative (exact-dup removal belongs before near-dup search —
    at scale the hot LSH bucket is exactly the exact-dup class, and
    collapsing it first turns an O(c^2) bucket blow-up into O(u^2) over
    unique shapes). Candidates = rep pairs sharing any band signature;
    output verified with true token Jaccard >= 0.5."""
    from .operators.dedup import minhash_lsh_pairs

    d = (load_docs_wide(spark, sf_dir)
         .select("doc_id", tokens(F.col("text")).alias("toks")))
    return minhash_lsh_pairs(d, n_minhash=_N_MINHASH, n_bands=_N_BANDS,
                             threshold=0.5)[0]


# the LSH oracles' true-Jaccard verify of their candidate pairs: like
# every Spark leaf (operators/dedup.jaccard_at_least), it keeps a pair
# on the Jaccard rounded to 4 places
_ORACLE_VERIFY = """SELECT doc1, doc2, jaccard FROM (
  SELECT doc1, doc2,
         ROUND(CAST(len(list_intersect(d1.toks, d2.toks)) AS DOUBLE)
               / (len(d1.toks) + len(d2.toks)
                  - len(list_intersect(d1.toks, d2.toks))), 4) AS jaccard
  FROM cand JOIN d d1 ON d1.doc_id = doc1 JOIN d d2 ON d2.doc_id = doc2)
WHERE jaccard >= 0.5
"""

# the LSH oracles' shared CTEs: the token set of each document (d0),
# then the collapsed-shape table (d), its token hashes (tok), minhash
# signatures (mins) and band buckets (buckets)
_ORACLE_TOKEN_SETS = """d0 AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))
             AS toks
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0)"""

_ORACLE_BUCKETS = f'''d AS (
  SELECT doc_id, toks FROM (
    SELECT doc_id, toks,
           MIN(doc_id) OVER (
             PARTITION BY md5(array_to_string(list_sort(toks), chr(31))))
               AS rep
    FROM d0)
  WHERE doc_id = rep),
tok AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(t), 1, 15)) AS UBIGINT)
              AS VARCHAR) AS t
  FROM (SELECT doc_id, unnest(toks) AS t FROM d)),
mins AS (
  SELECT doc_id,
         {", ".join(
             "MIN(CAST(concat('0x', substr(md5('g%d|' || t), %d, 15))"
             " AS UBIGINT)) AS mh%d" % (i // 2, 1 + 15 * (i % 2), i)
             for i in range(_N_MINHASH))}
  FROM tok GROUP BY doc_id),
buckets AS (
  {" UNION ALL ".join(
      "SELECT doc_id, %d AS band, md5(%s) AS sig FROM mins" % (
          b, " || '|' || ".join(
              "CAST(mh%d AS VARCHAR)" % (b * (_N_MINHASH // _N_BANDS) + r)
              for r in range(_N_MINHASH // _N_BANDS)))
      for b in range(_N_BANDS))})'''

ORACLE_DOC_MINHASH = f'''
WITH {_ORACLE_TOKEN_SETS},
{_ORACLE_BUCKETS},
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
{_ORACLE_VERIFY}'''


_MAX_BUCKET = 20


def doc_dedup_minhash_capped(spark, sf_dir):
    """The 100-TB LSH dedup path (operators/dedup.minhash_lsh_pairs):
    hot buckets above _MAX_BUCKET degrade to a star around their
    smallest member (linear, cluster stays connected for component
    dedup) and the drop is reported via the operator's second return.
    The oracle replicates the cap + star logic exactly."""
    from .operators.dedup import minhash_lsh_pairs

    d = (load_docs_wide(spark, sf_dir)
         .select("doc_id", tokens(F.col("text")).alias("toks")))
    pairs, _dropped = minhash_lsh_pairs(
        d, n_minhash=_N_MINHASH, n_bands=_N_BANDS, threshold=0.5,
        max_bucket=_MAX_BUCKET)
    return pairs


# the capped-LSH oracle chain from the collapsed-shape table on —
# shared by the token-set and shingle variants (the d0 CTE is the only
# difference between them)
_ORACLE_CAPPED_CHAIN = f'''{_ORACLE_BUCKETS},
sized AS (
  SELECT doc_id, band, sig,
         COUNT(*) OVER (PARTITION BY band, sig) AS bsize,
         MIN(doc_id) OVER (PARTITION BY band, sig) AS bmin
  FROM buckets),
cand AS (
  SELECT DISTINCT doc1, doc2 FROM (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2
    FROM sized a JOIN sized b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    WHERE a.bsize <= {_MAX_BUCKET} AND b.bsize <= {_MAX_BUCKET}
    UNION ALL
    SELECT bmin AS doc1, doc_id AS doc2
    FROM sized WHERE bsize > {_MAX_BUCKET} AND doc_id <> bmin))
{_ORACLE_VERIFY}'''

ORACLE_DOC_MINHASH_CAPPED = f'''
WITH {_ORACLE_TOKEN_SETS},
{_ORACLE_CAPPED_CHAIN}'''


def doc_dedup_ngram_minhash(spark, sf_dir):
    """The ORDER-SENSITIVE dedup scale path: word-3-gram shingle sets
    routed through the capped MinHash+LSH candidate generator
    (operators/dedup.minhash_lsh_pairs) — the
    production-shape counterpart of the all-pairs
    ``doc_dedup_ngram_jaccard`` demo above. Shingles are built with
    pure column algebra (no shuffle before the LSH bucket join), then
    the generic operator does shape-collapse -> minhash -> band ->
    bucket self-join with the hot-bucket star cap, and verifies
    candidates with true shingle-set Jaccard >= 0.5."""
    from .operators.dedup import minhash_lsh_pairs

    d = _shingles3(load_docs_wide(spark, sf_dir)).select("doc_id", "toks")
    pairs, _dropped = minhash_lsh_pairs(
        d, n_minhash=_N_MINHASH, n_bands=_N_BANDS, threshold=0.5,
        max_bucket=_MAX_BUCKET)
    return pairs


ORACLE_DOC_NGRAM_MINHASH = f'''
WITH tt AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
d0 AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1),
             i -> t[i] || chr(31) || t[i + 1] || chr(31) || t[i + 2])) AS toks
  FROM tt WHERE len(t) >= 3),
{_ORACLE_CAPPED_CHAIN}'''


def doc_dedup_components(spark, sf_dir):
    """Connected-component dedup over the capped-LSH near-dup pairs
    (operators/dedup.dedup_components): iterative min-label propagation
    whose round count scales with component DIAMETER, not corpus size.
    The oracle reproduces the exact pairs CTE and closes it with a
    recursive min-reachability CTE — a full hash-level gate for the
    component labeling itself."""
    from .operators.dedup import dedup_components, minhash_lsh_pairs

    d = (load_docs_wide(spark, sf_dir)
         .select("doc_id", tokens(F.col("text")).alias("toks")))
    pairs, _dropped = minhash_lsh_pairs(
        d, n_minhash=_N_MINHASH, n_bands=_N_BANDS, threshold=0.5,
        max_bucket=_MAX_BUCKET)
    return dedup_components(pairs)


ORACLE_DOC_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({ORACLE_DOC_MINHASH_CAPPED}),
edges AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION ALL
  SELECT doc2 AS a, doc1 AS b FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS comp FROM nodes
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, MIN(comp) AS component FROM reach GROUP BY node
"""


def load_docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table hash-spread on doc_id across the cores (see
    _spread) — every documents query with a per-row-heavy stage starts
    here."""
    return _spread(load(spark, sf_dir, "documents"), "doc_id")


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-spread a single-split test corpus across the cores before a
    per-row-heavy stage (Python kernel, canonize, gram hashing, BPE
    regex, heavy string build).

    TEST-DATA PLUMBING, not an engine strategy: the sf* corpora are
    ONE parquet file = one input split, which would serialize the
    stage on a single core; real 100 TB inputs arrive as thousands of
    splits and need no repartition. The partition count is EXPLICIT so
    AQE does not coalesce the small test corpus back into one partition
    (which would re-serialize the compute). Hash partitioning on the id
    columns (not round-robin) avoids the sort-before-repartition pass
    and is retry-deterministic."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols)


def doc_simhash(spark, sf_dir):
    """32-bit SimHash per document from token md5 bits (sum of ±1 per
    bit position over tokens, sign -> bit). Pure column algebra — no
    UDF, and since r6 NO SHUFFLE: the per-bit ±1 sums are per-row
    F.aggregate passes over the materialized token-hash array instead
    of a token explode + 32-column hash aggregation (the corpus x
    tokens exchange carried pure intermediate state; integer sums are
    order-free, so the signature is bit-identical and the SQL oracle
    unchanged). Token hashes are materialized behind a generator so
    the tokenize+md5 runs once per row after the spread (see
    _shingles3 on CollapseProject inlining)."""
    hs_expr = F.transform(tokens(F.col("text")), lambda t: hash60(t))
    d = (load_docs_wide(spark, sf_dir)
         .select("doc_id", F.explode(F.array(hs_expr)).alias("hs"))
         .filter(F.size("hs") > 0))
    def _bit_sum(i):
        return F.aggregate(
            "hs", F.lit(0),
            lambda acc, h: acc + F.when(
                F.shiftright(h, i).bitwiseAND(1) == 1, 1).otherwise(-1))

    sig = None
    for i in range(32):
        term = F.when(_bit_sum(i) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return d.select("doc_id", sig.cast("long").alias("simhash"))


ORACLE_DOC_SIMHASH = """
WITH d AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))
             AS toks
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0),
tok AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(unnest(toks)), 1, 15)) AS UBIGINT) AS h
  FROM d),
bits AS (
  SELECT doc_id, {sums}
  FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits
""".format(
    sums=", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(32)),
    sig=" + ".join(f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END"
                   for i in range(32)))


def doc_text_stats(spark, sf_dir):
    """Language-ID heuristic + quality scoring + token counting per
    source (the text-analysis battery, all JVM-side column functions)."""
    # no spread and no generator barrier: repeating the codegen'd split
    # per reference of n_tok measured no slower than the exchange and
    # the Generate that shared one split
    text = F.col("text")
    n_tok = F.size(words(text))
    punct = F.length(F.regexp_replace(text, "[^.!?,;]", ""))
    quality = F.when((n_tok >= 5) & (punct * 4 <= n_tok)
                     & (F.length(text) >= 30), 1).otherwise(0)
    return (load(spark, sf_dir, "documents")
            .select("source", "lang", n_tok.alias("n_tok"),
                    quality.alias("quality"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("total_tokens"),
                 F.round(F.avg("quality"), 4).alias("quality_rate"),
                 F.countDistinct("lang").alias("n_langs")))


ORACLE_DOC_TEXT_STATS = """
WITH s AS (
  SELECT source, lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok,
         CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) >= 5
                   AND length(regexp_replace(text, '[^.!?,;]', '', 'g')) * 4
                       <= len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AND length(text) >= 30
              THEN 1 ELSE 0 END AS quality
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       ROUND(AVG(quality), 4) AS quality_rate,
       COUNT(DISTINCT lang) AS n_langs
FROM s GROUP BY source
"""


def doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: min-hash over rolling 8-char grams
    (winnowing-lite). Entirely per-row array algebra — array_min /
    array_distinct over a transform of the gram sequence — so there is
    NO explode, NO shuffle, NO aggregation: the old shape exploded
    length(text) rows per document into a groupBy (a corpus-sized
    shuffle at 100 TB). Per-row arrays are bounded by document length;
    for multi-MB documents switch back to the streaming explode."""
    d = load_docs_wide(spark, sf_dir).filter(F.length("text") >= 8)
    grams_expr = F.transform(
        F.sequence(F.lit(1), F.length("text") - 7),
        lambda i: F.col("text").substr(i, F.lit(8)))
    # materialize the gram array ONCE behind a generator: referenced by
    # both output expressions, a plain alias would rebuild it per
    # reference (CollapseProject — see _shingles3)
    g = d.select("doc_id", F.explode(F.array(grams_expr)).alias("grams"))
    return g.select(
        "doc_id",
        F.array_min(F.transform("grams", lambda g: hash60(g)))
        .alias("fingerprint"),
        F.size(F.array_distinct("grams")).cast("long").alias("n_grams"))


ORACLE_DOC_FINGERPRINT = """
WITH g AS (
  SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS i
  FROM documents WHERE length(text) >= 8)
SELECT doc_id,
       MIN(CAST(concat('0x', substr(md5(substr(text, i, 8)), 1, 15))
           AS UBIGINT)) AS fingerprint,
       COUNT(DISTINCT substr(text, i, 8)) AS n_grams
FROM g GROUP BY doc_id
"""


def emb_pair_cosine(spark, sf_dir):
    """Vector similarity as pure column algebra: cosine(vec_0, vec_k)
    for k in 1..20 — F.zip_with + F.aggregate (simsearch._cosine), no
    UDF."""
    from .operators.simsearch import _as_double, _cosine

    e = _as_double(load(spark, sf_dir, "embeddings"), "embedding")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"))
    t = e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 20))
    return (t.crossJoin(F.broadcast(q))
            .select("vec_id",
                    F.round(_cosine("embedding", "qv"), 6).alias("cosine")))


ORACLE_EMB_PAIR = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM embeddings, q WHERE vec_id BETWEEN 1 AND 20
"""


def emb_knn_brute(spark, sf_dir):
    """Brute-force cosine top-k (k=10) against vec_0 — the ANN
    baseline. Top-k via orderBy+limit (TakeOrdered)."""
    from .operators.simsearch import _cosine

    e = (load(spark, sf_dir, "embeddings")
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    t = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    return (t.select("vec_id",
                     F.round(_cosine("embedding", "qv"), 6).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
            .limit(10))


ORACLE_EMB_KNN = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM embeddings, q WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def emb_centroid_norm(spark, sf_dir):
    """Per-label centroid via posexplode + groupBy — the IVF
    coarse-quantizer build step of the ANN scale path."""
    e = load(spark, sf_dir, "embeddings")
    return (e.select("label", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("label", "pos")
            .agg((F.round(F.avg(F.col("v").cast("double")), 4) + F.lit(0.0))
                 .alias("avg_v")))


ORACLE_EMB_CENTROID = """
SELECT label, i - 1 AS pos,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) + 0.0 AS avg_v
FROM embeddings, generate_series(1, 64) gs(i)
GROUP BY label, i - 1
"""


def mm_binary_meta(spark, sf_dir):
    """Multimodal plumbing: documents.text as an opaque binary column
    with typed metadata, decoded by a deterministic STUB feature
    extractor over mapInPandas (real Arrow batch shape; the actual
    image/audio decode is NotImplemented in this container — see
    operators/multimodal.py). Oracle checks the deterministic fake."""
    from .operators.multimodal import extract_binary_features

    d = (load(spark, sf_dir, "documents")
         .select("doc_id", F.encode("text", "utf-8").alias("payload"),
                 F.lit("application/octet-stream").alias("mime")))
    return extract_binary_features(d)


ORACLE_MM_META = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
       CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_height
FROM documents
"""




def kg_fromrdf_nodes(spark, sf_dir):
    """The inverse scan (SURVEY §2.6): triples -> assembled JSON-LD
    nodes via distributed per-subject assembly (operators/fromrdf_ops:
    one Catalyst collect_list aggregation + iterative list-chain joins,
    no single-task stage). Output is the per-subject predicate count —
    independently reconstructable by the oracle from the base tables;
    the count is derived JVM-side with json_object_keys (no Python)."""
    from .operators.fromrdf_ops import from_rdf_nodes

    # raw triples stream: fromRDF assembly is invariant to quad
    # duplication/order here (see _tordf_customers_raw), so the
    # dropDuplicates shuffle + global sort are skipped
    tri = _tordf_customers_raw(spark, sf_dir)
    full = tri.select(
        F.lit("").alias("graph"), "subj", "pred",
        F.when(F.col("obj").startswith("http"), F.lit("iri"))
        .otherwise(F.lit("literal")).alias("obj_kind"),
        F.col("obj").alias("obj_value"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"))
    from .operators.cachereg import release_caches, scoped_cache
    release_caches()
    full = scoped_cache(full)
    # cached: from_rdf_nodes consumes its input from three plans (list
    # links, chain walk, per-subject assembly) — uncached, each one
    # re-runs the upstream Python-kernel extraction (at 100 TB: the
    # triples table would be a materialized parquet/Iceberg input, so
    # the re-scan problem is local to this derived-on-the-fly demo)
    nodes = from_rdf_nodes(full)
    return nodes.select(
        "subj",
        (F.size(F.json_object_keys("node_json")) - 1)
        .cast("int").alias("n_props"))


ORACLE_KG_FROMRDF = """
WITH t AS (
  SELECT 'https://example.org/kg/customer/' || c_custkey AS subj,
         4 AS n_props  -- @type, name, segment, nation
  FROM customer
  UNION ALL
  SELECT DISTINCT 'https://example.org/kg/nation/' || n_nationkey, 1
  FROM customer JOIN nation ON c_nationkey = n_nationkey)
SELECT subj, n_props FROM t
"""


_LSH_BITS, _LSH_BANDS, _LSH_MAX_BUCKET = 64, 4, 400


def emb_knn_lsh(spark, sf_dir):
    """ANN scale path: banded signed-random-projection LSH + exact
    re-rank (operators/simsearch.lsh_topk) at the 100-TB config —
    16-bit band signatures (65k buckets/band, candidate fraction
    ~bands/2^16 of the corpus per query, NOT ~1 as the old 2-bit-band
    config gave) plus a hot-bucket cap. Queries are PLANTED near
    duplicates built arithmetically from corpus vectors (query v+10^6
    = 0.95*vec[v] + 0.05*vec[v+1], cosine ~0.9986 to its base), the
    workload ANN serves in a training-data pipeline; the synthetic
    corpus's organic top-k neighbors sit at cosine ~0.3 —
    near-uniform data no LSH family can both prune and recall (see
    lsh_topk docstring + measurements in tests/test_simsearch.py).
    The oracle replicates planes, planted queries, band substrings
    and the bucket cap exactly."""
    from .operators.simsearch import lsh_topk

    # the sf embeddings table is ONE small parquet file = one input
    # split, which would serialize the CPU-heavy signature stage into a
    # single task; a production corpus ships in thousands of row-groups
    # and needs no repartition — this spread is test-data plumbing, not
    # part of the operator's plan
    e = load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism)
    # e feeds four consumers (corpus signatures, re-rank join, and both
    # sides of the planted-query construction) — cache so the scan +
    # spread run once (at 100 TB: persist(DISK_ONLY) at the same point)
    from .operators.cachereg import release_caches, scoped_cache
    release_caches()
    ed = scoped_cache(
        e.withColumn("embedding", F.col("embedding").cast("array<double>")))
    base = (ed.filter(F.col("vec_id") < 3)
            .select(F.col("vec_id").alias("qid"),
                    F.col("embedding").alias("va")))
    nxt = (ed.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 3))
           .select((F.col("vec_id") - 1).alias("qid"),
                   F.col("embedding").alias("vb")))
    q = (base.join(nxt, "qid")
         .select((F.col("qid") + 1000000).alias("query_id"),
                 F.zip_with("va", "vb",
                            lambda a, b: F.lit(0.95) * a + F.lit(0.05) * b)
                 .alias("embedding"))
         )
    q = scoped_cache(q)  # consumed twice: signature build + re-rank broadcast
    return lsh_topk(ed, q, k=10, bits=_LSH_BITS, bands=_LSH_BANDS,
                    max_bucket=_LSH_MAX_BUCKET)


def _oracle_emb_knn_lsh() -> str:
    """DuckDB replica of the planted-query lsh_topk call above: the
    md5-derived ±1 planes are inlined as ONE list-of-lists literal so
    list_transform + list_dot_product reproduce the exact bit string,
    bands are substrings of it, and the corpus-side bucket cap is a
    COUNT() OVER window — structurally the same plan."""
    from .operators.simsearch import _plane_coefs

    bits, bands, dims, k = _LSH_BITS, _LSH_BANDS, 64, 10
    rpb = bits // bands
    coefs = _plane_coefs(dims, bits, seed=42)
    planes = "[" + ",".join(
        "[" + ",".join(str(c) for c in row) + "]" for row in coefs) + "]"
    band_rows = "\n    UNION ALL ".join(
        f"SELECT vec_id, {i} AS band, substr(bs, {i * rpb + 1}, {rpb}) AS sig"
        " FROM sigs" for i in range(bands))
    qband_rows = "\n    UNION ALL ".join(
        f"SELECT query_id, {i} AS band, substr(bs, {i * rpb + 1}, {rpb})"
        " AS sig FROM qsigs" for i in range(bands))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (
  SELECT a.vec_id + 1000000 AS query_id,
         list_transform(range(1, 65),
                        i -> 0.95 * a.v[i] + 0.05 * b.v[i]) AS v
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id < 3),
sigs AS (
  SELECT vec_id,
         array_to_string(list_transform({planes},
             p -> CASE WHEN list_dot_product(v, p) >= 0
                  THEN '1' ELSE '0' END), '') AS bs
  FROM e),
qsigs AS (
  SELECT query_id,
         array_to_string(list_transform({planes},
             p -> CASE WHEN list_dot_product(v, p) >= 0
                  THEN '1' ELSE '0' END), '') AS bs
  FROM q),
bands0 AS (
    {band_rows}
),
bands AS (
  SELECT vec_id, band, sig FROM (
    SELECT vec_id, band, sig,
           COUNT(*) OVER (PARTITION BY band, sig) AS bsize
    FROM bands0)
  WHERE bsize <= {_LSH_MAX_BUCKET}),
qb AS (
    {qband_rows}
),
cand AS (SELECT DISTINCT b.vec_id, qb.query_id
         FROM bands b JOIN qb USING (band, sig)
         WHERE b.vec_id <> qb.query_id),
scored AS (
  SELECT c.query_id, c.vec_id,
         ROUND(list_dot_product(ev.v, qv.v)
               / (sqrt(list_dot_product(ev.v, ev.v))
                  * sqrt(list_dot_product(qv.v, qv.v))), 6) + 0.0 AS cosine
  FROM cand c
  JOIN e ev ON ev.vec_id = c.vec_id
  JOIN q qv ON qv.query_id = c.query_id)
SELECT query_id, vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored)
WHERE rn <= {k}
"""


ORACLE_EMB_KNN_LSH = _oracle_emb_knn_lsh()


def emb_knn_ivf(spark, sf_dir):
    """IVF-style ANN (operators/simsearch.ivf_topk): the `label`
    column is the coarse quantizer (cells), per-query the 3 nearest
    cell centroids are probed and only those cells exact-searched —
    the scan is bounded by n_probe/n_cells of the corpus. Centroids
    are rounded to 6 decimals so float AVG summation order cannot
    flip probe selection across engines."""
    from .operators.simsearch import ivf_topk

    e = load(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    return ivf_topk(e, q, k=10, n_probe=3, centroid_round=6)


ORACLE_EMB_KNN_IVF = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cent0 AS (
  SELECT label, i, ROUND(AVG(v[i]), 6) AS c
  FROM e, unnest(range(1, 65)) t(i)
  GROUP BY label, i),
cent AS (
  SELECT label, list(c ORDER BY i) AS cv FROM cent0 GROUP BY label),
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 3),
probes AS (
  SELECT query_id, label,
         list_dot_product(q.v, cv)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(cv, cv))) AS ccos
  FROM q CROSS JOIN cent),
probe_cells AS (
  SELECT query_id, label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY ccos DESC, label ASC) AS rn
    FROM probes)
  WHERE rn <= 3),
scored AS (
  SELECT p.query_id, e.vec_id,
         ROUND(list_dot_product(e.v, q.v)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.v, q.v))), 6) AS cosine
  FROM probe_cells p
  JOIN e ON e.label = p.label
  JOIN q ON q.query_id = p.query_id
  WHERE e.vec_id <> p.query_id)
SELECT query_id, vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored)
WHERE rn <= 10
"""


def doc_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup dedup (operators/dedup.
    cosine_neardup_pairs): banded SRP-LSH self-join generates candidate
    pairs, exact cosine verifies them at threshold 0.9. Like
    emb_knn_lsh, near-duplicates are PLANTED arithmetically (every 20th
    vector gets a clone at id+10^6 mixed 0.97/0.03 with its successor,
    cosine ~0.999) because the synthetic corpus's organic pairs top out
    near cosine ~0.45 — the planted set is the training-data dedup
    workload this operator exists for. The oracle replicates planes,
    band substrings, the hot-bucket star degrade, and the verify
    threshold exactly."""
    from .operators.dedup import cosine_neardup_pairs

    e = load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism)
    from .operators.cachereg import release_caches, scoped_cache
    release_caches()
    ed = scoped_cache(
        e.withColumn("embedding", F.col("embedding").cast("array<double>")))
    base = (ed.filter(F.col("vec_id") % 20 == 0)
            .select(F.col("vec_id").alias("bid"),
                    F.col("embedding").alias("va")))
    nxt = (ed.filter((F.col("vec_id") - 1) % 20 == 0)
           .select((F.col("vec_id") - 1).alias("bid"),
                   F.col("embedding").alias("vb")))
    planted = (base.join(nxt, "bid")
               .select((F.col("bid") + 1000000).alias("vec_id"),
                       F.zip_with("va", "vb",
                                  lambda a, b: F.lit(0.97) * a
                                  + F.lit(0.03) * b).alias("embedding")))
    corpus = ed.select("vec_id", "embedding").unionByName(planted)
    # release=False: this query already released the previous
    # pipeline's caches and registered `ed`, which the corpus input
    # consumes THREE times (both planted sides + the union) — the
    # operator's own release would unpersist it mid-pipeline
    pairs, _dropped = cosine_neardup_pairs(
        corpus, threshold=0.9, bits=_LSH_BITS, bands=_LSH_BANDS,
        max_bucket=_LSH_MAX_BUCKET, release=False)
    return pairs


def _oracle_doc_dedup_embedding() -> str:
    """DuckDB replica of doc_dedup_embedding: inlined ±1 planes, band
    substrings, hot-bucket star + drop, a<b candidate self-join,
    cosine >= 0.9 verify — structurally the same plan."""
    from .operators.simsearch import _plane_coefs

    bits, bands, dims = _LSH_BITS, _LSH_BANDS, 64
    rpb = bits // bands
    coefs = _plane_coefs(dims, bits, seed=42)
    planes = "[" + ",".join(
        "[" + ",".join(str(c) for c in row) + "]" for row in coefs) + "]"
    band_rows = "\n    UNION ALL ".join(
        f"SELECT vec_id, {i} AS band, substr(bs, {i * rpb + 1}, {rpb}) AS sig"
        " FROM sigs" for i in range(bands))
    return f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planted AS (
  SELECT a.vec_id + 1000000 AS vec_id,
         list_transform(range(1, 65),
                        i -> 0.97 * a.v[i] + 0.03 * b.v[i]) AS v
  FROM e0 a JOIN e0 b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 20 = 0),
e AS (SELECT vec_id, v FROM e0 UNION ALL SELECT vec_id, v FROM planted),
sigs AS (
  SELECT vec_id,
         array_to_string(list_transform({planes},
             p -> CASE WHEN list_dot_product(v, p) >= 0
                  THEN '1' ELSE '0' END), '') AS bs
  FROM e),
bands0 AS (
    {band_rows}
),
sized AS (
  SELECT vec_id, band, sig,
         COUNT(*) OVER (PARTITION BY band, sig) AS bsize,
         MIN(vec_id) OVER (PARTITION BY band, sig) AS bmin
  FROM bands0),
star AS (SELECT bmin AS id1, vec_id AS id2 FROM sized
         WHERE bsize > {_LSH_MAX_BUCKET} AND vec_id <> bmin),
cold AS (SELECT vec_id, band, sig FROM sized WHERE bsize <= {_LSH_MAX_BUCKET}),
cand AS (
  SELECT DISTINCT id1, id2 FROM (
    SELECT a.vec_id AS id1, b.vec_id AS id2
    FROM cold a JOIN cold b USING (band, sig)
    WHERE a.vec_id < b.vec_id
    UNION ALL SELECT id1, id2 FROM star)),
scored AS (
  SELECT c.id1, c.id2,
         ROUND(list_dot_product(va.v, vb.v)
               / (sqrt(list_dot_product(va.v, va.v))
                  * sqrt(list_dot_product(vb.v, vb.v))), 6) + 0.0 AS cosine
  FROM cand c
  JOIN e va ON va.vec_id = c.id1
  JOIN e vb ON vb.vec_id = c.id2)
SELECT id1, id2, cosine FROM scored WHERE cosine >= 0.9
"""


ORACLE_DOC_DEDUP_EMBEDDING = _oracle_doc_dedup_embedding()


_BPE_PAT = (r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+"
            r"| ?[^\s\p{L}\p{N}]+|\s+")


def doc_bpe_tokens(spark, sf_dir):
    """Token counting with a BPE-ish pretokenizer: the GPT-2 split
    regex minus its lookahead clauses (so Java regex and RE2 agree
    byte-for-byte — verified cross-engine on punctuation/contraction/
    digit shapes). Reports regex-token vs whitespace-token counts and
    chars-per-token per document — the budget arithmetic a training
    pipeline runs before packing."""
    d = load_docs_wide(spark, sf_dir)
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), 0)
    non_ws = F.filter(pieces, lambda p: F.trim(p) != "")
    # run the BPE regex ONCE behind a generator: n_bpe is referenced
    # twice and a plain alias re-runs regexp_extract_all per reference
    # (CollapseProject — see _shingles3)
    g = d.select("doc_id", F.length("text").alias("n_chars"),
                 F.explode(F.array(F.struct(
                     F.size(non_ws).alias("n_bpe"),
                     F.size(words(F.col("text"))).alias("n_ws")))).alias("c"))
    return g.select(
        "doc_id",
        F.col("c.n_bpe").alias("n_bpe"),
        F.col("c.n_ws").alias("n_ws"),
        F.round(F.col("n_chars")
                / F.greatest(F.col("c.n_bpe"), F.lit(1)), 4)
        .alias("chars_per_tok"))


_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")

ORACLE_DOC_BPE = rf"""
SELECT doc_id,
       len(list_filter(regexp_extract_all(text, '{_BPE_PAT_SQL}'),
                       p -> trim(p) <> '')) AS n_bpe,
       len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws,
       ROUND(CAST(length(text) AS DOUBLE)
             / GREATEST(len(list_filter(regexp_extract_all(text, '{_BPE_PAT_SQL}'),
                                        p -> trim(p) <> '')), 1), 4)
           AS chars_per_tok
FROM documents
"""


_LANG_PROFILES = [
    ("de", ["der", "die", "das", "und", "ist", "ein", "nicht"]),
    ("en", ["the", "a", "and", "of", "to", "is", "in"]),
    ("es", ["el", "la", "los", "de", "que", "y", "en"]),
    ("fr", ["le", "les", "et", "est", "un", "pas", "avec"]),
]


def doc_lang_id(spark, sf_dir):
    """Language-ID heuristic: function-word voting over whitespace
    tokens, argmax across per-language profiles with deterministic
    tie-break (profile order), 'und' when no profile matches — pure
    JVM column algebra, one pass, no shuffle before the projection.
    NOTE: the synthetic corpus text is English-vocabulary word salad
    under ALL lang labels, so predictions skew 'en'/'und' by design;
    the operator itself is corpus-independent."""
    # unlike doc_text_stats, dropping the spread, or it and the generator,
    # measured no faster here (sf0.1, 4 cores), so both stay
    d = load_docs_wide(spark, sf_dir)
    # tokenize ONCE behind a generator: the four profile scores each
    # reference the token array, and a plain alias would re-split the
    # text per profile (CollapseProject — see _shingles3)
    d = d.select("doc_id", "lang",
                 F.explode(F.array(words(F.lower(F.col("text")))))
                 .alias("toks"))
    toks = F.col("toks")
    def _score(vocab):
        # F.filter builds the expression eagerly, so the closure binds now
        return F.size(F.filter(toks, lambda x: x.isin(*vocab)))

    scored = F.array(*[
        F.struct(_score(vocab).alias("score"),
                 F.lit(len(_LANG_PROFILES) - i).alias("prio"),
                 F.lit(lang).alias("lang"))
        for i, (lang, vocab) in enumerate(_LANG_PROFILES)])
    best = F.array_max(scored)
    pred = F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
    return d.select("doc_id", pred.alias("pred_lang"),
                    best["score"].alias("evidence"),
                    (F.col("lang") == pred).cast("int").alias("agrees"))


def _oracle_doc_lang_id() -> str:
    rows = ", ".join(
        f"({len(_LANG_PROFILES) - i}, '{lang}', "
        + "[" + ",".join(f"'{w}'" for w in words) + "])"
        for i, (lang, words) in enumerate(_LANG_PROFILES))
    return f"""
WITH profiles(prio, lang, words) AS (VALUES {rows}),
toks AS (
  SELECT doc_id, lang AS true_lang,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents),
scored AS (
  SELECT doc_id, true_lang, p.prio, p.lang,
         len(list_filter(t, x -> list_contains(p.words, x))) AS score
  FROM toks CROSS JOIN profiles p),
best AS (
  SELECT doc_id, true_lang, lang, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score DESC, prio DESC) AS rn
    FROM scored)
  WHERE rn = 1)
SELECT doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang,
       score AS evidence,
       CAST(true_lang = CASE WHEN score > 0 THEN lang ELSE 'und' END
            AS INT) AS agrees
FROM best
"""


ORACLE_DOC_LANG_ID = _oracle_doc_lang_id()


def emb_kmeans_cells(spark, sf_dir):
    """IVF index BUILD: Lloyd's k-means coarse quantizer
    (operators/simsearch.kmeans_cells) — k=8 cells, 2 iterations,
    deterministic lowest-id seeding, centroids rounded to 6 decimals
    so assignment is cross-engine exact. Each iteration is one
    broadcast crossJoin against the k-row centroid table + one
    groupBy(cell) aggregation; the oracle unrolls both iterations as
    CTEs."""
    from .operators.simsearch import kmeans_cells

    e = load(spark, sf_dir, "embeddings")
    return kmeans_cells(e, k=8, iterations=2)


ORACLE_EMB_KMEANS = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
  FROM e ORDER BY vec_id LIMIT 8),
a1 AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c0.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(
               list_transform(range(1, 65), i -> e.v[i] - c0.c[i]),
               list_transform(range(1, 65), i -> e.v[i] - c0.c[i])) ASC,
             c0.cell ASC) AS rn
    FROM e CROSS JOIN cents0 c0)
  WHERE rn = 1),
c1 AS (
  SELECT cell, i, ROUND(AVG(v[i]), 6) AS c
  FROM a1, unnest(range(1, 65)) t(i)
  GROUP BY cell, i),
cents1 AS (SELECT cell, list(c ORDER BY i) AS c FROM c1 GROUP BY cell),
a2 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c1x.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(
               list_transform(range(1, 65), i -> e.v[i] - c1x.c[i]),
               list_transform(range(1, 65), i -> e.v[i] - c1x.c[i])) ASC,
             c1x.cell ASC) AS rn
    FROM e CROSS JOIN cents1 c1x)
  WHERE rn = 1)
SELECT vec_id, cell FROM a2
"""


def _as_turns(df: DataFrame, conv_id, turn_idx, text, role) -> DataFrame:
    """The transcript row shape (conv_id, turn_idx, role, text, tool,
    ts) the extractors read, built from ``df`` with no tool and no ts —
    shared by every query that derives turns from a base table."""
    return df.select(conv_id.alias("conv_id"),
                     turn_idx.cast("int").alias("turn_idx"),
                     role.alias("role"),
                     text.alias("text"),
                     F.lit(None).cast("string").alias("tool"),
                     F.lit(None).cast("timestamp").alias("ts"))


def _knows_doc(doc_id):
    """Embedded JSON-LD doc with ONE blank node: doc/<id> knows a node
    named K<id> — RDFC-1.0 labels that node c14n0."""
    return F.concat(
        F.lit('{"@context":{"@vocab":"https://example.org/vocab#"},'
              '"@id":"https://example.org/doc/'),
        doc_id, F.lit('","knows":{"name":"K'), doc_id, F.lit('"}}'))


def _docs_as_transcripts(spark, sf_dir):
    """documents -> transcript-shaped rows both engines can derive:
    conv 'doc-<id>', turn doc_id % 5, role by doc_id % 3, the document
    text as the turn text, no tool, no ts. Texts that would parse as
    embedded JSON-LD are excluded so every row takes the envelope path
    (the filter is replicated verbatim in the oracle)."""
    d = load_docs_wide(spark, sf_dir)
    lead = F.substring(F.ltrim(F.col("text")), 1, 1)
    role = F.element_at(F.array(F.lit("user"), F.lit("assistant"),
                                F.lit("tool")),
                        (F.col("doc_id") % 3 + 1).cast("int"))
    return _as_turns(d.filter(~lead.isin("{", "[")),
                     F.concat(F.lit("doc-"), F.col("doc_id")),
                     F.col("doc_id") % 5, F.col("text"), role)


def kg_extract_documents(spark, sf_dir):
    """The fused extractor over the sf-dir documents table, so DuckDB
    sees the same input: every turn takes the envelope path, whose
    five triples the oracle reconstructs with string concat (the
    ORACLE_KG_TORDF pattern). This is the hash-level driver gate for
    the hybrid's JVM envelope; the kernel's envelope is held to it by
    the parity tests of the two extractors."""
    from .operators.pipeline import extract_triples_hybrid, triples_only

    tx = _docs_as_transcripts(spark, sf_dir)
    return (triples_only(extract_triples_hybrid(tx))
            .select("conv_id", "turn_idx", "subj", "pred", "obj_kind",
                    "obj_value", "obj_datatype"))


ORACLE_KG_EXTRACT_DOCS = """
WITH tx AS (
  SELECT 'doc-' || doc_id AS conv_id,
         CAST(doc_id % 5 AS INT) AS turn_idx,
         ['user', 'assistant', 'tool'][CAST(doc_id % 3 AS INT) + 1] AS role,
         text
  FROM documents
  WHERE substr(ltrim(text), 1, 1) NOT IN ('{', '[')),
base AS (
  SELECT conv_id, turn_idx,
         'https://example.org/conv/' || conv_id || '/turn/' || turn_idx
             AS subj,
         role, text
  FROM tx)
SELECT conv_id, turn_idx, subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       'iri' AS obj_kind,
       'https://example.org/vocab#Turn' AS obj_value,
       CAST(NULL AS VARCHAR) AS obj_datatype
FROM base
UNION ALL
SELECT conv_id, turn_idx, subj, 'https://example.org/vocab#conversation',
       'iri', 'https://example.org/conv/' || conv_id, NULL
FROM base
UNION ALL
SELECT conv_id, turn_idx, subj, 'https://example.org/vocab#turnIndex',
       'literal', CAST(turn_idx AS VARCHAR),
       'http://www.w3.org/2001/XMLSchema#integer'
FROM base
UNION ALL
SELECT conv_id, turn_idx, subj, 'https://example.org/vocab#role',
       'literal', role, 'http://www.w3.org/2001/XMLSchema#string'
FROM base
UNION ALL
SELECT conv_id, turn_idx, subj, 'https://example.org/vocab#text',
       'literal', text, 'http://www.w3.org/2001/XMLSchema#string'
FROM base
"""


def kg_canonize_documents(spark, sf_dir):
    """Canonicalized extraction with a full hash-level oracle: each
    document becomes an embedded JSON-LD doc with ONE blank node, so
    RDFC-1.0 must label it c14n0 and the pipeline's salted relabel
    (_:c14n-<sha256(conv)>-<turn>-0) is reconstructable in SQL via
    DuckDB's sha256. Exercises the whole canonize path end-to-end
    (URDNA2015 kernel -> per-turn salt -> relabel); multi-bnode label
    ASSIGNMENT correctness is covered by the N-degree known-answer
    vectors (symmetry-provable + hand-derived from the spec text) in
    tests/vectors/ + tests/test_canon_vectors.py, plus the
    invariance/first-degree re-derivation suites."""
    from .operators.pipeline import extract_triples_hybrid, triples_only

    # spread the single-split scan before the per-document canonize
    # kernel (test-data plumbing, see _spread)
    tx = _as_turns(load_docs_wide(spark, sf_dir),
                   F.concat(F.lit("doc-"), F.col("doc_id")),
                   F.col("doc_id") % 5, _knows_doc(F.col("doc_id")),
                   F.lit("assistant"))
    return (triples_only(extract_triples_hybrid(tx, canonicalize=True))
            .select("conv_id", "turn_idx", "subj", "pred", "obj_kind",
                    "obj_value", "obj_datatype"))


ORACLE_KG_CANONIZE_DOCS = """
WITH base AS (
  SELECT 'doc-' || doc_id AS conv_id,
         CAST(doc_id % 5 AS INT) AS turn_idx,
         'https://example.org/doc/' || doc_id AS subj,
         '_:c14n-' || sha256('doc-' || doc_id) || '-'
             || CAST(doc_id % 5 AS INT) || '-0' AS blabel,
         'K' || doc_id AS kname
  FROM documents)
SELECT conv_id, turn_idx, blabel AS subj,
       'https://example.org/vocab#name' AS pred,
       'literal' AS obj_kind, kname AS obj_value,
       'http://www.w3.org/2001/XMLSchema#string' AS obj_datatype
FROM base
UNION ALL
SELECT conv_id, turn_idx, subj, 'https://example.org/vocab#knows',
       'bnode', blabel, NULL
FROM base
"""


_K6_POISON_DOC = json.dumps(
    {"@context": {"p": "https://example.org/vocab#p"},
     "@graph": [{"@id": f"_:n{i}",
                 "p": [{"@id": f"_:n{j}"} for j in range(6) if j != i]}
                for i in range(6)]},
    separators=(",", ":"))


def kg_canonize_poison(spark, sf_dir):
    """The 100-TB canonization failure mode, gated at the driver: one
    adversarial document — a K6 blank-node clique whose identical
    first-degree hashes force factorial N-degree exploration
    (tests/vectors/poison_clique6*, reference: rdf-canonize's
    maxWorkFactor) — must be REJECTED per the default work factor
    (maxWorkFactor=3 -> max_deep=n^3) as a per-document 'canonization
    work factor exceeded' WARNING, while every clean document in the
    same corpus canonizes normally. No executor stalls, no job
    failure: the poison degrades to (0 triples, 1 warning) and the
    row-count oracle pins both sides exactly."""
    from .operators.pipeline import extract_triples_hybrid

    is_poison = F.col("doc_id") % 41 == 0
    text = (F.when(is_poison, F.lit(_K6_POISON_DOC))
            .otherwise(_knows_doc(F.col("doc_id"))))
    # spread before the canonize kernel (test-data plumbing, _spread)
    tx = _as_turns(load_docs_wide(spark, sf_dir),
                   F.concat(F.lit("pz-"), F.col("doc_id")), F.lit(0), text,
                   F.lit("assistant"))
    ex = extract_triples_hybrid(tx, canonicalize=True)
    poison_warning = ((F.col("kind") == "warning")
                      & (F.col("obj_value")
                         == "canonicalization work factor exceeded"))
    return (ex.groupBy("conv_id")
            .agg(F.sum(F.when(F.col("kind") == "triple", 1).otherwise(0))
                 .alias("n_triples"),
                 F.sum(F.when(poison_warning, 1).otherwise(0))
                 .alias("n_poison")))


ORACLE_KG_CANONIZE_POISON = """
SELECT 'pz-' || doc_id AS conv_id,
       CAST(CASE WHEN doc_id % 41 = 0 THEN 0 ELSE 2 END AS BIGINT)
           AS n_triples,
       CAST(CASE WHEN doc_id % 41 = 0 THEN 1 ELSE 0 END AS BIGINT)
           AS n_poison
FROM documents
"""


def kg_extract_poison_depth(spark, sf_dir):
    """The depth sibling of kg_canonize_poison: one pathologically
    NESTED document (depth 50,000 — beyond any configured Python
    recursion limit, so the regime is pinned: json.loads rejects it)
    per 53 docs. The engine must degrade it per-document — the
    structurally-unparseable text falls back to the ENVELOPE doc
    (same contract as invalid JSON, 5 envelope triples) — while every
    clean document extracts its 2 embedded-doc triples. No executor
    crash, no task retry storm: the failure mode that kills a 100-TB
    job after 4 retries. Row-count oracle pins both sides."""
    from .operators.pipeline import extract_triples_hybrid

    deep_text = F.concat(
        F.lit('{"@context":{"n":"https://example.org/vocab#n"},'),
        F.repeat(F.lit('"n":{'), 50000),
        F.lit('"@id":"https://example.org/deep"'),
        F.repeat(F.lit('}'), 50000), F.lit('}'))
    is_poison = F.col("doc_id") % 53 == 0
    text = F.when(is_poison, deep_text).otherwise(_knows_doc(F.col("doc_id")))
    # spread BEFORE building the 250 KB deep_text strings so both the
    # string build and the kernel parallelize (test-data plumbing)
    tx = _as_turns(load_docs_wide(spark, sf_dir),
                   F.concat(F.lit("dp-"), F.col("doc_id")), F.lit(0), text,
                   F.lit("assistant"))
    ex = extract_triples_hybrid(tx)
    return (ex.groupBy("conv_id")
            .agg(F.sum(F.when(F.col("kind") == "triple", 1).otherwise(0))
                 .alias("n_triples")))


ORACLE_KG_POISON_DEPTH = """
SELECT 'dp-' || doc_id AS conv_id,
       CAST(CASE WHEN doc_id % 53 = 0 THEN 5 ELSE 2 END AS BIGINT)
           AS n_triples
FROM documents
"""


def kg_entity_link_documents(spark, sf_dir):
    """Salted-key entity linking (operators/entity_link.py) over the
    documents table with a full hash-level oracle: the deterministic
    entity dictionary (sha256-suffixed surfaces) and the tokenizer are
    both replicated in DuckDB SQL, so the driver checks the mention
    join itself — the north-star linking stage — value for value."""
    from .operators.entity_link import link_entities
    from .sources.entities import entities_df

    # NOT spread: the mention stage is cheap JVM tokenize/explode and
    # the extra exchange measured net-negative (A/B 1.08, r6)
    d = load(spark, sf_dir, "documents")
    tx = d.select(F.col("doc_id").cast("string").alias("conv_id"),
                  F.lit(0).cast("int").alias("turn_idx"),
                  "text")
    ents = entities_df(spark, 1000)
    return link_entities(tx, ents, strategy="salted", n_salt=8)


ORACLE_KG_ENTITY_LINK = """
WITH ents AS (
  SELECT 'https://example.org/ent/' || k AS entity_id,
         CASE WHEN k < 10 THEN
           ['spark','graph','partitions','executors','arrow',
            'batches','shuffles','keys','tools','turns'][CAST(k AS INT) + 1]
         ELSE 'entity_' || substr(sha256('ent42:' || k), 1, 8) END AS surface,
         ['topic','tool','person'][CAST(k % 3 AS INT) + 1] AS kind
  FROM range(1000) t(k)),
toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS conv_id, CAST(0 AS INT) AS turn_idx,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '[^a-z0-9_]+'),
             x -> x <> ''))) AS token
  FROM documents)
SELECT DISTINCT conv_id, turn_idx, entity_id, kind
FROM toks JOIN ents ON token = lower(surface)
"""


def kg_full_build(spark, sf_dir):
    """The complete north-star pipeline in one plan: synthesize
    transcripts -> fused extract with per-document RDFC-1.0
    canonicalization -> salted entity linking -> mention triples
    unioned into the graph. Rows-only driver check; each stage is
    independently oracle/parity-tested elsewhere."""
    from .operators.entity_link import link_entities, mention_triples
    from .operators.pipeline import extract_triples_hybrid, triples_only
    from .sources.entities import entities_df
    from .sources.transcripts import synthesize_transcripts

    tx = synthesize_transcripts(spark, 60, seed=42)
    doc_triples = (
        triples_only(extract_triples_hybrid(tx, canonicalize=True))
        .drop("conv_id", "turn_idx"))
    ents = entities_df(spark, 300)
    links = link_entities(tx, ents, strategy="salted", n_salt=8)
    mentions = mention_triples(links)
    return doc_triples.unionByName(mentions)


# =====================================================================
# Registry
# =====================================================================

def mm_decode_features(spark, sf_dir):
    """REAL media decoding end-to-end (SURVEY multimodal): synthesize
    genuine PNG/WAV payloads per doc_id (operators/multimodal.
    synthesize_media_payloads), run them through the stdlib decoders
    in ONE Arrow mapInPandas stage (extract_media_features), and
    return exact integer features. Every output value is pure
    arithmetic on doc_id, so the DuckDB oracle independently verifies
    that width/height/pixel sums and sample-rate/amplitude sums came
    out of actual PNG inflation + WAV PCM parsing."""
    from .operators.multimodal import (
        extract_media_features, synthesize_media_payloads)

    d = (load(spark, sf_dir, "documents").select("doc_id")
         .filter(F.col("doc_id") < 300))
    media = synthesize_media_payloads(d)
    return extract_media_features(media)


ORACLE_MM_DECODE = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 300)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       CASE WHEN doc_id % 2 = 0 THEN 8 + doc_id % 16 END AS width,
       CASE WHEN doc_id % 2 = 0 THEN 8 + (3 * doc_id) % 16 END AS height,
       CASE WHEN doc_id % 2 = 0 THEN 1 END AS channels,
       CASE WHEN doc_id % 2 = 1 THEN 8000 + (doc_id % 3) * 4000 END
           AS sample_rate,
       CASE WHEN doc_id % 2 = 1 THEN 64 + doc_id % 32 END AS n_samples,
       CASE WHEN doc_id % 2 = 0
            THEN (8 + doc_id % 16) * (8 + (3 * doc_id) % 16) * (doc_id % 256)
            ELSE (64 + doc_id % 32) * (1 + doc_id % 1000) END AS value_sum,
       CASE WHEN doc_id % 2 = 0
            THEN (8 + doc_id % 16) * (8 + (3 * doc_id) % 16)
            ELSE 64 + doc_id % 32 END AS n_values
FROM d
"""


QUERIES = {
    "q_agg_pricing_summary": (q_agg_pricing_summary, ORACLE_Q_AGG),
    "q_join_broadcast_region_sales": (q_join_broadcast_region_sales,
                                      ORACLE_Q_JOIN_BROADCAST),
    "q_window_top_order_per_cust": (q_window_top_order_per_cust, ORACLE_Q_WINDOW),
    "q_topk_orders": (q_topk_orders, ORACLE_Q_TOPK),
    "q_setop_union_dedup": (q_setop_union_dedup, ORACLE_Q_SETOP),
    "q_filter_pushdown_part": (q_filter_pushdown_part, ORACLE_Q_FILTER),
    "q_refcount_once": (q_refcount_once, ORACLE_Q_REFCOUNT),
    "q_antijoin_customers_without_orders": (q_antijoin_customers_without_orders,
                                            ORACLE_Q_ANTIJOIN),
    "q_skew_salted_join": (q_skew_salted_join, ORACLE_Q_SKEW),
    "q_events_sessionize": (q_events_sessionize, ORACLE_Q_SESSIONIZE),
    "q_events_windowed": (q_events_windowed, ORACLE_Q_WINDOWED),
    "kg_tordf_customers": (kg_tordf_customers, ORACLE_KG_TORDF),
    "kg_frame_customers": (kg_frame_customers, ORACLE_KG_FRAME),
    "kg_fromrdf_nodes": (kg_fromrdf_nodes, ORACLE_KG_FROMRDF),
    "kg_extract_transcripts": (kg_extract_transcripts, None),
    "kg_canonize_transcripts": (kg_canonize_transcripts, None),
    "kg_extract_documents": (kg_extract_documents, ORACLE_KG_EXTRACT_DOCS),
    "kg_canonize_documents": (kg_canonize_documents, ORACLE_KG_CANONIZE_DOCS),
    "kg_canonize_poison": (kg_canonize_poison, ORACLE_KG_CANONIZE_POISON),
    "kg_extract_poison_depth": (kg_extract_poison_depth, ORACLE_KG_POISON_DEPTH),
    "kg_entity_link_documents": (kg_entity_link_documents,
                                 ORACLE_KG_ENTITY_LINK),
    "kg_full_build": (kg_full_build, None),
    "doc_dedup_exact": (doc_dedup_exact, ORACLE_DOC_DEDUP_EXACT),
    "doc_dedup_token_jaccard": (doc_dedup_token_jaccard, ORACLE_DOC_JACCARD),
    "doc_dedup_ngram_jaccard": (doc_dedup_ngram_jaccard,
                                ORACLE_DOC_NGRAM_JACCARD),
    "doc_dedup_minhash_lsh": (doc_dedup_minhash_lsh, ORACLE_DOC_MINHASH),
    "doc_dedup_minhash_capped": (doc_dedup_minhash_capped,
                                 ORACLE_DOC_MINHASH_CAPPED),
    "doc_dedup_ngram_minhash": (doc_dedup_ngram_minhash,
                                ORACLE_DOC_NGRAM_MINHASH),
    "doc_dedup_components": (doc_dedup_components, ORACLE_DOC_COMPONENTS),
    "doc_dedup_embedding": (doc_dedup_embedding, ORACLE_DOC_DEDUP_EMBEDDING),
    "doc_simhash": (doc_simhash, ORACLE_DOC_SIMHASH),
    "doc_text_stats": (doc_text_stats, ORACLE_DOC_TEXT_STATS),
    "doc_lang_id": (doc_lang_id, ORACLE_DOC_LANG_ID),
    "doc_bpe_tokens": (doc_bpe_tokens, ORACLE_DOC_BPE),
    "doc_fingerprint": (doc_fingerprint, ORACLE_DOC_FINGERPRINT),
    "emb_pair_cosine": (emb_pair_cosine, ORACLE_EMB_PAIR),
    "emb_knn_brute": (emb_knn_brute, ORACLE_EMB_KNN),
    "emb_knn_lsh": (emb_knn_lsh, ORACLE_EMB_KNN_LSH),
    "emb_knn_ivf": (emb_knn_ivf, ORACLE_EMB_KNN_IVF),
    "emb_centroid_norm": (emb_centroid_norm, ORACLE_EMB_CENTROID),
    "emb_kmeans_cells": (emb_kmeans_cells, ORACLE_EMB_KMEANS),
    "mm_binary_meta": (mm_binary_meta, ORACLE_MM_META),
    "mm_decode_features": (mm_decode_features, ORACLE_MM_DECODE),
}
