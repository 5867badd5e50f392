"""Physical-plan assertions: the optimizations we claim must show up
in .explain() — pushed filters, pruned schemas, broadcast joins, and
no Python stages outside the kernel boundary."""

import pytest

from jsonld_js_spark.queries import (
    q_agg_pricing_summary,
    q_filter_pushdown_part,
    q_join_broadcast_region_sales,
    q_topk_orders,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(q_filter_pushdown_part(spark, SF))
    assert "PushedFilters: [" in plan
    assert "LessThanOrEqual(p_size,40)" in plan or "IsNotNull(p_size)" in plan
    # column pruning: only the 4 needed columns are read
    assert "ReadSchema" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_retailprice" not in read and "p_brand" not in read


def test_broadcast_join_selected(spark):
    plan = _plan(q_join_broadcast_region_sales(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle


def test_partial_aggregation_present(spark):
    """Catalyst partial+final hash agg (map-side combine)."""
    plan = _plan(q_agg_pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(spark):
    plan = _plan(q_topk_orders(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_dedup_verify_join_has_no_broadcast_hint(spark):
    """Round-3 fix: the LSH verify joins must not HINT a broadcast of
    the corpus-sized rep token table — the analyzed plan carries no
    broadcast hints at all; AQE may still choose broadcast at runtime
    for the post-semi-join (small) side, which is the point. The
    uncapped query builds no bucket-size window: its executed plan has
    no Window node."""
    from jsonld_js_spark.queries import (
        doc_dedup_embedding,
        doc_dedup_minhash_capped,
        doc_dedup_minhash_lsh,
    )

    for fn in (doc_dedup_minhash_lsh, doc_dedup_minhash_capped,
               doc_dedup_embedding):
        df = fn(spark, SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed and \
            "UnresolvedHint" not in analyzed, fn.__name__
        if fn is doc_dedup_minhash_lsh:
            assert "Window" not in _plan(df), fn.__name__


def test_lsh_topk_plan_is_jvm_side_equi_join(spark):
    """ANN scale path: candidate generation must be a hash equi-join
    on (band, sig) — no cartesian/nested-loop over the corpus — and
    the signature math must stay JVM-side (no Python eval stages)."""
    from jsonld_js_spark.queries import emb_knn_lsh

    plan = _plan(emb_knn_lsh(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only nested-loop join allowed is the broadcast of the tiny
    # query side in the re-rank; the bucket join itself is hash-based
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan or \
        "BroadcastHashJoin" in plan


def test_ivf_centroids_partial_agg_and_broadcast(spark):
    """IVF: centroid build is a partial+final hash aggregation and the
    tiny centroid table is broadcast to the probes."""
    from jsonld_js_spark.queries import emb_knn_ivf

    plan = _plan(emb_knn_ivf(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "Broadcast" in plan


def test_resumable_write_is_multi_task(spark, tmp_path):
    """Round-3 fix: per-group lineage writes land in multiple tasks
    (deterministic hash spread), not a repartition(1) funnel."""
    import os

    from jsonld_js_spark.plans.lineage import run_resumable
    from jsonld_js_spark.sources.transcripts import synthesize_transcripts

    tx = synthesize_transcripts(spark, 40, seed=7)
    out = str(tmp_path / "lin")
    run_resumable(tx, out, n_groups=2, files_per_group=4)
    for g in range(2):
        parts = [f for f in os.listdir(os.path.join(out, "data", f"part_group={g}"))
                 if f.startswith("part-")]
        assert len(parts) > 1, f"group {g} wrote a single task"


def test_embedding_dedup_plan_shape(spark):
    """doc_dedup_embedding (SRP-LSH self-join): candidate generation
    must be a hash equi-join on (band, sig) with JVM-side signature
    math, no cartesian over the corpus, and no broadcast HINT of the
    corpus vector table in the verify join (semi-join reduction +
    unhinted join; AQE decides)."""
    from jsonld_js_spark.queries import doc_dedup_embedding

    df = doc_dedup_embedding(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed


def test_ngram_jaccard_stays_jvm_side(spark):
    """Shingle construction is pure column algebra — no Python eval
    stages before the block join."""
    from jsonld_js_spark.queries import doc_dedup_ngram_jaccard

    plan = _plan(doc_dedup_ngram_jaccard(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_text_analysis_queries_stay_jvm_side(spark):
    """lang-id and BPE token counting are pure column algebra — no
    Python eval stages anywhere in their plans."""
    from jsonld_js_spark.queries import doc_bpe_tokens, doc_lang_id

    for fn in (doc_lang_id, doc_bpe_tokens):
        plan = _plan(fn(spark, SF))
        assert "BatchEvalPython" not in plan and \
            "ArrowEvalPython" not in plan, fn.__name__


def test_word_splits_stay_in_codegen(spark):
    """Word splitting goes through functions.words / mention_tokens
    (array_remove over split), not a lambda F.filter: a higher-order
    function is CodegenFallback and shows up as `lambda` in the plan."""
    from jsonld_js_spark.queries import (
        doc_dedup_token_jaccard,
        doc_text_stats,
        kg_entity_link_documents,
    )

    for fn in (doc_dedup_token_jaccard, doc_text_stats,
               kg_entity_link_documents):
        assert "lambda" not in _plan(fn(spark, SF)), fn.__name__


def test_kmeans_assign_broadcasts_centroids(spark):
    """Each k-means assignment joins the corpus against the k-row
    centroid table via BROADCAST (never a shuffled join on the corpus)
    and stays JVM-side."""
    from jsonld_js_spark.queries import emb_kmeans_cells

    plan = _plan(emb_kmeans_cells(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_embedding_dedup_signature_stage_cached(spark):
    """Round-4 fix: the SRP-LSH signature table (`cold`) and the cast
    corpus (`e`) are cached, so the 64-dot-product signature DAG is
    computed ONCE — both sides of the candidate self-join and the
    verify semi-joins must read InMemoryTableScan, not recompute."""
    from jsonld_js_spark.queries import doc_dedup_embedding

    plan = _plan(doc_dedup_embedding(spark, SF))
    assert plan.count("InMemoryTableScan") >= 3, plan.count("InMemoryTableScan")


def test_kmeans_lineage_constant_across_iterations(spark):
    """Round-4 fix: each Lloyd iteration localCheckpoints the k-row
    centroid table, so plan depth is CONSTANT in the iteration count
    (the corpus DAG appears once, fed by a checkpointed RDD scan) —
    at iterations=6 the physical plan must not embed 6 nested copies
    of the assign+reaggregate chain."""
    from pyspark.sql import functions as F

    from jsonld_js_spark.operators.simsearch import kmeans_cells

    e = (spark.read.parquet(f"{SF}/embeddings.parquet")
         .select("vec_id", "embedding"))
    p2 = _plan(kmeans_cells(e, k=4, iterations=2))
    p6 = _plan(kmeans_cells(e, k=4, iterations=6))
    # the deep chain would multiply Exchange/HashAggregate node counts;
    # with per-iteration checkpoints both plans have identical shape
    for marker in ("Exchange", "HashAggregate", "Scan parquet"):
        assert p6.count(marker) == p2.count(marker), (
            marker, p2.count(marker), p6.count(marker))


def test_ngram_minhash_plan_shape(spark):
    """doc_dedup_ngram_minhash: shingles + minhash signatures are pure
    JVM column algebra (no Python stages), the bucket self-join is an
    equi-join (no cartesian), and the verify join carries no broadcast
    hint (semi-join reduction + AQE decides)."""
    from jsonld_js_spark.queries import doc_dedup_ngram_minhash

    df = doc_dedup_ngram_minhash(spark, SF)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed
