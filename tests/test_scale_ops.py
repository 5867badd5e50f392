"""Entity linking (broadcast == salted), resumable checkpoints
(kill-and-rerun byte-identity), incremental ingest (exactly-once)."""

import os

import pytest
from pyspark.sql import functions as F

from jsonld_js_spark.operators.entity_link import (
    link_entities,
    mention_triples,
)
from jsonld_js_spark.plans.lineage import (
    completed_groups,
    read_output,
    run_resumable,
)
from jsonld_js_spark.sources.entities import entities_df
from jsonld_js_spark.sources.transcripts import synthesize_transcripts
from jsonld_js_spark.streaming.incremental import (
    commit_ingest,
    incremental_batches,
)


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synthesize_transcripts(spark, 25, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def entities(spark):
    return entities_df(spark, 200).cache()


def test_entity_linking_finds_hot_surfaces(spark, transcripts, entities):
    links = link_entities(transcripts, entities).cache()
    assert links.count() > 0
    hot = links.groupBy("entity_id").count().orderBy(F.desc("count")).first()
    # 'spark'/'graph' style surfaces appear in most utterances
    assert hot["count"] > 50


def test_salted_join_equals_broadcast(spark, transcripts, entities):
    a = link_entities(transcripts, entities, strategy="broadcast")
    b = link_entities(transcripts, entities, strategy="salted", n_salt=8)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_mention_triples_schema(spark, transcripts, entities):
    links = link_entities(transcripts, entities)
    tri = mention_triples(links)
    assert tri.columns == ["graph", "subj", "pred", "obj_kind", "obj_value",
                           "obj_datatype", "obj_lang"]
    row = tri.first()
    assert row["pred"].endswith("#mentions")
    assert row["obj_value"].startswith("https://example.org/ent/")


def test_resume_after_kill_is_byte_identical(spark, transcripts, tmp_path):
    full = str(tmp_path / "full")
    resumed = str(tmp_path / "resumed")

    m_full = run_resumable(transcripts, full, n_groups=8)
    assert m_full["complete"]

    # "kill" after 3 groups, then rerun to completion
    m1 = run_resumable(transcripts, resumed, n_groups=8, max_groups=3)
    assert not m1["complete"] and len(m1["groups_this_run"]) == 3
    m2 = run_resumable(transcripts, resumed, n_groups=8)
    assert m2["complete"]
    # second run must not redo completed groups
    assert set(m1["groups_this_run"]).isdisjoint(m2["groups_this_run"])

    a = sorted(map(tuple, read_output(spark, full).drop("part_group").collect()))
    b = sorted(map(tuple, read_output(spark, resumed).drop("part_group").collect()))
    assert a == b
    assert m_full["n_triples"] == m2["n_triples"] > 0

    # lineage rows carry per-partition metrics + fingerprints
    rows = completed_groups(resumed)
    assert all({"n_turns", "n_triples", "n_warnings", "fingerprint"} <= set(r)
               for r in rows.values())
    full_rows = completed_groups(full)
    assert {g: r["fingerprint"] for g, r in rows.items()} == \
           {g: r["fingerprint"] for g, r in full_rows.items()}


def test_noop_rerun_when_complete(spark, transcripts, tmp_path):
    out = str(tmp_path / "once")
    run_resumable(transcripts, out, n_groups=4)
    m = run_resumable(transcripts, out, n_groups=4)
    assert m["groups_this_run"] == [] and m["complete"]


def test_incremental_ingest_exactly_once(spark, transcripts, tmp_path):
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(inp)
    t1 = transcripts.filter(F.col("conv_id") <= "conv-000009")
    t2 = transcripts.filter(F.col("conv_id") > "conv-000009")
    t1.toPandas().to_parquet(f"{inp}/batch1.parquet", coerce_timestamps="us")

    df1, new1 = incremental_batches(spark, inp, state)
    n1 = df1.count()
    assert n1 > 0 and len(new1) == 1
    commit_ingest(state, new1)

    # no new files -> nothing to do
    df_none, new_none = incremental_batches(spark, inp, state)
    assert df_none is None and new_none == []

    t2.toPandas().to_parquet(f"{inp}/batch2.parquet", coerce_timestamps="us")
    df2, new2 = incremental_batches(spark, inp, state)
    n2 = df2.count()
    assert len(new2) == 1 and n2 > 0
    commit_ingest(state, new2)

    # union of the two batches == one-shot extraction
    from jsonld_js_spark.operators.pipeline import extract_triples, triples_only
    total = triples_only(extract_triples(transcripts)).count()
    assert n1 + n2 == total


def test_structured_streaming_extract(spark, transcripts, tmp_path):
    inp = str(tmp_path / "stream_in")
    os.makedirs(inp)
    transcripts.limit(50).toPandas().to_parquet(f"{inp}/part1.parquet", coerce_timestamps="us")
    from jsonld_js_spark.streaming.incremental import stream_extract
    q = (stream_extract(spark, inp)
         .writeStream.format("memory").queryName("tri_stream")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not drain in time"
    got = spark.sql("SELECT count(*) AS n FROM tri_stream").collect()[0]["n"]
    assert got > 0


def test_stream_dedup_turns_exactly_once(spark, transcripts, tmp_path):
    """Native watermarked dedup on (conv_id, turn_idx): replayed turns
    are dropped across micro-batches (at-least-once -> exactly-once),
    the availableNow stream ends, and the contract holds: rows behind
    the 60-minute watermark are dropped and counted, NULL-ts turns pass
    through once per delivery."""
    import time

    from jsonld_js_spark.streaming.incremental import stream_dedup_turns
    from jsonld_js_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    small = transcripts.filter(F.col("conv_id").isin(
        "conv-000005", "conv-000006")).cache()
    n_unique = small.count()

    def renamed(prefix):
        return small.withColumn("conv_id", F.concat(F.lit(prefix),
                                                    "conv_id"))

    later = renamed("later-").withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 3 HOURS"))
    null_ts = small.withColumn("ts", F.lit(None).cast("timestamp"))
    # one file per micro-batch (maxFilesPerTrigger=1), in this order:
    # the data, its replay, new turns 3 h later, a replay now behind
    # the watermark, a backfill of new conversations at the original
    # ts (behind it too), and one NULL-ts replay delivered twice
    steps = [small, small, later, small, renamed("backfill-"),
             null_ts, null_ts]
    t0 = time.time() - len(steps)
    for i, df in enumerate(steps):
        path = os.path.join(in_dir, f"step{i}.parquet")
        df.toPandas().to_parquet(path, coerce_timestamps="us")
        os.utime(path, (t0 + i, t0 + i))

    stream = (spark.readStream.schema(TRANSCRIPT_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .parquet(in_dir))
    q = (stream_dedup_turns(stream)
         .writeStream.format("memory").queryName("dedup_stream")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not drain in time"

    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    assert "DeduplicateWithinWatermark" in plan
    assert "Python" not in plan and "Pandas" not in plan, plan

    got = spark.sql(
        "SELECT conv_id, turn_idx, ts FROM dedup_stream").collect()
    timed = [(r["conv_id"], r["turn_idx"]) for r in got
             if r["ts"] is not None]
    # the data and the later turns, each once; the replays and the
    # backfill are gone
    assert len(timed) == len(set(timed)) == 2 * n_unique
    assert {c for c, _ in timed} == {
        "conv-000005", "conv-000006",
        "later-conv-000005", "later-conv-000006"}
    # lateness is judged against the previous batch's watermark, so
    # the step-3 replay still meets its keys in state and is dropped as
    # a duplicate; the backfill is late, dropped and counted
    dropped = [p["stateOperators"][0]["numRowsDroppedByWatermark"]
               for p in q.recentProgress if p["numInputRows"]]
    assert dropped == [0, 0, 0, 0, n_unique, 0, 0]
    # NULL ts: not deduplicated, once per delivery
    untimed = [(r["conv_id"], r["turn_idx"]) for r in got
               if r["ts"] is None]
    assert len(untimed) == 2 * n_unique
    assert len(set(untimed)) == n_unique


def test_stream_windowed_mentions_watermark(spark, transcripts, entities,
                                            tmp_path):
    """Watermarked tumbling-window mention counts: in-window turns
    aggregate per (window, entity); with append output mode a window
    only EMITS once the 10-minute watermark passes its end — the
    late-data discipline the north rule's streaming ingest needs."""
    from datetime import timedelta

    from jsonld_js_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from jsonld_js_spark.streaming.incremental import stream_windowed_mentions

    in_dir = str(tmp_path / "wm_in")
    os.makedirs(in_dir)
    small = transcripts.filter(F.col("conv_id").isin(
        "conv-000001", "conv-000002", "conv-000003")).cache()
    assert small.count() > 0
    small.toPandas().to_parquet(f"{in_dir}/b1.parquet",
                                coerce_timestamps="us")

    stream = (spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(in_dir))
    out = stream_windowed_mentions(stream, entities)
    q = (out.writeStream.format("memory").queryName("wm_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not drain in time"
    emitted = {((r["window"]["start"], r["window"]["end"]), r["entity_id"]):
               r["mentions"] for r in spark.sql(
                   "SELECT window, entity_id, mentions FROM wm_stream"
               ).collect()}

    # batch-mode truth over the same rows (same tokenize+join+window
    # plan run in batch); append mode emits exactly the windows the
    # final watermark (max ts - 10 minutes) has passed
    truth = {((r["window"]["start"], r["window"]["end"]), r["entity_id"]):
             r["mentions"] for r in
             stream_windowed_mentions(small, entities).collect()}
    final_wm = small.agg(F.max("ts")).first()[0] - timedelta(minutes=10)
    closed = {k: v for k, v in truth.items() if k[0][1] <= final_wm}
    assert closed and len(closed) < len(truth)
    assert emitted == closed


def test_stream_extract_restart_exactly_once_parity(spark, transcripts,
                                                    tmp_path):
    """The real writeStream contract (VERDICT r3 #6): a file-source
    stream over a GROWING directory, parquet sink + checkpointLocation,
    restarted between arrivals. Exactly-once across restarts (files
    processed before a stop are not re-emitted after it) and full
    triple parity with the batch extractor over the final directory —
    per-(conv,turn) salted blank-node labels make the comparison
    exact, not just count-based."""
    inp = str(tmp_path / "grow_in")
    out = str(tmp_path / "grow_out")
    ckpt = str(tmp_path / "grow_ckpt")
    os.makedirs(inp)

    from jsonld_js_spark.operators.pipeline import (
        extract_triples, triples_only)
    from jsonld_js_spark.streaming.incremental import stream_extract

    convs = sorted(r["conv_id"] for r in
                   transcripts.select("conv_id").distinct().collect())
    slices = [convs[:8], convs[8:16], convs[16:]]

    def arrive(i):
        (transcripts.filter(F.col("conv_id").isin(slices[i]))
         .toPandas().to_parquet(f"{inp}/slice{i}.parquet",
                                coerce_timestamps="us"))

    def run_query():
        q = (stream_extract(spark, inp)
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180), "stream did not drain in time"

    arrive(0)
    run_query()
    n_after_first = spark.read.parquet(out).count()
    assert n_after_first > 0

    arrive(1)
    run_query()  # RESTART from checkpoint: slice0 must not re-emit
    arrive(2)
    run_query()

    streamed = spark.read.parquet(out)
    batch = triples_only(extract_triples(spark.read.parquet(inp)))
    cols = sorted(set(streamed.columns) & set(batch.columns))
    assert {"subj", "pred", "obj_value"} <= set(cols)
    def norm(df):
        return sorted(tuple("" if v is None else str(v) for v in r)
                      for r in df.select(*cols).collect())

    s_rows = norm(streamed)
    b_rows = norm(batch)
    assert len(s_rows) == len(b_rows), (len(s_rows), len(b_rows))
    assert s_rows == b_rows


def test_salted_path_engages_at_skew_extreme(spark):
    """r5 VERDICT #7: one alias covering far more than 10% of all
    mentions — the salted plan must actually spread that key (the
    dictionary side explodes n_salt ways; the hot surface's mentions
    land in multiple salt partitions) and still agree with the
    broadcast path row-for-row."""
    rows = [(f"c{i}", 0, "user", f"megahot uniq{i} filler{i % 7}",
             None, None) for i in range(400)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    ents = spark.createDataFrame(
        [("megahot", "ent:hot", "concept")]
        + [(f"filler{i}", f"ent:f{i}", "concept") for i in range(7)],
        "surface string, entity_id string, kind string")

    salted = link_entities(tx, ents, strategy="salted", n_salt=8)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    # the dictionary side is exploded over the salt array...
    assert "Generate explode" in plan, plan
    assert "salt" in plan
    # ...and NOT broadcast: the join must be a shuffle join on
    # (token, salt)
    assert "BroadcastHashJoin" not in plan, plan

    # the hot key is genuinely spread: its mentions hash to >1 salt
    from jsonld_js_spark.operators.entity_link import _mention_tokens
    n_salts = (_mention_tokens(tx)
               .filter(F.col("token") == "megahot")
               .select(F.pmod(F.xxhash64("conv_id", "turn_idx", "token"),
                              F.lit(8)).alias("salt"))
               .distinct().count())
    assert n_salts == 8

    # semantics unchanged vs the broadcast path
    bcast = link_entities(tx, ents, strategy="broadcast")
    assert sorted(map(tuple, salted.collect())) == \
        sorted(map(tuple, bcast.collect()))
    # and the hot alias really dominates: >10% of all linked mentions
    total = bcast.count()
    hot = bcast.filter(F.col("entity_id") == "ent:hot").count()
    assert hot == 400 and hot / total > 0.10
