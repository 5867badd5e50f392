"""Incremental ingest: new transcript files -> triples, exactly once.

The reference is batch-only (documents in, documents out); our engine
adds two incremental paths (SURVEY §2.11 streaming):

1. ``incremental_batches``: snapshot-based — each call processes only
   files not yet recorded in the ingest ledger (the Iceberg
   incremental-read pattern; locally a JSON ledger of seen files).
   This is the north-rule-preferred path: resumable, replayable,
   no always-on cluster.

2. ``stream_extract``: true Structured Streaming — readStream over a
   transcript directory -> the same hybrid extraction ->
   writeStream. For deployments that want continuous construction.
   The extraction stage is stateless per-turn, so it composes with
   any sink/trigger. The two stateful examples are both watermarked on
   the turn's ``ts``, so their state is bounded by event time and an
   ``availableNow`` trigger drains: windowed mention counts
   (``stream_windowed_mentions``) and replay dedup
   (``stream_dedup_turns``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import mention_tokens
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def _ledger_path(state_dir: str) -> str:
    return os.path.join(state_dir, "ingest_ledger.json")


def incremental_batches(spark: SparkSession, input_dir: str, state_dir: str,
                        *, canonicalize: bool = False) -> tuple[DataFrame | None, list[str]]:
    """Extract (``extract_triples_hybrid``) the transcript parquet files
    not yet in the ledger.

    Returns (triples_df_for_new_files | None, newly_seen_files). The
    caller writes the triples and then calls ``commit_ingest`` —
    write-then-commit, same protocol as plans.lineage.
    """
    os.makedirs(state_dir, exist_ok=True)
    seen: set[str] = set()
    if os.path.exists(_ledger_path(state_dir)):
        with open(_ledger_path(state_dir)) as f:
            seen = set(json.load(f))
    files = sorted(
        os.path.join(input_dir, f) for f in os.listdir(input_dir)
        if f.endswith(".parquet"))
    new = [f for f in files if f not in seen]
    if not new:
        return None, []
    from ..operators.pipeline import extract_triples_hybrid, triples_only
    df = spark.read.parquet(*new)
    extracted = extract_triples_hybrid(df, canonicalize=canonicalize)
    return triples_only(extracted), new


def commit_ingest(state_dir: str, new_files: list[str]) -> None:
    seen: set[str] = set()
    if os.path.exists(_ledger_path(state_dir)):
        with open(_ledger_path(state_dir)) as f:
            seen = set(json.load(f))
    seen.update(new_files)
    tmp = _ledger_path(state_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(sorted(seen), f)
    os.replace(tmp, _ledger_path(state_dir))


def stream_extract(spark: SparkSession, input_dir: str, *,
                   canonicalize: bool = False) -> DataFrame:
    """readStream over a transcript directory -> streaming triples DF.

    Caller attaches writeStream (parquet/console/memory sink). The
    extractor is ``extract_triples_hybrid``: its route and its one
    Arrow UDF are stateless per turn, so it runs unchanged under the
    micro-batch engine.
    """
    from ..operators.pipeline import extract_triples_hybrid, triples_only

    stream = (spark.readStream.schema(TRANSCRIPT_SCHEMA)
              .parquet(input_dir))
    return triples_only(
        extract_triples_hybrid(stream, canonicalize=canonicalize))


def stream_windowed_mentions(transcripts_stream: DataFrame,
                             entities: DataFrame, *,
                             window: str = "5 minutes",
                             watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window mention counts per entity — the
    stateful-aggregation example: turns later than ``watermark``
    behind the max observed event time are dropped, and in append
    mode a window emits once the watermark passes its end.

    The whole lineage stays on ONE watermarked projection (tokenize →
    broadcast entity join → window agg): re-joining back to the raw
    stream would sever the watermark from the aggregation's event-time
    column and Spark rejects the plan."""
    wm = transcripts_stream.withWatermark("ts", watermark)
    toks = wm.select(
        "conv_id", "turn_idx", "ts",
        F.explode(mention_tokens(F.col("text"))).alias("token"))
    ents = entities.select(F.lower(F.col("surface")).alias("token"),
                           "entity_id", "kind")
    return (toks.join(F.broadcast(ents), "token")
            .groupBy(F.window("ts", window), "entity_id")
            .agg(F.count(F.lit(1)).alias("mentions")))


def stream_dedup_turns(transcripts_stream: DataFrame, *,
                       watermark: str = "60 minutes") -> DataFrame:
    """Exactly-once turns across micro-batches: Spark's native
    ``dropDuplicatesWithinWatermark`` on ``(conv_id, turn_idx)`` under
    an event-time watermark on ``ts``. Replayed turns (at-least-once
    sources re-deliver on recovery) are dropped before the expensive
    extraction stage, with no Python stage.

    State is bounded by event time: a key is kept until the watermark
    (``watermark`` behind the max ``ts`` seen) passes its ``ts``. The
    contract that follows:

    - a new turn whose ``ts`` is behind the watermark is dropped and
      counted in the batch's
      ``progress["stateOperators"][0]["numRowsDroppedByWatermark"]``;
    - a replay is dropped either way: as a duplicate while its key is
      in state, as late once it has been evicted;
    - a turn with a NULL ``ts`` is not deduplicated: it passes through
      once per delivery (at-least-once).
    """
    return (transcripts_stream.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"]))
