"""Checkpointed, resumable KG construction (north rule: "resumable
from checkpoint with per-partition lineage + metrics").

Layout under ``out_dir``:

- ``data/part_group=K/``   triples parquet for input partition group K
- ``manifest/K.json``      lineage row, written AFTER the group's data
                           commit (write-then-manifest = the commit
                           protocol; a crash between the two leaves a
                           re-doable group, never a half-counted one)

Partition groups are deterministic: ``pmod(xxhash64(conv_id), n_groups)``
— a conversation always lands in the same group, so a rerun reproduces
byte-identical content per group. ``run_resumable`` skips every group
whose manifest entry exists; killing the job mid-run and rerunning
yields exactly the output of an uninterrupted run (tested in
tests/test_lineage.py).

On a cluster this maps to Iceberg snapshot-append per group with the
manifest as an append-only table; locally it is plain parquet + JSON
files, same protocol. The reference has no equivalent (pure in-memory
function) — this is engine-native scale machinery (SURVEY §4 item 5).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _group_col(n_groups: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_groups))


def completed_groups(out_dir: str) -> dict[int, dict]:
    mdir = os.path.join(out_dir, "manifest")
    done = {}
    if os.path.isdir(mdir):
        for fname in os.listdir(mdir):
            if fname.endswith(".json"):
                with open(os.path.join(mdir, fname)) as f:
                    row = json.load(f)
                done[row["part_group"]] = row
    return done


def run_resumable(transcripts: DataFrame, out_dir: str, *,
                  n_groups: int = 16, canonicalize: bool = False,
                  max_groups: int | None = None,
                  files_per_group: int = 4) -> dict:
    """Extract triples group-by-group with checkpoint/resume, through
    ``extract_triples_hybrid``.

    ``max_groups`` processes at most that many pending groups (the
    test's stand-in for a mid-job kill). ``files_per_group`` sets the
    write parallelism per group: data lands in that many tasks via
    DETERMINISTIC hash partitioning on conv_id + a full-column sort,
    so a rerun reproduces byte-identical files (at 100 TB, size it to
    group_bytes / target_file_size; the old repartition(1) made each
    group a single multi-TB task). Returns run metrics.
    """
    from pyspark.sql import Observation

    from ..operators.pipeline import extract_triples_hybrid

    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    done = completed_groups(out_dir)
    tagged = transcripts.withColumn("part_group", _group_col(n_groups))

    # per-group input sizes in ONE pass over the corpus (amortized
    # across all groups, instead of a count per group)
    turn_counts = {r["part_group"]: r["n"]
                   for r in tagged.groupBy("part_group")
                   .agg(F.count(F.lit(1)).alias("n")).collect()}

    processed = []
    for g in range(n_groups):
        if g in done:
            continue
        if max_groups is not None and len(processed) >= max_groups:
            break
        part = tagged.filter(F.col("part_group") == g).drop("part_group")
        # ALL metrics ride the write job as observations — one pass per
        # group total, no cache, no separate count/fingerprint actions.
        # Per-row hash bounded to 2^31 so the fingerprint sum cannot
        # overflow int64 under ANSI mode even at 2^32 rows per group.
        obs_ext = Observation(f"lineage_ext_{g}")
        obs_tri = Observation(f"lineage_tri_{g}")
        extracted = extract_triples_hybrid(
            part, canonicalize=canonicalize).observe(
            obs_ext,
            F.sum(F.when(F.col("kind") == "warning", 1).otherwise(0))
            .alias("n_warnings"))
        triples = (extracted.filter(F.col("kind") == "triple").drop("kind")
                   .observe(
                       obs_tri,
                       F.count(F.lit(1)).alias("n_triples"),
                       F.sum(F.pmod(
                           F.xxhash64("conv_id", "turn_idx", "graph", "subj",
                                      "pred", "obj_kind", "obj_value"),
                           F.lit(2_147_483_647))).alias("fp")))
        data_path = os.path.join(out_dir, "data", f"part_group={g}")
        # multi-task write, still byte-deterministic: hash(conv_id) %
        # files_per_group is layout-independent, and the sort covers
        # EVERY column so tie rows cannot swap between runs
        (triples.repartition(files_per_group, F.col("conv_id"))
            .sortWithinPartitions(*triples.columns)
            .write.mode("overwrite").parquet(data_path))
        n_turns = int(turn_counts.get(g, 0))
        n_triples = int(obs_tri.get["n_triples"])
        n_warnings = int(obs_ext.get["n_warnings"] or 0)
        fp = int(obs_tri.get["fp"] or 0)
        # manifest written only after the data commit
        row = {"part_group": g, "n_turns": n_turns, "n_triples": n_triples,
               "n_warnings": n_warnings, "fingerprint": int(fp)}
        tmp = os.path.join(out_dir, "manifest", f".{g}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(row, f)
        os.replace(tmp, os.path.join(out_dir, "manifest", f"{g}.json"))
        processed.append(g)

    done = completed_groups(out_dir)
    return {
        "groups_total": n_groups,
        "groups_completed": len(done),
        "groups_this_run": processed,
        "n_triples": sum(r["n_triples"] for r in done.values()),
        "n_warnings": sum(r["n_warnings"] for r in done.values()),
        "complete": len(done) == n_groups,
    }


def read_output(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data"))
