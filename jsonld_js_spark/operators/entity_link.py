"""Entity linking as DataFrame joins with explicit skew handling
(north_star: "salted-key entity linking ... broadcast join for the
entity dictionary, AQE skew join + key salting for hot conv_ids /
high-degree entities").

Two strategies, same semantics (tests assert equality):

- ``broadcast``: the dictionary is small (<= a few 100 MB) — broadcast
  hash join, zero shuffle of the mention stream. The default and the
  right plan at any corpus size while the dictionary fits.
- ``salted``: dictionary too big to broadcast -> shuffle join on the
  token. Token frequency is Zipfian (hot surfaces like 'spark' carry
  millions of mentions), so the join key is salted: big side gets
  pmod(xxhash64(row), N) and the small side is exploded N ways. AQE
  skew-join splitting stays on as the second line of defense.

The mention stream itself is pure column algebra (split/explode) —
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import mention_tokens

MENTIONS_PRED = "https://example.org/vocab#mentions"


def _mention_tokens(transcripts: DataFrame) -> DataFrame:
    toks = F.explode(mention_tokens(F.col("text"))).alias("token")
    return transcripts.select("conv_id", "turn_idx", toks)


def link_entities(transcripts: DataFrame, entities: DataFrame, *,
                  strategy: str = "broadcast", n_salt: int = 16) -> DataFrame:
    """-> (conv_id, turn_idx, entity_id, kind) distinct mentions."""
    mentions = _mention_tokens(transcripts)
    ents = entities.select(F.lower(F.col("surface")).alias("token"),
                           "entity_id", "kind")
    if strategy == "broadcast":
        joined = mentions.join(F.broadcast(ents), "token")
    elif strategy == "salted":
        big = mentions.withColumn(
            "salt", F.pmod(F.xxhash64("conv_id", "turn_idx", "token"),
                           F.lit(n_salt)))
        small = ents.withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
        joined = big.join(small, ["token", "salt"]).drop("salt")
    else:
        raise ValueError(f"unknown strategy: {strategy}")
    return (joined
            .select("conv_id", "turn_idx", "entity_id", "kind")
            .dropDuplicates(["conv_id", "turn_idx", "entity_id"]))


def mention_triples(links: DataFrame) -> DataFrame:
    """Mentions -> engine triples rows (turn IRI --mentions--> entity)."""
    subj = F.concat(F.lit("https://example.org/conv/"), F.col("conv_id"),
                    F.lit("/turn/"), F.col("turn_idx"))
    return links.select(
        F.lit("").alias("graph"),
        subj.alias("subj"),
        F.lit(MENTIONS_PRED).alias("pred"),
        F.lit("iri").alias("obj_kind"),
        F.col("entity_id").alias("obj_value"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"))

