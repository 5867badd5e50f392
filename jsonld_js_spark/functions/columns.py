"""Reusable column expressions.

Everything stays inside whole-stage codegen: these are expression
builders, not UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def words(col, pattern: str = " ") -> Column:
    """Non-empty pieces of ``col`` split on the regex ``pattern``, in
    order. ``array_remove`` drops the empty pieces without a lambda, so
    the split stays under whole-stage codegen (a ``F.filter`` is a
    higher-order function and falls back). DuckDB oracle twin:
    list_filter(string_split(...), x -> x <> '')."""
    return F.array_remove(F.split(col, pattern), "")


def tokens(col) -> Column:
    """Distinct whitespace tokens (engine-standard tokenization; the
    DuckDB oracle twin is list_distinct(list_filter(string_split(...))))."""
    return F.array_distinct(words(col))


def mention_tokens(text) -> Column:
    """Distinct lower-cased ``[a-z0-9_]+`` tokens of a text: the entity
    linker's mention tokenizer, shared by the batch and streaming
    linkers."""
    return F.array_distinct(words(F.lower(text), "[^a-z0-9_]+"))


def hash60(col) -> Column:
    """60-bit deterministic hash from the md5 hex prefix; DuckDB twin:
    cast(concat('0x', substr(md5(x),1,15)) as ubigint)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def cents(col) -> Column:
    """Money as exact integer cents (cross-engine-stable arithmetic)."""
    return F.round(col * 100).cast("long")


def nquad_term(col) -> Column:
    """IRI/bnode column -> N-Quads term text."""
    return F.when(col.startswith("_:"), col).otherwise(
        F.concat(F.lit("<"), col, F.lit(">")))
