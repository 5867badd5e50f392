"""Column-level helper functions (all JVM-side pyspark.sql.functions
compositions — nothing here crosses into Python at runtime)."""

from .columns import (cents, hash60, mention_tokens, nquad_term,  # noqa: F401
                      tokens, words)
