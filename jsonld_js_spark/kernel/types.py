"""Structural predicates over JSON-LD node shapes.

Parity: /root/reference/lib/graphTypes.js:18-120 and lib/types.js.
These drive operator branching; in the Spark triples table they become
values of the ``obj_kind`` column.
"""

from __future__ import annotations


def is_scalar(v) -> bool:
    return isinstance(v, (str, int, float, bool))


def is_subject(v) -> bool:
    """Node object: a dict that is not a value/list/set and either has
    multiple members or an @id-less shape (graphTypes.js:18-29)."""
    if not isinstance(v, dict):
        return False
    if "@value" in v or "@set" in v or "@list" in v:
        return False
    return len(v) > 1 or "@id" not in v


def is_subject_reference(v) -> bool:
    return isinstance(v, dict) and len(v) == 1 and "@id" in v


def is_value(v) -> bool:
    return isinstance(v, dict) and "@value" in v


def is_list(v) -> bool:
    return isinstance(v, dict) and "@list" in v


def is_graph(v) -> bool:
    """@graph plus at most @id/@index/@context (graphTypes.js:75-87)."""
    if not isinstance(v, dict) or "@graph" not in v:
        return False
    return all(k in ("@graph", "@id", "@index", "@context") for k in v)


def is_simple_graph(v) -> bool:
    return is_graph(v) and "@id" not in v
