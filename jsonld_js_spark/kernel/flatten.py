"""Flattening: expanded tree -> merged node map -> sorted node array.

W3C JSON-LD 1.1 API §6 (Flattening Algorithm). Parity:
/root/reference/lib/flatten.js:24-38 (createMergedNodeMap + sorted
top level, dropping pure subject references). In the Spark layer this
is a `groupBy(subj).agg(collect_list(...))` + `orderBy(subj)`; this
kernel is the per-document form used inside the fused Arrow stage.
"""

from __future__ import annotations

from .nodemap import (
    IdentifierIssuer,
    create_node_map,
    merge_node_maps,
)
from .types import is_subject_reference


def flatten(expanded, *, issuer: IdentifierIssuer | None = None) -> list:
    graphs = create_node_map(expanded, issuer=issuer or IdentifierIssuer("_:b"))
    default_graph = merge_node_maps(graphs)
    return [default_graph[s] for s in sorted(default_graph.keys())
            if not is_subject_reference(default_graph[s])]
