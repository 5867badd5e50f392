"""Single-document JSON-LD processor facade.

The same public surface as jsonld.js's top-level API
(/root/reference/lib/jsonld.js: expand :265, compact :131, flatten
:358, frame :414, toRDF :679, fromRDF :625, canonize :564, merge
:770). These functions run one document at a time; the Spark
operators batch them over Arrow record batches.

``options`` keys (subset):
- base: base IRI
- expandContext: context applied before document contexts
- context_loader: dict url -> context document (driver-preloaded;
  executors never fetch)
- safe: bool — raise on warning-level events (canonize defaults True,
  matching lib/jsonld.js:572)
- produceGeneralizedRdf, rdfDirection, useRdfType, useNativeTypes
- maxWorkFactor: canonicalization work bound (default 3)
"""

from __future__ import annotations

import json
import numbers

from . import canon as _canon
from . import compact as _compact
from . import expand as _expand
from . import flatten as _flatten
from . import frame as _frame
from . import fromrdf as _fromrdf
from . import nquads as _nquads
from . import tordf as _tordf
from .context import initial_context, process_context
from .errors import JsonLdError
from .nodemap import (
    IdentifierIssuer,
    create_node_map as _nm_create,
    merge_node_map_graphs,
)


def _prepare(options: dict | None) -> dict:
    options = dict(options or {})
    # obsolete jsonld.js 5.x options fail loudly (lib/jsonld.js:1047-1058)
    for obsolete in ("compactionMap", "expansionMap"):
        if obsolete in options:
            raise JsonLdError(f'"{obsolete}" not supported.',
                              "jsonld.OptionsError")
    # canon.py takes None, 0 and inf as they are and any other value as
    # an exponent: anything else would fail in a worker, not here
    mwf = options.get("maxWorkFactor")
    if mwf is not None and (isinstance(mwf, bool)
                            or not isinstance(mwf, numbers.Real)
                            or not mwf >= 0):
        raise JsonLdError(
            f'"maxWorkFactor" must be a number >= 0, not {mwf!r}.',
            "jsonld.OptionsError")
    options.setdefault("processingMode", "json-ld-1.1")
    options.setdefault("events", [])
    # jsonld.expand defaults base to '' when unset (lib/jsonld.js:307)
    # — an empty base still dot-normalizes relative IRIs
    options.setdefault("base", "")
    return options


def _is_url(s) -> bool:
    return isinstance(s, str) and (s.startswith("http://")
                                   or s.startswith("https://"))


def _strip_proto(x):
    """util.clone (lib/util.js clone) copies plain objects with
    `rval[key] = clone(...)` — and assigning the "__proto__" key on a
    JS object sets the PROTOTYPE instead of an own property, so any
    "__proto__" member anywhere in an input document or context
    SILENTLY VANISHES during the reference's input clone (no pollution
    is observable either: key iteration sees own keys only).
    Replicated at the same boundary. Verified differentially."""
    if isinstance(x, dict):
        return {k: _strip_proto(v) for k, v in x.items()
                if k != "__proto__"}
    if isinstance(x, list):
        return [_strip_proto(v) for v in x]
    return x


def _parse_input(doc):
    if isinstance(doc, str):
        doc = json.loads(doc)
    return _strip_proto(doc)


def get(url: str, options: dict | None = None) -> dict:
    """jsonld.get parity (lib/jsonld.js:560-590): dereference ``url``
    through options['document_loader'] (kernel/loader.py builds one
    over in-memory fixtures) -> {contextUrl, documentUrl, document}."""
    from .loader import get_document

    return get_document(url, _prepare(options))


def expand(doc, options: dict | None = None) -> list:
    """Expand a document to its expanded form (array of node objects).

    A string ``doc`` that looks like an http(s) URL is dereferenced
    first (lib/jsonld.js:295-310): the resolved documentUrl becomes the
    default base and a Link-header context is processed before the
    document's own contexts. (Other strings are parsed as JSON text —
    the Spark pipeline's convention.)"""
    had_base = options is not None and "base" in options
    options = _prepare(options)
    remote_ctx = None
    if _is_url(doc):
        remote = get(doc, options)
        if not had_base:
            options["base"] = remote.get("documentUrl") or ""
        if remote.get("contextUrl"):
            remote_ctx = {"@context": remote["contextUrl"]}
        doc = remote["document"]
    doc = _parse_input(doc)
    active_ctx = initial_context(options)
    if options.get("expandContext") is not None:
        active_ctx = process_context(active_ctx, options["expandContext"], options)
    if remote_ctx is not None:
        active_ctx = process_context(active_ctx, remote_ctx, options)
    expanded = _expand.expand(active_ctx, doc, options)
    # @graph-only unwrap + array normalize (lib/jsonld.js:330-342)
    if isinstance(expanded, dict) and "@graph" in expanded and len(expanded) == 1:
        expanded = expanded["@graph"]
    if expanded is None:
        return []
    return expanded if isinstance(expanded, list) else [expanded]


def compact(doc, ctx, options: dict | None = None):
    """Compact a document under ``ctx``."""
    options = _prepare(options)
    ctx = _strip_proto(ctx)
    options.setdefault("compactArrays", True)
    if not options.get("compactToRelative", True):
        # lib/jsonld.js:164-166: drop the API base so IRIs stay
        # absolute (an explicit @base inside the context still applies)
        options.pop("base", None)
    expanded = doc if options.pop("skipExpansion", False) else expand(doc, options)
    active_ctx = initial_context(options)
    active_ctx = process_context(active_ctx, ctx, options)
    compacted = _compact.compact(active_ctx, expanded, options)
    # top-level cleanup (lib/jsonld.js:188-199)
    use_graph = options.get("graph", False)
    if options.get("compactArrays", True) and not use_graph \
            and isinstance(compacted, list):
        if len(compacted) == 1:
            compacted = compacted[0]
        elif len(compacted) == 0:
            compacted = {}
    elif use_graph and isinstance(compacted, dict):
        compacted = [compacted]
    if isinstance(compacted, list):
        graph_alias = _compact.compact_iri(active_ctx, "@graph", vocab=True)
        compacted = {graph_alias: compacted}
    # attach context (non-empty contexts only; lib/jsonld.js:203-245)
    ctx_value = ctx.get("@context", ctx) if isinstance(ctx, dict) else ctx
    ctx_list = ctx_value if isinstance(ctx_value, list) else [ctx_value]
    ctx_list = [c for c in ctx_list
                if not isinstance(c, dict) or len(c) > 0]
    if ctx_list and isinstance(compacted, dict):
        attach = ctx_list[0] if len(ctx_list) == 1 else ctx_list
        compacted = {"@context": attach, **compacted}
    return compacted


def flatten(doc, ctx=None, options: dict | None = None):
    """Flatten a document; optionally compact the result under ``ctx``."""
    options = _prepare(options)
    expanded = expand(doc, options)
    flattened = _flatten.flatten(expanded)
    if ctx is None:
        return flattened
    # compaction of flattened output forces the @graph wrapper
    # (lib/jsonld.js:388-391)
    return compact(flattened, ctx,
                   {**options, "skipExpansion": True, "graph": True})


def frame(doc, frame_doc, options: dict | None = None):
    """Frame a document (match + embed + defaults), then compact under
    the frame's context (parity lib/jsonld.js:414-495)."""
    from .context import expand_iri, initial_context, process_context

    had_base = options is not None and "base" in options
    options = _prepare(options)
    options.setdefault("embed", "@once")
    options.setdefault("omitGraph", True)
    options.setdefault("pruneBlankNodeIdentifiers", True)
    if _is_url(doc) and not had_base:
        options["base"] = doc  # lib/jsonld.js:421 (_setDefaults base)
    if _is_url(frame_doc):
        # frame by URL: a Link-header context is injected into the
        # frame's @context (lib/jsonld.js:432-449)
        remote = get(frame_doc, options)
        frame_doc = remote["document"]
        if remote.get("contextUrl"):
            ctx = frame_doc.get("@context")
            if not ctx:
                ctx = remote["contextUrl"]
            elif isinstance(ctx, list):
                ctx = ctx + [remote["contextUrl"]]
            else:
                ctx = [ctx, remote["contextUrl"]]
            frame_doc = {**frame_doc, "@context": ctx}
    frame_doc = _parse_input(frame_doc)
    frame_ctx = frame_doc.get("@context", {}) if isinstance(frame_doc, dict) else {}

    expanded = expand(doc, options)
    expanded_frame = expand(frame_doc, {**options, "_frame_expansion": True,
                                        "keepFreeFloatingNodes": True})

    # frame the default graph iff the frame mentions @graph (jsonld.js:476-479)
    active_ctx = process_context(initial_context(options), frame_ctx, options)
    frame_keys = [expand_iri(active_ctx, k, vocab=True)
                  for k in (frame_doc or {})]
    options["merged"] = "@graph" not in frame_keys

    framed = _frame.frame(expanded, expanded_frame, options)

    compacted = compact(framed, frame_ctx,
                        {**options, "skipExpansion": True, "framing": True,
                         "link": {},
                         "graph": not options.get("omitGraph", True)})
    compacted = _frame.cleanup_preserve(compacted, options)
    options["link"] = {}  # fresh visited map (lib/jsonld.js:491)
    compacted = _frame.cleanup_null(compacted, options)
    return compacted


def link(doc, ctx=None, options: dict | None = None):
    """Connect a document's nodes in memory: wildcard frame with
    ``@embed: @link`` (lib/jsonld.js:513-523)."""
    frame_doc: dict = {}
    if ctx:
        frame_doc["@context"] = ctx
    frame_doc["@embed"] = "@link"
    return frame(doc, frame_doc, options)


def process_context_api(active_ctx, local_ctx, options: dict | None = None) -> dict:
    """Public processContext (lib/jsonld.js:933-958): fold a local
    context into an active context; ``None`` returns the initial
    context."""
    options = _prepare(options)
    if active_ctx is None:
        active_ctx = initial_context(options)
    if local_ctx is None:
        return initial_context(options)
    if isinstance(local_ctx, dict) and "@context" in local_ctx:
        local_ctx = local_ctx["@context"]
    return process_context(active_ctx, local_ctx, options)


def get_context_value(ctx: dict, key, type_=None):
    """Public getContextValue (lib/context.js:1000-1043): the term
    entry (type_=None), the entry's value for ``type_``, or the
    context default for @language/@direction; None otherwise."""
    if key is None:
        return None
    m = (ctx.get("mappings") or {}).get(key)
    if m is not None:
        if type_ is None:
            return m
        if type_ == "@language" and m.get("_has_language"):
            return m.get("@language")
        if type_ == "@direction" and m.get("_has_direction"):
            return m.get("@direction")
        if type_ in m:
            return m[type_]
    if type_ in ("@language", "@direction") and type_ in ctx:
        return ctx[type_]
    return None


def to_rdf(doc, options: dict | None = None):
    """Document -> RDF dataset (list of quads); format='application/n-quads'
    returns the serialized string."""
    options = _prepare(options)
    expanded = doc if options.pop("skipExpansion", False) else expand(doc, options)
    issuer = options.get("issuer") or IdentifierIssuer("_:b")
    dataset = _tordf.to_rdf(expanded, {**options, "issuer": issuer})
    if options.get("format") == "application/n-quads":
        return _nquads.serialize(dataset)
    return dataset


def from_rdf(dataset, options: dict | None = None) -> list:
    """RDF dataset (quads list or N-Quads string) -> expanded JSON-LD."""
    options = _prepare(options)
    if isinstance(dataset, str):
        dataset = _nquads.parse(dataset)
    return _fromrdf.from_rdf(
        dataset,
        use_rdf_type=options.get("useRdfType", False),
        use_native_types=options.get("useNativeTypes", False),
        rdf_direction=options.get("rdfDirection"),
        options=options,
    )


def create_node_map(doc, options: dict | None = None) -> dict:
    """Merged node map for a document (parity lib/jsonld.js:730-746):
    expand -> createNodeMap over all graphs -> property-merged subject
    map."""
    options = _prepare(options)
    expanded = expand(doc, options)
    graphs = create_node_map_graphs(expanded)
    return merge_node_map_graphs(graphs)


def create_node_map_graphs(expanded) -> dict:
    """Raw per-graph node map (graph -> subject -> node)."""
    return _nm_create(expanded, issuer=IdentifierIssuer("_:b"))


def canonize(doc, options: dict | None = None) -> str:
    """Document (or dataset) -> canonical N-Quads (RDFC-1.0).

    safe defaults to True here, matching lib/jsonld.js:572.
    """
    options = _prepare(options)
    options.setdefault("safe", True)
    if options.get("inputFormat") == "application/n-quads":
        dataset = _nquads.parse(doc)
    elif isinstance(doc, list) and doc and isinstance(doc[0], dict) \
            and "subject" in doc[0]:
        dataset = doc
    else:
        dataset = to_rdf(doc, {**options, "format": None})
    return _canon.canonize(
        dataset, max_work_factor=options.get("maxWorkFactor", 3),
        message_digest_algorithm=options.get("messageDigestAlgorithm",
                                             "sha256"))


def _relabel_blank_nodes(element, issuer: IdentifierIssuer):
    """util.relabelBlankNodes parity (lib/util.js:431-455):
    - @list objects recurse into @list ONLY (no blank check)
    - isBlankNode uses the JS rule: an @id that is NOT a string (null,
      number) counts as blank, and @id-LESS node objects get an @id
      ASSIGNED (issuer.getId(undefined) -> fresh unrecorded label) —
      this is why a null-@id graph node survives the MERGE path
      (relabel runs before the node map) while flatten/toRDF skip it
      (r5 merge-battery find)
    - keys recurse in SORTED order (issuance sequence parity)"""
    if isinstance(element, list):
        return [_relabel_blank_nodes(e, issuer) for e in element]
    if isinstance(element, dict):
        if "@list" in element:
            out = dict(element)
            out["@list"] = _relabel_blank_nodes(element["@list"], issuer)
            return out
        out = dict(element)
        if ("@id" in element and (not isinstance(element["@id"], str)
                                  or element["@id"].startswith("_:"))) or \
           ("@id" not in element
                and not ("@value" in element or "@set" in element)):
            old = element.get("@id")
            # JS getId: falsy `old` issues fresh WITHOUT recording
            out["@id"] = issuer.get_id(old if old else None)
        for k in sorted(element.keys()):
            if k != "@id":
                out[k] = _relabel_blank_nodes(element[k], issuer)
        return out
    return element


def merge(docs: list, ctx=None, options: dict | None = None,
          *, merge_nodes: bool = True):
    """Merge multiple documents: per-doc bnode relabel (`_:b{i}-`) ->
    shared node map with a fresh global issuer -> flattened output
    (parity lib/jsonld.js:770-857)."""
    from .nodemap import merge_node_maps
    from .types import is_subject_reference

    options = _prepare(options)
    if "mergeNodes" in options:  # option form wins (lib/jsonld.js:796-798)
        merge_nodes = bool(options["mergeNodes"])
    issuer = options.get("issuer") or IdentifierIssuer("_:b")
    graphs: dict = {"@default": {}}
    for i, doc in enumerate(docs):
        expanded = expand(doc, options)
        relabeled = _relabel_blank_nodes(expanded, IdentifierIssuer(f"_:b{i}-"))
        if merge_nodes or i == 0:
            target_graphs = graphs
        else:
            target_graphs = {"@default": {}}
        from .nodemap import _create_node_map
        _create_node_map(relabeled, target_graphs, "@default", issuer, None, None)
        if target_graphs is not graphs:
            for graph_name, node_map in target_graphs.items():
                if graph_name not in graphs:
                    graphs[graph_name] = node_map
                    continue
                for key, node in node_map.items():
                    graphs[graph_name].setdefault(key, node)
    default_graph = merge_node_maps(graphs)
    flattened = [default_graph[k] for k in sorted(default_graph.keys())
                 if not is_subject_reference(default_graph[k])]
    if ctx is None:
        return flattened
    return compact(flattened, ctx,
                   {**options, "skipExpansion": True, "graph": True})


class JsonLdProcessor:
    """Object-style facade mirroring jsonld.js's JsonLdProcessor."""

    def __init__(self, options: dict | None = None):
        self.options = dict(options or {})

    def _opts(self, options):
        return {**self.options, **(options or {})}

    def expand(self, doc, options=None):
        return expand(doc, self._opts(options))

    def compact(self, doc, ctx, options=None):
        return compact(doc, ctx, self._opts(options))

    def flatten(self, doc, ctx=None, options=None):
        return flatten(doc, ctx, self._opts(options))

    def frame(self, doc, frame_doc, options=None):
        return frame(doc, frame_doc, self._opts(options))

    def to_rdf(self, doc, options=None):
        return to_rdf(doc, self._opts(options))

    def from_rdf(self, dataset, options=None):
        return from_rdf(dataset, self._opts(options))

    def canonize(self, doc, options=None):
        return canonize(doc, self._opts(options))

    def merge(self, docs, ctx=None, options=None):
        return merge(docs, ctx, self._opts(options))

    def link(self, doc, ctx=None, options=None):
        return link(doc, ctx, self._opts(options))

    def get(self, url, options=None):
        return get(url, self._opts(options))

    def process_context(self, active_ctx, local_ctx, options=None):
        return process_context_api(active_ctx, local_ctx, self._opts(options))

    @staticmethod
    def get_context_value(ctx, key, type_=None):
        return get_context_value(ctx, key, type_)
