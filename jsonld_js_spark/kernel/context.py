"""Active-context processing: the engine's schema-resolution layer.

Implements the JSON-LD 1.1 Context Processing / Create Term Definition /
IRI Expansion algorithms (W3C JSON-LD 1.1 API §4.1, §4.2, §5.1).
Parity target: /root/reference/lib/context.js:51-1197 (see SURVEY §2.2).

Spark usage: contexts are resolved and processed ONCE on the driver
(remote URLs pre-fetched into a plain dict — no executor I/O), the
resulting active-context dicts are broadcast, and executors only do
dictionary lookups (`expand_iri`) inside Arrow batches.
"""

from __future__ import annotations

import re as _re

from .constants import KEYWORDS, is_keyword, looks_like_keyword
from .errors import JsonLdError, syntax_error
from .events import emit
from .iri import is_absolute_iri, prepend_base



def initial_context(options: dict | None = None) -> dict:
    options = options or {}
    return {
        "mappings": {},
        "@base": options.get("base"),
        "original_base": options.get("base"),
        "@vocab": None,
        "@language": None,
        "@direction": None,
        "processingMode": options.get("processingMode", "json-ld-1.1"),
        "previousContext": None,
        "_protected": set(),
    }


def _clone_ctx(ctx: dict) -> dict:
    out = dict(ctx)
    out["mappings"] = dict(ctx["mappings"])
    out["_protected"] = set(ctx.get("_protected", ()))
    # memo fields must NOT survive the clone: a stale inherited
    # inverse context makes compaction miss terms added by scoped
    # contexts (found by direct probing — compact_iri(type)
    # materializes _inverse on the parent right before the type-scoped
    # context clones it), and a clone is a NEW instance in the
    # reference's processed-cache identity model (its content also
    # diverges: @direction nulling below), so it gets a fresh
    # never-repeating fingerprint
    out.pop("_inverse", None)
    out.pop("_atrie_candidates", None)
    out["_fp"] = _fresh_fp()
    # Reference quirk replicated: _cloneActiveContext copies @base,
    # @language and @vocab but NOT @direction — NOR processingMode
    # (lib/context.js:1418-1439): every clone (per-layer, pre-loop
    # propagate, null reset, previousContext recursion) ERASES the
    # processing mode; the layer body re-inherits it from the
    # pre-layer context (lib/context.js:190-192), but the pre-loop and
    # null-reset clones have nothing to restore from, so a 1.0 run
    # SILENTLY LOSES its mode — and every later 1.0 gate in the call
    # is disabled. Found by the grammar-10 mode-1.0 sweep; verified.
    # Likewise the default base direction is silently dropped whenever
    # any local context is processed, INCLUDING from the stored
    # previousContext (the clone recurses into it), so a later revert
    # restores a direction-stripped context (grammar-4 differential).
    out["@direction"] = None
    out["processingMode"] = None
    if out.get("previousContext"):
        out["previousContext"] = _clone_ctx(out["previousContext"])
    return out


def _rewrite_context_urls(ctx, base):
    """_resolveContextUrls (lib/ContextResolver.js:228-263): every
    STRING found in context position inside a fetched remote context —
    the @context value itself, array elements, and term definitions'
    scoped @context values, recursively — is resolved against the
    REMOTE document's base. Notably "" rewrites to the remote URL
    itself (an immediate context cycle)."""
    if isinstance(ctx, str):
        return prepend_base(base, ctx)
    if isinstance(ctx, list):
        return [_rewrite_context_urls(e, base) if isinstance(e, (str, list))
                else (_rewrite_term_ctx(e, base) if isinstance(e, dict)
                      else e)
                for e in ctx]
    if isinstance(ctx, dict):
        return _rewrite_term_ctx(ctx, base)
    return ctx


def _rewrite_term_ctx(obj: dict, base):
    """The object walk: each term value is treated as a wrapper whose
    own '@context' member (a scoped context) gets rewritten."""
    out = {}
    for k, v in obj.items():
        if isinstance(v, dict) and "@context" in v:
            v = {**v, "@context": _rewrite_context_urls(v["@context"], base)}
        out[k] = v
    return out


def _extract_remote_context(doc, url: str):
    """The reference's remote-context extraction, quirks intact
    (lib/ContextResolver.js:114-128,185-198 + resolve():35-37):
    - a non-object response -> 'invalid remote context'
    - a JSON object WITHOUT an @context key -> the EMPTY context
    - relative URL strings anywhere in context position are rewritten
      against the remote base BEFORE anything else — so "@context": ""
      becomes a self-URL and dies as a context cycle
    - a (post-rewrite) JS-FALSY @context value (null/0/false) is never
      unwrapped by resolve()'s truthy test, so the wrapper object
      reaches the layer loop and dies there as 'invalid local context'
      (verified: remote {"@context": null} errors while an INLINE null
      context resets)
    - anything truthy unwraps (arrays flatten; empty array = no layers)
    """
    if isinstance(doc, str):
        import json as _json

        try:
            doc = _json.loads(doc)
        except ValueError:
            raise syntax_error(
                f"Dereferencing a URL did not result in a valid JSON-LD "
                f"object: {url}", "loading remote context failed")
    if not isinstance(doc, dict):
        raise syntax_error(
            f"Dereferencing a URL did not result in a JSON object: {url}",
            "invalid remote context")
    if "@context" not in doc:
        return {}
    inner = _rewrite_context_urls(doc["@context"], url)
    if inner is None or inner is False or inner == 0:
        # resolve()'s truthy test never unwraps a falsy @context: the
        # WRAPPER object itself becomes the resolved layer. The layer
        # loop then unwraps it by-'in' and dies ('invalid local
        # context'), but the @import branch merges it as-is — its
        # "@context" key reaches the term loop as a keyword
        # redefinition. Both observed against the reference.
        return {"@context": inner}
    return inner


def _resolve_context_url(url: str, options: dict) -> object:
    """Look the context URL up in the driver-preloaded dict.

    The reference fetches over HTTP with an LRU cache
    (lib/ContextResolver.js); distributed executors must never do I/O,
    so we require a preloaded ``options['context_loader']`` mapping
    url -> parsed remote document (or -> {'@context': ...}).
    """
    loader = options.get("context_loader") or {}
    if url in loader:
        return _extract_remote_context(loader[url], url)
    if callable(options.get("document_loader")):
        # full loader path (Link headers, redirects — kernel/loader.py);
        # the reference validates the fetched body is a context object
        # and wraps ANY loader failure for a context URL as
        # 'loading remote context failed' (lib/ContextResolver.js
        # _fetchContext catch block)
        from .loader import get_document

        try:
            remote = get_document(url, options)
        except JsonLdError as err:
            raise JsonLdError(
                "Dereferencing a URL did not result in a valid JSON-LD "
                f"object. URL: \"{url}\".",
                "jsonld.InvalidUrl",
                code="loading remote context failed") from err
        return _extract_remote_context(remote.get("document"), url)
    raise JsonLdError(
        f"Dereferencing a URL did not result in a valid JSON-LD context: {url}",
        "jsonld.InvalidUrl",
        code="loading remote context failed",
    )


_LAYER_CACHE: dict = {}
_LAYER_CACHE_MAX = 2048
_FP_COUNTER = [0]


def _fresh_fp() -> str:
    """A fingerprint that never repeats — marks active contexts the
    reference would hold as brand-new INSTANCES (post-null resets,
    non-cacheable layers), so downstream layer lookups always miss,
    exactly like the reference's instance-keyed processed cache."""
    _FP_COUNTER[0] += 1
    return f"!{_FP_COUNTER[0]}"


_PEEK_SKIP = object()  # an entry that flattens to ZERO layers


def _peek_first_resolved(ctxs, options, base, _depth=0):
    """What ``resolved[0].document`` would be after the reference's
    upfront URL resolution + flattening (lib/ContextResolver.js): the
    reference reads ``@propagate`` off the FIRST resolved layer only
    (lib/context.js:94-98, guarded by _isObject). Entries resolve
    element-wise and SPREAD (``allResolved.push(...resolved)``,
    lib/ContextResolver.js:51-56), so an entry flattening to zero
    layers (remote ``@context: []``) contributes nothing and the
    propagate read falls through to the NEXT entry. This impl resolves
    URLs lazily inside the layer loop, so peek: follow URLs through
    the static ``context_loader`` table via the same extraction the
    real resolution uses (side-effect free — no events, no cycle
    counting; errors defer to the layer loop). A callable
    document_loader is NOT invoked here; the in-loop recursion
    extracts at layer 0 instead. Returns a dict or None (None == no
    override)."""
    entries = ctxs if isinstance(ctxs, list) else [ctxs]
    for entry in entries:
        layer = _peek_entry_first_layer(entry, options, base, _depth)
        if layer is _PEEK_SKIP:
            continue
        return layer if isinstance(layer, dict) else None
    return None


def _peek_entry_first_layer(entry, options, base, _depth):
    """First flattened layer of ONE context entry, or _PEEK_SKIP if
    the entry resolves to zero layers, or None if it can't be peeked
    statically (callable loader, nested-array error case — the layer
    loop raises the real error later)."""
    if _depth > 10:
        return None
    if isinstance(entry, str):
        loader = options.get("context_loader") or {}
        url = prepend_base(base, entry)
        doc = loader.get(url)
        if doc is None:
            return None
        try:
            # same extraction as _resolve_context_url: parses string
            # bodies, no-@context-key -> {} (so a spurious @propagate
            # in the remote BODY is never read), falsy @context stays
            # wrapped (dict layer, no boolean @propagate)
            doc = _extract_remote_context(doc, url)
        except JsonLdError:
            return None
        if isinstance(doc, list):
            for sub in doc:
                layer = _peek_entry_first_layer(sub, options, url,
                                                _depth + 1)
                if layer is _PEEK_SKIP:
                    continue
                return layer
            return _PEEK_SKIP
        if isinstance(doc, str):
            return _peek_entry_first_layer(doc, options, url, _depth + 1)
        return doc
    if isinstance(entry, list):
        # a nested array entry is !_isObject -> 'invalid local
        # context' in the reference before @propagate could matter
        return None
    return entry


def _resolve_import_layers(ctx, options, base=None, _depth=0,
                           _cycle=frozenset()):
    """Flatten an @import target the way ContextResolver.resolve does
    (lib/ContextResolver.js:32-82): arrays flatten element-wise,
    string URLs fetch recursively (with the remote URL-rewrite pass),
    null becomes a null layer, and a non-object layer dies as
    'invalid local context'. The @import resolve call gets its OWN
    cycle set (resolve() defaults cycles to a new Set)."""
    if isinstance(ctx, str):
        url = ctx if base is None else prepend_base(base, ctx)
        if len(_cycle) > 10:
            raise syntax_error("Maximum number of @context URLs exceeded.",
                               "context overflow", max=10)
        if url in _cycle:
            raise syntax_error(f"Cyclical @context URLs detected: {url}",
                               "context overflow")
        resolved = _resolve_context_url(url, options)
        return _resolve_import_layers(resolved, options, url,
                                      _depth + 1, _cycle | {url})
    if isinstance(ctx, list):
        out = []
        for e in ctx:
            out.extend(_resolve_import_layers(e, options, base,
                                              _depth + 1, _cycle))
        return out
    if ctx is not None and not isinstance(ctx, dict):
        raise syntax_error("@context must be an object.",
                           "invalid local context")
    return [ctx]


def _layer_cache_key(rval, ctx, options, override_protected):
    """Per-LAYER memo key, mirroring ResolvedContext.getProcessed
    (lib/ResolvedContext.js:23-28): one resolved context document
    (keyed by content, lib/ContextResolver.js:70-76) caches its
    processed result per parent active context. The parent 'instance'
    is proxied by the _fp chain; parents that the reference would
    never share (fresh clones) carry a never-repeating _fp."""
    import json

    if callable(options.get("document_loader")):
        # custom loader: responses aren't part of the key — don't cache
        return None
    try:
        local_key = json.dumps(ctx, sort_keys=True, default=None)
    except (TypeError, ValueError):
        return None
    fp = rval.get("_fp")
    if fp is None:
        # root contexts: value identity (the reference caches initial
        # contexts per options, so equal-valued roots ARE one instance)
        fp = ("init", rval.get("@base"), rval.get("original_base"),
              rval.get("processingMode"))
    loader = options.get("context_loader") or {}
    # override_protected, propagate and validate_scoped are deliberately
    # NOT in the key: the reference's processed cache keys by (resolved
    # doc, active-ctx instance) ONLY (lib/ResolvedContext.js:23-28), so
    # a property-scoped context processed with overrideProtected=true
    # POISONS the cache and a later inline processing of the same
    # content against the same parent skips the protected-redefinition
    # check entirely; likewise a layer processed under one
    # propagate/validateScoped flag cache-hits for any other flag
    # combination against the same parent instance (the propagate case
    # is reachable only when the parent already carries previousContext
    # — otherwise the reference's pre-loop clone makes a fresh instance
    # and the lookup misses anyway). Replicated bug-for-bug.
    return (fp, local_key, tuple(sorted(loader.keys())),
            options.get("processingMode"))


def process_context(active_ctx: dict, local_ctx, options: dict | None = None, *,
                    override_protected: bool = False, propagate: bool = True,
                    validate_scoped: bool = True, _remote_cycle: frozenset = frozenset(),
                    _remote_seen: set | None = None) -> dict:
    """Fold ``local_ctx`` into ``active_ctx``; returns a NEW context.

    Caching happens PER LAYER inside the impl (mirroring the
    reference's ResolvedContext processed-cache), including the
    reference's observable event-replay quirk: each cold call stores
    ONE shared captured-events list into every layer entry it fills,
    so a later warm walk replays the whole call's events once per
    cached layer (lib/context.js:69-83,135-145,445-448 — the shared
    `events` array accumulates across the layer loop and each
    setProcessed stores a reference to it)."""
    options = options or {}
    if _remote_seen is None:
        # per-resolve-op distinct remote URL counter — the reference's
        # shared `cycles` set (lib/ContextResolver.js:33,131-139)
        _remote_seen = set()
    return _process_context_impl(
        active_ctx, local_ctx, options,
        override_protected=override_protected, propagate=propagate,
        validate_scoped=validate_scoped, _remote_cycle=_remote_cycle,
        _remote_seen=_remote_seen)


def _process_context_impl(active_ctx: dict, local_ctx, options: dict | None = None, *,
                          override_protected: bool = False, propagate: bool = True,
                          validate_scoped: bool = True,
                          _remote_cycle: frozenset = frozenset(),
                          _remote_seen: set | None = None,
                          _extract_propagate: bool = True,
                          _layer_counter: list | None = None) -> dict:
    if _remote_seen is None:
        _remote_seen = set()
    options = options or {}
    if local_ctx is None:
        local_ctx = [None]
    if isinstance(local_ctx, dict) and "@context" in local_ctx:
        _inner = local_ctx["@context"]
        # processContext unwraps array values (lib/context.js:58-61);
        # resolve() unwraps any JS-TRUTHY value (:35-37). A falsy
        # non-array @context stays WRAPPED and the wrapper flows into
        # the layer loop (where the by-'in' unwrap rejects it).
        if isinstance(_inner, list) or not (
                _inner is None or _inner is False or _inner == 0
                or _inner == ""):
            local_ctx = _inner
    ctxs = local_ctx if isinstance(local_ctx, list) else [local_ctx]

    # lib/context.js:65-67: an empty inline context array returns the
    # active context untouched BEFORE resolution. But a NON-empty list
    # whose every element resolves to zero layers (remote @context:[]
    # chains) reaches the propagate extraction with resolved=[] and
    # the reference crashes reading resolved[0].document — replicated
    # via the per-call layer counter below.
    if not ctxs:
        return active_ctx
    counts_here = _layer_counter is None
    if counts_here:
        _layer_counter = [0]

    rval = active_ctx
    # `propagate` is overridden from the FIRST resolved layer ONLY
    # (lib/context.js:94-98) — later layers' @propagate is error-checked
    # in the body but NOT applied (verified differentially: a second
    # layer's @propagate:false leaves propagation ON). `_extract_propagate`
    # is False when a remote-layer recursion at index > 0 already knows
    # the answer from the outer call.
    if _extract_propagate:
        first = _peek_first_resolved(ctxs, options, rval.get("@base"))
        if first is not None and isinstance(first.get("@propagate"), bool):
            propagate = first["@propagate"]
    if not propagate and rval.get("previousContext") is None:
        # pre-loop clone (lib/context.js:106-110): a BRAND-NEW instance
        # (fresh _fp — first-layer cache lookups against it never hit,
        # exactly like the reference's instance-keyed processed cache),
        # holding the raw incoming context as previousContext; the
        # per-layer clone below recursively direction-strips it
        prev = rval
        rval = _clone_ctx(prev)
        rval["previousContext"] = prev
    # ONE shared captured-events list per call: every cold layer's cache
    # entry references this same list, so it accumulates across the
    # layer loop — the reference's observable behavior (its `events`
    # array at lib/context.js:70 is closed over by every setProcessed)
    captured: list = []
    for _layer_idx, ctx in enumerate(ctxs):
        if not isinstance(ctx, str):
            # a null/dict layer IS a resolved layer; string layers
            # count via the shared counter inside their recursion
            _layer_counter[0] += 1
        if ctx is None:
            # null → reset to initial (keep original base); non-propagating
            # contexts stash the previous context for revert.
            if not override_protected and rval.get("_protected"):
                raise syntax_error(
                    "Tried to nullify a context with protected terms outside of a term definition.",
                    "invalid context nullification")
            prev = rval
            rval = initial_context(options)
            # the reference clones the initial context here and the
            # clone ERASES processingMode — layers after a null reset
            # run mode-less, so 1.0 gates stop firing (verified)
            rval["processingMode"] = None
            rval["@base"] = prev.get("original_base")
            rval["original_base"] = prev.get("original_base")
            # Reference quirk: the null-reset DISCARDS any pending
            # previousContext even under propagate:false (the spec
            # would keep it) — lib/context.js:119-130 replaces the
            # cloned rval wholesale. Verified differentially.
            # the reference CLONES the initial context here — a brand-new
            # instance, so layers after a null reset never cache-hit
            rval["_fp"] = _fresh_fp()
            continue

        if isinstance(ctx, str):
            # cycle + count guards, lib/ContextResolver.js:18,131-160:
            # MAX_CONTEXT_URLS=10 per resolve op; the error code depends
            # on processing mode exactly as in the reference
            _mode10 = rval.get("processingMode") == "json-ld-1.0"
            url = prepend_base(rval.get("@base"), ctx)
            if len(_remote_seen) > 10:
                raise syntax_error(
                    "Maximum number of @context URLs exceeded.",
                    "loading remote context failed" if _mode10
                    else "context overflow", max=10)
            if url in _remote_cycle:
                raise syntax_error(
                    f"Cyclical @context URLs detected: {ctx}",
                    "recursive context inclusion" if _mode10
                    else "context overflow")
            _remote_seen.add(url)
            resolved = _resolve_context_url(url, options)
            # a remote FIRST layer is resolved[0] of the whole op, so
            # the sub-call may extract @propagate from its content
            # (covers callable loaders the peek above cannot touch);
            # remote layers at index > 0 must NOT extract — the
            # reference applies only resolved[0]'s @propagate
            rval = _process_context_impl(
                rval, resolved, options,
                override_protected=override_protected, propagate=propagate,
                validate_scoped=validate_scoped,
                _remote_cycle=_remote_cycle | {url},
                _remote_seen=_remote_seen,
                _extract_propagate=(_layer_idx == 0),
                _layer_counter=_layer_counter)
            continue

        if not isinstance(ctx, dict):
            raise syntax_error("@context must be an object.", "invalid local context")

        # per-layer processed cache (ResolvedContext.getProcessed):
        # a hit replays the ORIGINAL call's whole captured-events list
        # (which may include events of layers processed after this one
        # in that call — the reference's doubling quirk), then reuses
        # the processed context
        layer_key = None
        n_ev_layer = len(options.get("events") or [])
        if not _remote_cycle and options.get("cache_contexts", True):
            layer_key = _layer_cache_key(rval, ctx, options,
                                         override_protected)
            if layer_key is not None:
                hit = _LAYER_CACHE.get(layer_key)
                if hit is not None:
                    for ev in hit["events"]:
                        emit(options, ev["code"], ev["message"],
                             ev.get("level", "warning"),
                             **(ev.get("details") or {}))
                    rval = hit["context"]
                    continue

        # per-layer by-'in' unwrap (lib/context.js:148-150, AFTER the
        # cache check): a wrapper layer carrying a falsy @context —
        # the only kind that survives resolution wrapped — unwraps
        # here and dies as a non-object
        if "@context" in ctx:
            ctx = ctx["@context"]
            if not isinstance(ctx, dict):
                raise syntax_error("@context must be an object.",
                                   "invalid local context")

        # the reference's per-layer mode checks read the PRE-LAYER
        # active context's mode (its `activeCtx` loop variable); the
        # clone below erases rval's mode and the restore re-inherits
        # this value (lib/context.js:190-192)
        active_mode = rval.get("processingMode")
        rval = _clone_ctx(rval)
        # @import resolves against the base in force BEFORE this
        # layer's own @base applies (the branch order moved @import
        # after @base for defined-map parity; the URL base must not)
        import_base = rval.get("@base")

        if "@version" in ctx:
            v = ctx["@version"]
            if v != 1.1:
                raise syntax_error(f"Unsupported JSON-LD version: {v}", "invalid @version value")
            if active_mode == "json-ld-1.0":
                raise JsonLdError("@version not compatible with json-ld-1.0",
                                  "jsonld.UnsupportedVersion", code="processing mode conflict")
            rval["processingMode"] = "json-ld-1.1"
        if not rval.get("processingMode"):
            rval["processingMode"] = active_mode

        if "@propagate" in ctx:
            # error checking ONLY — the value was already extracted from
            # the first resolved layer pre-loop; later layers' values
            # are validated but never applied (lib/context.js:309-326)
            p = ctx["@propagate"]
            if active_mode == "json-ld-1.0":
                raise syntax_error(
                    "@propagate not compatible with json-ld-1.0",
                    "invalid context entry")
            if not isinstance(p, bool):
                raise syntax_error("@propagate must be boolean.", "invalid @propagate value")

        if "@base" in ctx:
            base = ctx["@base"]
            if base is None:
                rval["@base"] = None
            elif not isinstance(base, str):
                raise syntax_error("@base must be a string or null.", "invalid base IRI")
            elif is_absolute_iri(base):
                rval["@base"] = base
            else:
                rval["@base"] = prepend_base(rval.get("@base"), base)

        if "@vocab" in ctx:
            vocab = ctx["@vocab"]
            if vocab is None:
                rval["@vocab"] = None
            elif not isinstance(vocab, str):
                raise syntax_error("@vocab must be a string or null.", "invalid vocab mapping")
            elif not is_absolute_iri(vocab) and \
                    rval.get("processingMode") == "json-ld-1.0":
                # 1.0 forbids relative @vocab; checked against the
                # EVOLVING context's mode (lib/context.js:223-228), so
                # an earlier @version 1.1 in the same object lifts it
                raise syntax_error(
                    'the value of "@vocab" in a @context must be an '
                    "absolute IRI.", "invalid vocab mapping")
            else:
                # may be relative: resolve against @vocab then @base (1.1)
                expanded_vocab = expand_iri(rval, vocab, vocab=True, base=True)
                if not is_absolute_iri(expanded_vocab):
                    # lib/context.js:230-247: a relative result WARNS
                    # (1.0 raised above) and applies anyway
                    emit(options or {}, "relative @vocab reference",
                         "Relative @vocab reference found.",
                         vocab=expanded_vocab)
                rval["@vocab"] = expanded_vocab

        if "@language" in ctx:
            lang = ctx["@language"]
            if lang is None:
                rval["@language"] = None
            elif not isinstance(lang, str):
                raise syntax_error("@language must be a string or null.", "invalid default language")
            else:
                # lib/context.js:264-279: malformed default language
                # tags WARN (then lowercase and apply anyway)
                from .expand import _LANG_RE

                if not _LANG_RE.match(lang):
                    emit(options, "invalid @language value",
                         "@language value must be valid BCP47.",
                         language=lang)
                rval["@language"] = lang.lower()

        if "@direction" in ctx:
            d = ctx["@direction"]
            if active_mode == "json-ld-1.0":
                raise syntax_error(
                    "@direction not compatible with json-ld-1.0",
                    "invalid context member")
            if d is not None and d not in ("ltr", "rtl"):
                raise syntax_error('@direction must be "ltr", "rtl", or null.', "invalid base direction")
            rval["@direction"] = d

        # keyword keys consumed by the branches above are marked
        # defined from the PRE-MERGE context (lib/context.js:187-326):
        # keywords arriving only via the @import merge below fall
        # through to the term loop and fail/drop exactly like the
        # reference's createTermDefinition does
        defined: dict = {
            kw: True for kw in ("@version", "@base", "@vocab",
                                "@language", "@direction", "@propagate")
            if kw in ctx}

        if "@import" in ctx:
            imp = ctx["@import"]
            if active_mode == "json-ld-1.0":
                raise syntax_error(
                    "@import not compatible with json-ld-1.0",
                    "invalid context entry")
            if not isinstance(imp, str):
                raise syntax_error("@import must be a string.", "invalid @import value")
            # the reference resolves the @import target through the
            # full ContextResolver (arrays flatten, nested URLs fetch,
            # each with URL-rewrite) and requires EXACTLY ONE resolved
            # layer (lib/context.js:345-357) — a single-element array
            # or a URL-chain target is accepted, two layers are not
            layers = _resolve_import_layers(
                prepend_base(import_base, imp), options)
            if len(layers) != 1:
                raise syntax_error(
                    "@import must reference a single context.",
                    "invalid remote context")
            imported = layers[0]
            if imported is None:
                # `'@import' in null` — lib/context.js:366 with a null
                # resolved layer
                raise JsonLdError(
                    "Cannot use 'in' operator to search for '@import' "
                    "in null", "TypeError")
            if "@import" in imported:
                raise syntax_error("imported context must not include @import.", "invalid context entry")
            merged = dict(imported)
            merged.update({k: v for k, v in ctx.items() if k != "@import"})
            ctx = merged
            defined["@import"] = True

        if "hasOwnProperty" in ctx:
            # JSON.parse creates an OWN "hasOwnProperty" property that
            # shadows Object.prototype.hasOwnProperty, so the
            # reference's localCtx.hasOwnProperty(...) calls
            # (lib/context.js:377,490,719,1045,1080) throw a TypeError
            # for ANY context carrying this key once the @import merge
            # or the term loop runs. Verified differentially.
            raise JsonLdError("localCtx.hasOwnProperty is not a function",
                              "TypeError")

        # `ctx['@protected'] || false` on the POST-merge context
        # (lib/context.js:395): a falsy @protected leaves the defined
        # flag False, so the term loop's cyclic check throws
        # 'cyclic IRI mapping' for it — a faithful reference quirk
        defined["@protected"] = bool(ctx.get("@protected") or False)

        for key in ctx:
            create_term_definition(
                rval, ctx, key, defined, options,
                override_protected=override_protected,
                validate_scoped=validate_scoped)

        if layer_key is not None:
            import hashlib

            rval["_fp"] = hashlib.sha256(
                repr(layer_key).encode()).hexdigest()[:16]
            captured.extend(
                dict(ev) for ev in (options.get("events") or [])[n_ev_layer:])
            if len(_LAYER_CACHE) < _LAYER_CACHE_MAX:
                _LAYER_CACHE[layer_key] = {"context": rval,
                                           "events": captured}
        else:
            rval["_fp"] = _fresh_fp()
    if counts_here and _layer_counter[0] == 0:
        # non-empty context list, zero resolved layers (remote
        # @context:[] chains): the reference reads resolved[0].document
        # for the @propagate override and crashes (verified: inline []
        # early-returns, remote-to-empty throws this TypeError)
        raise JsonLdError(
            "Cannot read properties of undefined (reading 'document')",
            "TypeError")
    return rval


def create_term_definition(active_ctx: dict, local_ctx: dict, term: str, defined: dict,
                           options: dict | None = None, *, override_protected: bool = False,
                           validate_scoped: bool = True) -> None:
    """W3C Create Term Definition; parity lib/context.js:465-994."""
    options = options or {}
    if term in defined:
        if defined[term]:
            return
        raise syntax_error(f"Cyclical context definition detected: {term}", "cyclic IRI mapping")
    defined[term] = False

    value = local_ctx.get(term)

    if term == "@type":
        # 1.1 allows redefining @type with @container:@set / @protected
        if not isinstance(value, dict):
            raise syntax_error("Keywords cannot be overridden.", "keyword redefinition")
        for k, v in value.items():
            if k == "@container" and v != "@set":
                raise syntax_error("Keywords cannot be overridden.", "keyword redefinition")
            if k not in ("@container", "@protected"):
                raise syntax_error("Keywords cannot be overridden.", "keyword redefinition")
    elif is_keyword(term):
        raise syntax_error(f"Keywords cannot be overridden: {term}", "keyword redefinition")
    elif looks_like_keyword(term):
        # reserved shape: term is ignored with a warning
        # (lib/context.js:512-530)
        emit(options or {}, "reserved term",
             'Terms beginning with "@" are reserved for future use '
             'and dropped.')
        defined[term] = True
        return
    if term == "":
        raise syntax_error("A term cannot be an empty string.", "invalid term definition")

    previous = active_ctx["mappings"].get(term)

    simple_term = False
    if isinstance(value, str) or value is None:
        value = {"@id": value}
        simple_term = isinstance(local_ctx.get(term), str)
    elif not isinstance(value, dict):
        raise syntax_error("Term definition must be null, a string, or an object.",
                           "invalid term definition")

    mapping: dict = {"reverse": False, "protected": False}
    active_ctx["mappings"][term] = mapping

    protected = value.get("@protected", local_ctx.get("@protected", False))
    if protected:
        mapping["protected"] = True
        active_ctx["_protected"].add(term)

    if "@reverse" in value:
        if "@id" in value:
            raise syntax_error("@reverse term must not contain @id.", "invalid reverse property")
        if "@nest" in value:
            raise syntax_error("@reverse term must not contain @nest.", "invalid reverse property")
        rev = value["@reverse"]
        if not isinstance(rev, str):
            raise syntax_error("@reverse value must be a string.", "invalid IRI mapping")
        if looks_like_keyword(rev):
            # lib/context.js:605-631: warn, RESTORE any previous mapping
            emit(options or {}, "reserved @reverse value",
                 '@reverse values beginning with "@" are reserved for '
                 'future use and dropped.')
            if previous is not None:
                active_ctx["mappings"][term] = previous
            else:
                del active_ctx["mappings"][term]
            defined[term] = True
            return
        iri = expand_iri(active_ctx, rev, vocab=True, local_ctx=local_ctx, defined=defined, options=options)
        if not is_absolute_iri(iri) and not iri.startswith("_:"):
            raise syntax_error("@reverse value must expand to an IRI or blank node.", "invalid IRI mapping")
        mapping["@id"] = iri
        mapping["reverse"] = True
        cont = value.get("@container")
        if cont in ("@index", "@set", None):
            if cont is not None:
                mapping["@container"] = [cont]
        else:
            raise syntax_error("@reverse @container must be @index or @set.", "invalid reverse property")
    elif "@id" in value:
        vid = value["@id"]
        if vid is None:
            mapping["@id"] = None  # explicit decoupling from @vocab
        elif not isinstance(vid, str):
            raise syntax_error("@id value must be a string.", "invalid IRI mapping")
        elif vid != term:
            if not is_keyword(vid) and looks_like_keyword(vid):
                # lib/context.js:657-681: warn, RESTORE previous mapping
                emit(options or {}, "reserved @id value",
                     '@id values beginning with "@" are reserved for '
                     'future use and dropped.')
                if previous is not None:
                    active_ctx["mappings"][term] = previous
                else:
                    del active_ctx["mappings"][term]
                defined[term] = True
                return
            iri = expand_iri(active_ctx, vid, vocab=True, local_ctx=local_ctx, defined=defined, options=options)
            if not (is_keyword(iri) or is_absolute_iri(iri) or iri.startswith("_:")):
                raise syntax_error(f"@id must expand to an IRI/keyword/bnode: {iri}", "invalid IRI mapping")
            if _re.search(r":[^:]|/", term):
                # a term that LOOKS like an IRI must expand (as an IRI,
                # against a defined-map where it counts as defined) to
                # its own @id (lib/context.js:692-705)
                term_defined = dict(defined)
                term_defined[term] = True
                term_iri = expand_iri(active_ctx, term, vocab=True,
                                      local_ctx=local_ctx,
                                      defined=term_defined, options=options)
                if term_iri != iri:
                    raise syntax_error(
                        "term in form of IRI must expand to definition.",
                        "invalid IRI mapping")
            if iri == "@context":
                raise syntax_error("@id cannot equal @context.", "invalid keyword alias")
            mapping["@id"] = iri
            mapping["_prefix"] = bool(
                simple_term and ("@prefix" not in value) and
                (iri[-1] in ":/?#[]@" or iri.startswith("_:")))

    if "@id" not in mapping:
        colon = term.find(":", 1)
        if colon > 0:
            prefix = term[:colon]
            if prefix in local_ctx:
                create_term_definition(active_ctx, local_ctx, prefix, defined, options)
            pdef = active_ctx["mappings"].get(prefix)
            if pdef and pdef.get("@id"):
                mapping["@id"] = pdef["@id"] + term[colon + 1:]
            else:
                mapping["@id"] = term  # term is itself an absolute IRI / bnode
        elif term.startswith("//") or "/" in term:
            # relative-IRI-ish terms keep themselves? match reference: use vocab
            if active_ctx.get("@vocab") is not None:
                mapping["@id"] = active_ctx["@vocab"] + term
            else:
                raise syntax_error(f"Relative term with no @vocab: {term}", "invalid IRI mapping")
        elif term == "@type":
            mapping["@id"] = "@type"
        else:
            if active_ctx.get("@vocab") is None:
                raise syntax_error(
                    f"Term has no @id and no @vocab in scope: {term}", "invalid IRI mapping")
            mapping["@id"] = active_ctx["@vocab"] + term

    if "@type" in value:
        t = value["@type"]
        if not isinstance(t, str):
            raise syntax_error("@type value must be a string.", "invalid type mapping")
        if t in ("@json", "@none"):
            if active_ctx.get("processingMode") == "json-ld-1.0":
                raise syntax_error(
                    f"@context @type value must not be {t!r} in JSON-LD 1.0 "
                    "mode.", "invalid type mapping")
        elif t not in ("@id", "@vocab"):
            t = expand_iri(active_ctx, t, vocab=True, local_ctx=local_ctx, defined=defined, options=options)
            if not is_absolute_iri(t):
                raise syntax_error("@type must expand to an absolute IRI.", "invalid type mapping")
            if t.startswith("_:"):
                raise syntax_error("@type must not be a blank node.", "invalid type mapping")
        mapping["@type"] = t

    if "@container" in value:
        # faithful to lib/context.js:802-885: length checks count the
        # RAW array (duplicates included), plain combos are capped at
        # one value (+@set), 1.0 mode forbids arrays and 1.1 values,
        # and the stored container is the raw validated list
        cont = value["@container"]
        # JS normalization (lib/context.js:804-805):
        #   container = isString(v) ? [v] : (v || [])
        # — EVERY falsy value (null/0/false) normalizes to [] and is
        # ACCEPTED (stored as an empty list, which the inverse context
        # keys as '' so the term is never container-selected), while a
        # TRUTHY non-string non-array keeps its raw value and crashes
        # at container.includes (r5 grammar-18 find)
        if cont and not isinstance(cont, (str, list)):
            raise JsonLdError("container.includes is not a function",
                              "TypeError")
        conts = ([cont] if isinstance(cont, str)
                 else cont if isinstance(cont, list) else [])
        valid = {"@list", "@set", "@index", "@language"}
        is_valid = True
        has_set = "@set" in conts
        if active_ctx.get("processingMode") != "json-ld-1.0":
            valid |= {"@graph", "@id", "@type"}
            if "@list" in conts:
                if len(conts) != 1:
                    raise syntax_error("@container with @list must have no "
                                       "other values.",
                                       "invalid container mapping")
            elif "@graph" in conts:
                if any(c not in ("@graph", "@id", "@index", "@set")
                       for c in conts):
                    raise syntax_error(
                        "@container with @graph allows only @id, @index, "
                        "@set.", "invalid container mapping")
            else:
                is_valid = is_valid and len(conts) <= (2 if has_set else 1)
        else:
            is_valid = is_valid and not isinstance(cont, list)
            is_valid = is_valid and len(conts) <= 1
        is_valid = is_valid and all(isinstance(c, str) and c in valid
                                    for c in conts)
        is_valid = is_valid and not (has_set and "@list" in conts)
        if not is_valid:
            raise syntax_error(f"Invalid @container: {cont}", "invalid container mapping")
        cset = set(conts)
        if mapping["reverse"] and cset - {"@index", "@set"}:
            raise syntax_error("reverse @container must be @index/@set.", "invalid reverse property")
        mapping["@container"] = list(conts)
        if "@type" in cset:
            # @type container implies @type:@id default; only @id/@vocab
            # type mappings are allowed (lib/context.js:838-849)
            mapping.setdefault("@type", "@id")
            if mapping["@type"] not in ("@id", "@vocab"):
                raise syntax_error(
                    "container: @type requires @type to be @id or @vocab.",
                    "invalid type mapping")

    if "@index" in value:
        conts = mapping.get("@container", [])
        if "@index" not in conts:
            raise syntax_error("@index requires @container:@index.", "invalid term definition")
        idx = value["@index"]
        if not isinstance(idx, str) or idx.startswith("@"):
            raise syntax_error("@index must be a non-keyword string.", "invalid term definition")
        mapping["@index"] = idx

    if "@context" in value:
        # scoped context: stored raw, processed lazily at use sites
        mapping["@context"] = value["@context"]
        if validate_scoped:
            # validate it processes cleanly against the current context
            process_context(active_ctx, value["@context"], options,
                            override_protected=True, validate_scoped=False)

    if "@language" in value and "@type" not in value:
        lang = value["@language"]
        if lang is not None and not isinstance(lang, str):
            raise syntax_error("@language must be string or null.", "invalid language mapping")
        mapping["@language"] = lang.lower() if isinstance(lang, str) else None
        mapping["_has_language"] = True

    if "@direction" in value and "@type" not in value:
        d = value["@direction"]
        if d is not None and d not in ("ltr", "rtl"):
            raise syntax_error("@direction must be ltr/rtl/null.", "invalid base direction")
        mapping["@direction"] = d
        mapping["_has_direction"] = True

    if "@prefix" in value:
        if ":" in term or "/" in term:
            raise syntax_error("@prefix used on compact/relative IRI term.", "invalid term definition")
        p = value["@prefix"]
        if not isinstance(p, bool):
            raise syntax_error("@prefix must be boolean.", "invalid @prefix value")
        if is_keyword(mapping.get("@id")):
            raise syntax_error("Keyword terms cannot be prefixes.", "invalid term definition")
        mapping["_prefix"] = p

    if "@nest" in value:
        n = value["@nest"]
        if not isinstance(n, str) or (n != "@nest" and n.startswith("@")):
            raise syntax_error("@nest must be '@nest' or a non-keyword string.",
                               "invalid @nest value")
        mapping["@nest"] = n

    # unrecognized members are errors
    allowed = {"@id", "@reverse", "@type", "@container", "@language"}
    if active_ctx.get("processingMode") != "json-ld-1.0":
        # 1.1-only term-definition members (lib/context.js:566-572)
        allowed |= {"@context", "@direction", "@index", "@nest", "@prefix",
                    "@protected"}
    extra = set(value) - allowed
    if extra:
        raise syntax_error(f"Invalid term definition members: {sorted(extra)}",
                           "invalid term definition")

    # protected-term redefinition check (lib/context.js:981-993)
    if previous and previous.get("protected") and not override_protected:
        check_prev = {k: v for k, v in previous.items() if k != "protected"}
        check_new = {k: v for k, v in mapping.items() if k != "protected"}
        check_new["protected"] = check_prev["protected"] = True
        prev_cmp = dict(previous)
        new_cmp = dict(mapping)
        new_cmp["protected"] = prev_cmp["protected"] = True
        if prev_cmp != new_cmp:
            raise JsonLdError(
                f"Invalid JSON-LD syntax; tried to redefine a protected term: {term}",
                "jsonld.SyntaxError", code="protected term redefinition")
        active_ctx["mappings"][term] = previous
    defined[term] = True


def expand_iri(active_ctx: dict, value, *, base: bool = False, vocab: bool = False,
               local_ctx: dict | None = None, defined: dict | None = None,
               options: dict | None = None):
    """Expand ``value`` to an absolute IRI / keyword / blank-node label.

    Parity: lib/context.js:1010-1197. This is the hot path of
    expansion; per Arrow batch it is a dict lookup + string ops.
    """
    if value is None or is_keyword(value) or not isinstance(value, str):
        return value
    if looks_like_keyword(value):
        return None  # reserved keyword-shaped values are dropped

    # define dependency first if we're mid-context-processing
    if local_ctx is not None and value in local_ctx and defined is not None and not defined.get(value):
        create_term_definition(active_ctx, local_ctx, value, defined, options or {})

    if vocab:
        m = active_ctx["mappings"].get(value)
        # '@id' in mapping (lib/context.js:1061): a mapping MID-
        # DEFINITION (registered early, no @id yet — reachable via the
        # IRI-form-term self-expansion check) falls through to the
        # prefix/vocab logic instead of resolving to null
        if m is not None and "@id" in m:
            return m["@id"]

    colon = value.find(":", 1)
    if colon > 0:
        prefix, suffix = value[:colon], value[colon + 1:]
        # bnode or suffix starting with // → already absolute-ish
        if prefix == "_" or suffix.startswith("//"):
            return value
        if local_ctx is not None and prefix in local_ctx and defined is not None and not defined.get(prefix):
            create_term_definition(active_ctx, local_ctx, prefix, defined, options or {})
        pdef = active_ctx["mappings"].get(prefix)
        if pdef and pdef.get("@id") and pdef.get("_prefix"):
            return pdef["@id"] + suffix
        if is_absolute_iri(value):
            return value
        # compact-IRI-shaped but unmapped prefix: leave as-is
        return value

    if vocab and active_ctx.get("@vocab") is not None:
        return active_ctx["@vocab"] + value
    if base:
        return prepend_base(active_ctx.get("@base"), value)
    return value


def selected_term_ctx(active_ctx: dict, term: str):
    """Raw scoped @context for a term, or None."""
    m = active_ctx["mappings"].get(term)
    return m.get("@context") if m else None


def revert_to_previous(active_ctx: dict) -> dict:
    """Non-propagating context revert (lib/expand.js:173-199)."""
    return active_ctx.get("previousContext") or active_ctx
