"""Framing: pattern-match query + reshaping over the node map.

W3C JSON-LD 1.1 Framing. Behavioral parity:
/root/reference/lib/frame.js — frameMergedOrDefault :29-70, main loop
:76-323 (note the per-top-level-match compartmentalization of
uniqueEmbeds at :103-110), subject filtering :519-637, value patterns
:794-826, removeEmbed :645-684, cleanupPreserve :694-746.

Spark note (SURVEY §2.8): a frame is a static-depth graph-pattern
query; the DataFrame operator (queries.kg_frame_customers) expresses
it as self-joins on the triples table. This kernel is the
per-document / assembled-JSON form the API exposes.
"""

from __future__ import annotations

import copy

from .constants import is_keyword
from .errors import syntax_error
from .nodemap import (
    IdentifierIssuer,
    compare_values,
    create_node_map,
    merge_node_map_graphs,
)
from .types import is_list, is_subject, is_subject_reference, is_value

_EMBED_VALUES = ("@always", "@never", "@link", "@first", "@last", "@once")


class _State:
    def __init__(self, options):
        self.options = options
        self.embedded = False
        self.graph = "@default"
        self.graph_map = {"@default": {}}
        self.subject_stack: list = []
        self.link: dict = {}
        self.bnode_map: dict = {}
        self.unique_embeds: dict = {}
        self.subjects: dict = {}

    def copy(self, **over):
        s = _State(self.options)
        s.__dict__.update(self.__dict__)
        s.__dict__.update(over)
        return s


def _values(obj, key) -> list:
    v = obj.get(key)
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def _get_flag(frame: dict, options: dict, name: str):
    key = "@" + name
    if key in frame:
        fv = frame[key]
        rval = fv[0] if isinstance(fv, list) and fv else fv
        if isinstance(rval, dict) and "@value" in rval:
            rval = rval["@value"]
    else:
        rval = options.get(name)
    if name == "embed":
        if rval is True:
            rval = "@once"
        elif rval is False:
            rval = "@never"
        elif rval not in _EMBED_VALUES:
            raise syntax_error("invalid value of @embed.", "invalid @embed value")
    return rval


def _validate_frame(frame) -> None:
    if not (isinstance(frame, list) and len(frame) == 1
            and isinstance(frame[0], dict)):
        raise syntax_error("a JSON-LD frame must be a single object.",
                           "invalid frame")
    f = frame[0]
    if "@id" in f:
        for v in _values(f, "@id"):
            if isinstance(v, dict) and not v:
                continue
            if isinstance(v, str) and not v.startswith("_:"):
                continue
            if isinstance(v, str) and v.startswith("_:"):
                raise syntax_error("invalid @id in frame.", "invalid frame")
            if not isinstance(v, str):
                raise syntax_error("invalid @id in frame.", "invalid frame")
    if "@type" in f:
        for v in _values(f, "@type"):
            if isinstance(v, dict) and (not v or "@default" in v):
                continue
            if isinstance(v, str) and v.startswith("_:"):
                raise syntax_error("invalid @type in frame.", "invalid frame")
            if not isinstance(v, str):
                raise syntax_error("invalid @type in frame.", "invalid frame")


def _js_truthy(v) -> bool:
    """JS truthiness: 0/-0/NaN/false/''/null are falsy; [] and {} are
    truthy."""
    return not (v is None or v is False or v == 0 or v == "" or
                (isinstance(v, float) and v != v))


def _value_match(pattern: dict, value: dict) -> bool:
    """@value pattern match — exact port of lib/frame.js:794-826,
    quirks included: a JS-FALSY pattern entry (0, '', false, null)
    counts as absent, and with any constraint present an ABSENT
    pattern @type/@language only matches values that also LACK that
    member (no implicit wildcard)."""

    def pat(key):
        pv = pattern.get(key)
        if not _js_truthy(pv):
            return []
        return pv if isinstance(pv, list) else [pv]

    v1 = value.get("@value")
    t1 = value.get("@type")
    l1 = value.get("@language")
    v2 = pat("@value")
    t2 = pat("@type")
    l2 = pat("@language")
    if not v2 and not t2 and not l2:
        return True

    def eq_in(x, lst):
        # JS === : booleans never equal numbers
        return any(type(x) is type(y) and x == y
                   or (isinstance(x, (int, float)) and not isinstance(x, bool)
                       and isinstance(y, (int, float)) and not isinstance(y, bool)
                       and x == y)
                   for y in lst)

    if not (eq_in(v1, v2) or (v2 and isinstance(v2[0], dict) and not v2[0])):
        return False
    if not ((not _js_truthy(t1) and not t2) or eq_in(t1, t2)
            or (_js_truthy(t1) and t2 and isinstance(t2[0], dict) and not t2[0])):
        return False
    if not ((not _js_truthy(l1) and not l2) or eq_in(l1, l2)
            or (_js_truthy(l1) and l2 and isinstance(l2[0], dict) and not l2[0])):
        return False
    return True


def _node_match(state: _State, pattern: dict, value, flags) -> bool:
    if not isinstance(value, dict) or "@id" not in value:
        return False
    node = state.graph_map.get(state.graph, {}).get(value["@id"])
    return node is not None and _filter_subject(state, node, pattern, flags)


def _filter_subject(state: _State, subject: dict, frame: dict, flags) -> bool:
    """Duck-typed subject match (lib/frame.js:519-637)."""
    wildcard = True
    matches_some = False
    for key in frame:
        match_this = False
        node_values = _values(subject, key)
        is_empty = len(_values(frame, key)) == 0

        if key == "@id":
            fv = _values(frame, "@id")
            if fv and isinstance(fv[0], dict) and not fv[0]:
                match_this = True
            else:
                match_this = bool(node_values) and node_values[0] in fv
            if not flags["requireAll"]:
                return match_this
        elif key == "@type":
            wildcard = False
            fv = _values(frame, "@type")
            if is_empty:
                if node_values:
                    return False
                match_this = True
            elif len(fv) == 1 and isinstance(fv[0], dict) and not fv[0]:
                match_this = len(node_values) > 0
            else:
                for t in fv:
                    if isinstance(t, dict) and "@default" in t:
                        match_this = True
                    else:
                        match_this = match_this or any(tt == t for tt in node_values)
            if not flags["requireAll"]:
                return match_this
        elif is_keyword(key):
            continue
        else:
            fvals = _values(frame, key)
            this_frame = fvals[0] if fvals else None
            has_default = False
            if this_frame is not None:
                _validate_frame([this_frame] if isinstance(this_frame, dict)
                                else [{}])
                has_default = isinstance(this_frame, dict) and "@default" in this_frame
            wildcard = False
            if len(node_values) == 0 and has_default:
                continue
            if node_values and is_empty:
                return False
            if this_frame is None:
                if node_values:
                    return False
                match_this = True
            elif is_list(this_frame):
                list_value = (this_frame["@list"] or [None])[0]
                if node_values and is_list(node_values[0]):
                    nlv = node_values[0]["@list"]
                    if is_value(list_value):
                        match_this = any(_value_match(list_value, lv) for lv in nlv)
                    elif is_subject(list_value) or is_subject_reference(list_value):
                        match_this = any(
                            _node_match(state, list_value, lv, flags) for lv in nlv)
            elif is_value(this_frame):
                match_this = any(_value_match(this_frame, nv) for nv in node_values)
            elif is_subject_reference(this_frame):
                match_this = any(
                    _node_match(state, this_frame, nv, flags) for nv in node_values)
            elif isinstance(this_frame, dict):
                match_this = len(node_values) > 0
            else:
                match_this = False

        if not match_this and flags["requireAll"]:
            return False
        matches_some = matches_some or match_this
    return wildcard or matches_some


def _filter_subjects(state: _State, subjects, frame, flags) -> dict:
    rval = {}
    for sid in subjects:
        subject = state.graph_map[state.graph].get(sid)
        if subject is not None and _filter_subject(state, subject, frame, flags):
            rval[sid] = subject
    return rval


def _add_value(obj, key, value, *, property_is_array=False):
    if isinstance(value, list):
        if key not in obj and property_is_array:
            obj[key] = []
        for v in value:
            _add_value(obj, key, v, property_is_array=property_is_array)
        return
    if key in obj:
        if not isinstance(obj[key], list):
            obj[key] = [obj[key]]
        obj[key].append(value)
    else:
        obj[key] = [value] if property_is_array else value


def _add_frame_output(parent, prop, output) -> None:
    if isinstance(parent, dict):
        _add_value(parent, prop, output, property_is_array=True)
    else:
        parent.append(output)


def _create_implicit_frame(flags) -> list:
    return [{("@" + k): [v] for k, v in flags.items() if v is not None}]


def _creates_circular_reference(subject, graph, subject_stack) -> bool:
    for entry in reversed(subject_stack):
        if entry["graph"] == graph and \
                entry["subject"].get("@id") == subject.get("@id"):
            return True
    return False


def _remove_embed(state: _State, sid: str) -> None:
    """lib/frame.js:645-684."""
    embeds = state.unique_embeds[state.graph]
    embed = embeds[sid]
    parent, prop = embed["parent"], embed["property"]
    subject = {"@id": sid}
    if isinstance(parent, list):
        for i, p in enumerate(parent):
            if compare_values(p, subject):
                parent[i] = subject
                break
    else:
        use_array = isinstance(parent.get(prop), bool) or \
            isinstance(parent.get(prop), list)
        vals = _values(parent, prop)
        vals = [v for v in vals if not (isinstance(v, dict)
                                        and v.get("@id") == sid)]
        vals.append(subject)
        parent[prop] = vals if use_array else (vals[0] if len(vals) == 1 else vals)

    def remove_dependents(dep_id):
        for nxt in list(embeds.keys()):
            if nxt in embeds and isinstance(embeds[nxt]["parent"], dict) and \
                    embeds[nxt]["parent"].get("@id") == dep_id:
                del embeds[nxt]
                remove_dependents(nxt)

    remove_dependents(sid)


def _frame(state: _State, subjects, frame, parent, prop=None) -> None:
    """Main framing loop (lib/frame.js:76-323)."""
    _validate_frame(frame)
    frame0 = frame[0]
    options = state.options
    flags = {
        "embed": _get_flag(frame0, options, "embed"),
        "explicit": _get_flag(frame0, options, "explicit"),
        "requireAll": _get_flag(frame0, options, "requireAll"),
    }

    link = state.link.setdefault(state.graph, {})
    matches = _filter_subjects(state, subjects, frame0, flags)

    for sid in sorted(matches.keys()):
        subject = matches[sid]
        # each top-level match is a compartmentalized result
        if prop is None:
            state.unique_embeds = {state.graph: {}}
        else:
            state.unique_embeds.setdefault(state.graph, {})
        unique = state.unique_embeds[state.graph]

        if flags["embed"] == "@link" and sid in link:
            _add_frame_output(parent, prop, link[sid])
            continue

        output = {"@id": sid}
        if sid.startswith("_:"):
            _add_value(state.bnode_map, sid, output, property_is_array=True)
        link[sid] = output

        # Reference quirk replicated: lib/frame.js:130 intends to reject
        # @first/@last in 1.1 mode, but it reads `state.is11` while the
        # flag is only ever set on `options` (lib/jsonld.js:479) — the
        # check never fires, so the reference ACCEPTS @first/@last in
        # every mode (verified against the runner; tests/test_frame_embed.py).

        if not state.embedded and sid in unique:
            continue  # already embedded under another top-level node

        if state.embedded and (
                flags["embed"] == "@never" or
                _creates_circular_reference(subject, state.graph,
                                            state.subject_stack)):
            _add_frame_output(parent, prop, output)
            continue

        if state.embedded and flags["embed"] in ("@first", "@once") \
                and sid in unique:
            _add_frame_output(parent, prop, output)
            continue

        if flags["embed"] == "@last" and sid in unique:
            _remove_embed(state, sid)

        unique[sid] = {"parent": parent, "property": prop}
        state.subject_stack.append({"subject": subject, "graph": state.graph})

        # subject is also a graph name -> recurse into the graph
        if sid in state.graph_map:
            recurse = False
            subframe = None
            if "@graph" not in frame0:
                recurse = state.graph != "@merged"
                subframe = {}
            else:
                gf = frame0["@graph"]
                subframe = gf[0] if isinstance(gf, list) and gf else {}
                recurse = sid not in ("@merged", "@default")
                if not isinstance(subframe, dict):
                    subframe = {}
            if recurse:
                sub_state = state.copy(graph=sid, embedded=False)
                _frame(sub_state, sorted(state.graph_map[sid].keys()),
                       [subframe], output, "@graph")

        if "@included" in frame0:
            _frame(state.copy(embedded=False), subjects, frame0["@included"],
                   output, "@included")

        for p in sorted(subject.keys()):
            if is_keyword(p):
                output[p] = copy.deepcopy(subject[p])
                if p == "@type":
                    for t in subject["@type"]:
                        if isinstance(t, str) and t.startswith("_:"):
                            _add_value(state.bnode_map, t, output,
                                       property_is_array=True)
                continue
            if flags["explicit"] and p not in frame0:
                continue
            for o in subject[p]:
                subframe = frame0[p] if p in frame0 \
                    else _create_implicit_frame(flags)
                if is_list(o):
                    lf = frame0.get(p)
                    if lf and isinstance(lf, list) and lf and \
                            isinstance(lf[0], dict) and lf[0].get("@list"):
                        list_frame = lf[0]["@list"]
                    else:
                        list_frame = _create_implicit_frame(flags)
                    lst = {"@list": []}
                    _add_frame_output(output, p, lst)
                    for oo in o["@list"]:
                        if is_subject_reference(oo):
                            _frame(state.copy(embedded=True), [oo["@id"]],
                                   list_frame, lst, "@list")
                        else:
                            _add_frame_output(lst, "@list", copy.deepcopy(oo))
                elif is_subject_reference(o):
                    _frame(state.copy(embedded=True), [o["@id"]],
                           subframe, output, p)
                else:
                    sf0 = subframe[0] if isinstance(subframe, list) and subframe \
                        else {}
                    if _value_match(sf0 if isinstance(sf0, dict) else {}, o):
                        _add_frame_output(output, p, copy.deepcopy(o))

        # defaults
        for p in sorted(frame0.keys()):
            if p == "@type":
                fv = _values(frame0, p)
                if not (fv and isinstance(fv[0], dict) and "@default" in fv[0]):
                    continue
            elif is_keyword(p):
                continue
            nxt = (_values(frame0, p) or [{}])[0]
            if not isinstance(nxt, dict):
                nxt = {}
            omit = _get_flag(nxt, options, "omitDefault")
            if not omit and p not in output:
                preserve = copy.deepcopy(nxt.get("@default", "@null"))
                if not isinstance(preserve, list):
                    preserve = [preserve]
                output[p] = [{"@preserve": preserve}]

        # reverse framing
        for rprop in sorted((frame0.get("@reverse") or {}).keys()):
            subframe = frame0["@reverse"][rprop]
            for subj_id, subj_node in state.subjects.items():
                if any(isinstance(v, dict) and v.get("@id") == sid
                       for v in _values(subj_node, rprop)):
                    rev = output.setdefault("@reverse", {})
                    rev.setdefault(rprop, [])
                    _frame(state.copy(embedded=True), [subj_id], subframe,
                           rev[rprop], prop)

        _add_frame_output(parent, prop, output)
        state.subject_stack.pop()


def frame(expanded_input, expanded_frame, options: dict | None = None) -> list:
    """frameMergedOrDefault (lib/frame.js:29-70): expanded input +
    expanded frame -> framed (still-expanded) output."""
    options = dict(options or {})
    options.setdefault("embed", "@once")
    options.setdefault("explicit", False)
    options.setdefault("requireAll", False)
    options.setdefault("omitDefault", False)

    state = _State(options)
    issuer = IdentifierIssuer("_:b")
    graphs = create_node_map(expanded_input, issuer=issuer)
    state.graph_map = graphs
    if options.get("merged", True):
        state.graph_map["@merged"] = merge_node_map_graphs(graphs)
        state.graph = "@merged"
    state.subjects = state.graph_map[state.graph]

    framed: list = []
    frames = expanded_frame if isinstance(expanded_frame, list) else [expanded_frame]
    if not frames:
        frames = [{}]
    _frame(state, sorted(state.subjects.keys()), frames, framed, None)

    if options.get("pruneBlankNodeIdentifiers", True):
        options["bnodesToClear"] = [
            bid for bid, refs in state.bnode_map.items() if len(refs) == 1]
    else:
        options["bnodesToClear"] = []

    options["link"] = {}  # lib/frame.js:63 — reset before the cleanup pass
    return _cleanup_preserve(framed, options)


def _cleanup_preserve(element, options):
    """lib/frame.js:694-746 (expanded-form pass). Mutates IN PLACE and
    tracks visited nodes per @id in options['link'] so @embed:@link
    output — where node objects are shared and may be CYCLIC — keeps
    identity and terminates (the reference's indexOf identity check)."""
    if isinstance(element, list):
        for i in range(len(element)):
            element[i] = _cleanup_preserve(element[i], options)
        return element
    if isinstance(element, dict):
        if "@preserve" in element:
            pv = element["@preserve"]
            return pv[0] if isinstance(pv, list) and pv else pv
        if is_value(element):
            return element
        if is_list(element):
            element["@list"] = _cleanup_preserve(element["@list"], options)
            return element
        if "@id" in element:
            eid = element["@id"]
            bucket = options.setdefault("link", {}).setdefault(eid, [])
            if any(x is element for x in bucket):
                return element  # already visited (circular @link)
            bucket.append(element)
        for k in list(element.keys()):
            if k == "@id" and isinstance(element[k], str) and \
                    element[k] in options.get("bnodesToClear", []):
                del element[k]
                continue
            element[k] = _cleanup_preserve(element[k], options)
        return element
    return element


def cleanup_preserve(element, options: dict | None = None, _memo=None):
    """Post-compaction @preserve unwrap (the compacted form may carry
    '@preserve' keys from compact()). Mutates in place with an
    identity memo so @embed:@link compacted output (shared / cyclic
    node objects) keeps identity and terminates."""
    if _memo is None:
        _memo = {}
    if isinstance(element, list):
        key = id(element)
        if key in _memo:
            return _memo[key]
        _memo[key] = element
        for i in range(len(element)):
            element[i] = cleanup_preserve(element[i], options, _memo)
        return element
    if isinstance(element, dict):
        key = id(element)
        if key in _memo:
            return _memo[key]
        if "@preserve" in element:
            inner = element["@preserve"]
            inner = inner[0] if isinstance(inner, list) and len(inner) == 1 else inner
            res = cleanup_preserve(inner, options, _memo)
            _memo[key] = res
            return res
        _memo[key] = element
        for k in list(element.keys()):
            element[k] = cleanup_preserve(element[k], options, _memo)
        return element
    return element


def cleanup_null(element, options: dict | None = None):
    """Replace '@null' placeholders with null and filter arrays.

    Parity quirk: the reference filters with JS truthiness
    (`noNulls.filter(v => v)`, lib/frame.js:337), so 0/false/'' are
    dropped from framed arrays along with nulls — replicated here.
    """
    if isinstance(element, list):
        out = [cleanup_null(x, options) for x in element]
        return [x for x in out if _js_truthy(x)]
    if element == "@null":
        return None
    if isinstance(element, dict):
        # in-memory linked nodes: visited-per-@id identity check, then
        # mutate in place (lib/frame.js:344-365) — terminates on cycles
        if "@id" in element:
            eid = element["@id"]
            if isinstance(options, dict):
                bucket = options.setdefault("link", {}).setdefault(eid, [])
                if any(x is element for x in bucket):
                    return element
                bucket.append(element)
        for k in list(element.keys()):
            element[k] = cleanup_null(element[k], options)
        return element
    return element
