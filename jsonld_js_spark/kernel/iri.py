"""IRI algebra: parse / resolve-against-base / relativize.

Fresh implementation of RFC 3986 §5.2 reference resolution plus the
JSON-LD-specific quirks the reference engine exhibits
(parity: /root/reference/lib/url.js:63-291). stdlib ``urljoin`` is NOT
used: it diverges on empty-path bases, ``..`` overflow, and
scheme-relative corner cases that the conformance suite exercises.
"""

from __future__ import annotations

import re
from functools import lru_cache

# RFC 3986 appendix B, anchored; named groups for clarity.
_URI_RE = re.compile(
    r"^(?:(?P<scheme>[^:/?#]+):)?"
    r"(?P<authority_part>//(?P<authority>[^/?#]*))?"
    r"(?P<path>[^?#]*)"
    r"(?P<query_part>\?(?P<query>[^#]*))?"
    r"(?P<fragment_part>#(?P<fragment>.*))?$",
    re.DOTALL,
)

_ABSOLUTE_RE = re.compile(
    # the reference's isAbsolute regex VERBATIM (lib/url.js:280):
    # /^([A-Za-z][A-Za-z0-9+-.]*|_):[^\s]*$/ — note the `|_` branch
    # (blank-node "_:" ids count as absolute) and that `+-.` inside
    # the class is a RANGE 0x2B-0x2E, so COMMA is a legal scheme char
    # ("a,b:x" is "absolute"); schemes like "__proto__" or "1abc"
    # still fail, which is what drops such properties after expansion.
    r"^([A-Za-z][A-Za-z0-9+,.\-]*|_):[^\s]*$"
)


@lru_cache(maxsize=16384)
def _is_absolute_str(v: str) -> bool:
    return _ABSOLUTE_RE.match(v) is not None


def is_absolute_iri(v) -> bool:
    # memoized per string: the extraction kernel asks this ~30x per
    # document, almost always for the same handful of vocab IRIs
    return isinstance(v, str) and _is_absolute_str(v)


@lru_cache(maxsize=4096)
def parse_iri(iri: str):
    m = _URI_RE.match(iri)
    # the regex is total: it always matches
    return {
        "scheme": m.group("scheme"),
        "authority": m.group("authority") if m.group("authority_part") is not None else None,
        "path": m.group("path") or "",
        "query": m.group("query") if m.group("query_part") is not None else None,
        "fragment": m.group("fragment") if m.group("fragment_part") is not None else None,
    }


def remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4, exact port of lib/url.js removeDotSegments:
    '..' pops unconditionally (even the root marker — '/..' folds to
    '/'), a trailing '.'/'..' leaves a trailing slash, and a lone
    empty segment collapses to '/' (so '.' and '..' against the empty
    base resolve to '/', not './' — r5 probe find)."""
    if not path:
        return ""
    segments = path.split("/")
    output: list[str] = []
    i, n = 0, len(segments)
    while i < n:
        seg = segments[i]
        i += 1
        done = i == n
        if seg == ".":
            if done:
                output.append("")
            continue
        if seg == "..":
            if output:
                output.pop()
            if done:
                output.append("")
            continue
        output.append(seg)
    if path[0] == "/" and output and output[0] != "":
        output.insert(0, "")
    if len(output) == 1 and output[0] == "":
        return "/"
    return "/".join(output)


def _recompose(scheme, authority, path, query, fragment) -> str:
    out = []
    if scheme is not None:
        out.append(scheme + ":")
    if authority is not None:
        out.append("//" + authority)
    out.append(path)
    if query is not None:
        out.append("?" + query)
    if fragment is not None:
        out.append("#" + fragment)
    return "".join(out)


def prepend_base(base, iri: str) -> str:
    """Resolve ``iri`` against ``base`` (RFC 3986 §5.2.2).

    ``base`` None returns iri unchanged; an EMPTY base still resolves
    (dot segments removed, ./ and ../ folded) — the reference only
    skips on null (lib/url.js:63-68) and jsonld.expand defaults base
    to '' when unset.
    """
    if base is None:
        return iri
    if iri is None:
        return iri
    b = parse_iri(base) if isinstance(base, str) else base

    r = parse_iri(iri)
    if r["scheme"] is not None:
        scheme, authority, path, query = (
            r["scheme"],
            r["authority"],
            remove_dot_segments(r["path"]),
            r["query"],
        )
    else:
        scheme = b["scheme"]
        if r["authority"] is not None:
            authority, path, query = r["authority"], remove_dot_segments(r["path"]), r["query"]
        else:
            authority = b["authority"]
            if r["path"] == "":
                path = b["path"]
                query = r["query"] if r["query"] is not None else b["query"]
            else:
                if r["path"].startswith("/"):
                    path = remove_dot_segments(r["path"])
                else:
                    # merge paths
                    if b["authority"] is not None and b["path"] == "":
                        merged = "/" + r["path"]
                    else:
                        slash = b["path"].rfind("/")
                        merged = (b["path"][: slash + 1] if slash >= 0 else "") + r["path"]
                    path = remove_dot_segments(merged)
                query = r["query"]
    rval = _recompose(scheme, authority, path, query, r["fragment"])
    # handle empty base (lib/url.js:139-142): an all-empty composition
    # becomes './' — so @id "" with the default base '' expands to './'
    return rval if rval != "" else "./"


def remove_base(base, iri: str) -> str:
    """Relativize ``iri`` against ``base`` — a faithful port of the
    reference algorithm (lib/url.js:155-223), including its quirks:
    the last matching segment is also shed when the IRI carries a
    query/fragment, and an EMPTY base relativizes a network-path
    reference ('//host/x') to its path tail (the '//' root check is
    an indexOf truthiness test there)."""
    if base is None:
        return iri
    b = parse_iri(base if isinstance(base, str) else "")

    # establish base root (scheme://authority)
    if base != "":
        root = (f"{b['scheme']}:" if b["scheme"] is not None else "") + \
            "//" + (b["authority"] or "")
    elif iri.find("//") != 0:
        # reference quirk: `else if(iri.indexOf('//'))` — truthy for
        # anything except a leading '//'
        root = "//"
    else:
        root = ""

    if not iri.startswith(root):
        return iri

    rel = parse_iri(iri[len(root):])

    b_norm = remove_dot_segments(b["path"])
    r_norm = remove_dot_segments(rel["path"])
    b_segments = b_norm.split("/")
    r_segments = r_norm.split("/")

    # shed matching segments; keep the last IRI segment unless the IRI
    # carries a query or fragment
    last = 0 if (rel["fragment"] is not None or rel["query"] is not None) else 1
    while b_segments and len(r_segments) > last:
        if b_segments[0] != r_segments[0]:
            break
        b_segments.pop(0)
        r_segments.pop(0)

    rval = ""
    if b_segments:
        # the final base segment is a file name, not a directory
        b_segments.pop()
        rval += "../" * len(b_segments)
    rval += "/".join(r_segments)

    if rel["query"] is not None:
        rval += "?" + rel["query"]
    if rel["fragment"] is not None:
        rval += "#" + rel["fragment"]
    if rval == "":
        rval = "./"
    return rval
