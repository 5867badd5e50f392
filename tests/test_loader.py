"""Remote-document loader parity vs the real reference.

Three layers:
1. parse_link_header differential vs the reference's util.parseLinkHeader.
2. static_document_loader unit behavior (Link-header context discovery,
   multiple-link error, alternate-link redirect, 3xx chains, redirect
   cap, loop detection, status/scheme errors) mirroring
   lib/documentLoaders/node.js — unit-level since that file needs HTTP.
3. Engine-level differential: expand/frame by URL with a fixture
   document table fed to BOTH the kernel (document_loader) and the real
   reference (documentLoader closure in the runner) — covers remote
   contexts, Link-header context injection, base defaulting,
   ContextResolver cycles and the MAX_CONTEXT_URLS cap.
"""

import pytest

from jsonld_js_spark.kernel import api as kapi
from jsonld_js_spark.kernel.errors import JsonLdError
from jsonld_js_spark.kernel.loader import (
    LINK_HEADER_CONTEXT,
    parse_link_header,
    static_document_loader,
)

from tests.ref_oracle.harness import ReferenceOracle, available
from tests.test_differential import deep_eq

E = "http://fixtures.test/"
V = "http://vocab.test/v#"


@pytest.fixture(scope="module")
def oracle():
    if not available():
        pytest.skip("node/reference absent")
    o = ReferenceOracle()
    yield o
    o.close()


# ---------------------------------------------------------------- layer 1

LINK_HEADERS = [
    f'<ctx.jsonld>; rel="{LINK_HEADER_CONTEXT}"; type="application/ld+json"',
    '<http://e.org/a.jsonld>; rel="alternate"; type="application/ld+json"',
    f'<c1.jsonld>; rel="{LINK_HEADER_CONTEXT}", <c2.jsonld>; '
    f'rel="{LINK_HEADER_CONTEXT}"',
    '<x>; rel=unquoted; title="has, comma"',
    '<only-target>',
    '<a>; rel="r1", <b>; rel="r2", <c>; rel="r1"',
    '<sp>;  rel = "weird" ; type="text/html"',
]


@pytest.mark.parametrize("header", LINK_HEADERS,
                         ids=[f"h{i}" for i in range(len(LINK_HEADERS))])
def test_parse_link_header_matches_reference(oracle, header):
    ref = oracle.call("parseLinkHeader", header=header)
    assert ref["ok"], ref
    assert deep_eq(parse_link_header(header), ref["result"])


# ---------------------------------------------------------------- layer 2

def test_loader_link_header_context_discovery():
    load = static_document_loader({
        f"{E}doc": {"status": 200,
                    "headers": {"content-type": "application/json",
                                "link": f'<{E}ctx.jsonld>; '
                                        f'rel="{LINK_HEADER_CONTEXT}"'},
                    "body": {"name": "x"}}})
    doc = load(f"{E}doc")
    assert doc["contextUrl"] == f"{E}ctx.jsonld"
    assert doc["documentUrl"] == f"{E}doc"


def test_loader_link_header_ignored_for_ld_json():
    load = static_document_loader({
        f"{E}doc": {"status": 200,
                    "headers": {"content-type": "application/ld+json",
                                "link": f'<{E}ctx.jsonld>; '
                                        f'rel="{LINK_HEADER_CONTEXT}"'},
                    "body": {"name": "x"}}})
    assert load(f"{E}doc")["contextUrl"] is None


def test_loader_multiple_context_links_error():
    load = static_document_loader({
        f"{E}doc": {"status": 200,
                    "headers": {"content-type": "application/json",
                                "link": f'<{E}c1>; rel="{LINK_HEADER_CONTEXT}", '
                                        f'<{E}c2>; rel="{LINK_HEADER_CONTEXT}"'},
                    "body": {}}})
    with pytest.raises(JsonLdError) as e:
        load(f"{E}doc")
    assert e.value.code == "multiple context link headers"


def test_loader_alternate_link_redirects():
    load = static_document_loader({
        f"{E}doc": {"status": 200,
                    "headers": {"content-type": "text/html",
                                "link": '<alt.jsonld>; rel="alternate"; '
                                        'type="application/ld+json"'},
                    "body": "<html></html>"},
        f"{E}alt.jsonld": {"status": 200, "body": {"@context": {}, "a": 1}}})
    doc = load(f"{E}doc")
    assert doc["documentUrl"] == f"{E}alt.jsonld"
    assert doc["document"] == {"@context": {}, "a": 1}


def test_loader_follows_redirect_chain_relative_location():
    load = static_document_loader({
        f"{E}a": {"status": 301, "headers": {"location": "b"}, "body": None},
        f"{E}b": {"status": 302, "headers": {"location": f"{E}c"}, "body": None},
        f"{E}c": {"status": 200, "body": {"ok": True}}})
    doc = load(f"{E}a")
    assert doc["documentUrl"] == f"{E}c"
    assert doc["document"] == {"ok": True}


def test_loader_too_many_redirects():
    table = {f"{E}r{i}": {"status": 301, "headers": {"location": f"{E}r{i+1}"},
                          "body": None} for i in range(10)}
    table[f"{E}r10"] = {"status": 200, "body": {}}
    load = static_document_loader(table, max_redirects=4)
    with pytest.raises(JsonLdError, match="too many redirects"):
        load(f"{E}r0")


def test_loader_infinite_redirect_detected():
    load = static_document_loader({
        f"{E}a": {"status": 301, "headers": {"location": f"{E}b"}, "body": None},
        f"{E}b": {"status": 301, "headers": {"location": f"{E}a"}, "body": None}})
    with pytest.raises(JsonLdError, match="infinite redirection"):
        load(f"{E}a")


def test_loader_http_error_and_scheme_gating():
    load = static_document_loader({f"{E}gone": {"status": 404, "body": None}})
    with pytest.raises(JsonLdError) as e:
        load(f"{E}gone")
    assert e.value.code == "loading document failed"
    with pytest.raises(JsonLdError, match="only .http. and .https."):
        load("ftp://nope/x")
    secure = static_document_loader({}, secure=True)
    with pytest.raises(JsonLdError, match="secure mode"):
        secure(f"{E}x")


# ---------------------------------------------------------------- layer 3

def _both(oracle, op, documents, **kw):
    """Run op through the kernel (static loader over the same table)
    and the reference (documentLoader closure); return both results."""
    loader_table = {url: d["document"] for url, d in documents.items()}

    def py_loader(url):
        d = documents.get(url)
        if d is None:
            raise JsonLdError(
                f'URL "{url}" could not be dereferenced: Not Found',
                "jsonld.InvalidUrl", code="loading document failed")
        return {"contextUrl": d.get("contextUrl"),
                "documentUrl": d.get("documentUrl", url),
                "document": d["document"]}

    options = {"document_loader": py_loader}
    ref = oracle.call(op, documents=documents, **kw)
    if op == "expand":
        try:
            mine = kapi.expand(kw["doc"], options)
        except JsonLdError as err:
            return ("error", err.code), ref
    elif op == "frame":
        try:
            mine = kapi.frame(kw["doc"], kw["frame"], options)
        except JsonLdError as err:
            return ("error", err.code), ref
    else:  # pragma: no cover
        raise AssertionError(op)
    return mine, ref


def test_expand_by_url_matches_reference(oracle):
    documents = {
        f"{E}doc.jsonld": {"document": {
            "@context": {"name": V + "name"},
            "@id": f"{E}me", "name": "x"}}}
    mine, ref = _both(oracle, "expand", documents, doc=f"{E}doc.jsonld")
    assert ref["ok"], ref
    assert deep_eq(mine, ref["result"])


def test_expand_by_url_relative_ids_use_document_url_base(oracle):
    documents = {
        f"{E}doc.jsonld": {"document": {
            "@context": {"@vocab": V}, "@id": "relative-id", "p": "v"},
            "documentUrl": f"{E}sub/final.jsonld"}}
    mine, ref = _both(oracle, "expand", documents, doc=f"{E}doc.jsonld")
    assert ref["ok"], ref
    assert deep_eq(mine, ref["result"])


def test_expand_link_header_context_injection(oracle):
    documents = {
        f"{E}doc": {"document": {"name": "no context inline"},
                    "contextUrl": f"{E}ctx.jsonld"},
        f"{E}ctx.jsonld": {"document": {"@context": {"name": V + "name"}}}}
    mine, ref = _both(oracle, "expand", documents, doc=f"{E}doc")
    assert ref["ok"], ref
    assert deep_eq(mine, ref["result"])


def test_expand_remote_context_chain(oracle):
    documents = {
        f"{E}c1.jsonld": {"document": {"@context": [f"{E}c2.jsonld",
                                                    {"b": V + "b"}]}},
        f"{E}c2.jsonld": {"document": {"@context": {"a": V + "a"}}}}
    doc = {"@context": f"{E}c1.jsonld", "@id": f"{E}s", "a": "1", "b": "2"}
    options = {"document_loader": static_document_loader(
        {url: d["document"] for url, d in documents.items()})}
    mine = kapi.expand(doc, options)
    ref = oracle.call("expand", documents=documents, doc=doc)
    assert ref["ok"], ref
    assert deep_eq(mine, ref["result"])


def test_expand_cyclic_remote_context_error_code(oracle):
    documents = {
        f"{E}c1.jsonld": {"document": {"@context": f"{E}c2.jsonld"}},
        f"{E}c2.jsonld": {"document": {"@context": f"{E}c1.jsonld"}}}
    doc = {"@context": f"{E}c1.jsonld", "@id": f"{E}s"}
    mine, ref = _both(oracle, "expand", documents, doc=doc)
    assert not ref["ok"]
    assert mine[0] == "error" and mine[1] == ref["code"]


def test_expand_context_url_overflow_error_code(oracle):
    n = 13
    documents = {
        f"{E}c{i}.jsonld": {"document": {"@context": f"{E}c{i+1}.jsonld"}}
        for i in range(n)}
    documents[f"{E}c{n}.jsonld"] = {"document": {"@context": {"a": V + "a"}}}
    doc = {"@context": f"{E}c0.jsonld", "@id": f"{E}s", "a": "x"}
    mine, ref = _both(oracle, "expand", documents, doc=doc)
    assert not ref["ok"]
    assert mine[0] == "error" and mine[1] == ref["code"]


def test_frame_by_url_link_header_context(oracle):
    documents = {
        f"{E}frame.jsonld": {"document": {"@type": V + "Person"},
                             "contextUrl": f"{E}fctx.jsonld"},
        f"{E}fctx.jsonld": {"document": {"@context": {"name": V + "name"}}}}
    doc = {"@context": {"name": V + "name"},
           "@id": f"{E}p", "@type": V + "Person", "name": "A"}
    mine, ref = _both(oracle, "frame", documents,
                      doc=doc, frame=f"{E}frame.jsonld")
    assert ref["ok"], ref
    assert deep_eq(mine, ref["result"])


def test_link_api_matches_reference(oracle):
    doc = {"@context": {"@vocab": V, "knows": {"@type": "@id"}},
           "@graph": [
               {"@id": f"{E}a", "name": "A", "knows": f"{E}b"},
               {"@id": f"{E}b", "name": "B"}]}
    ref = oracle.call("link", doc=doc, ctx={"@vocab": V,
                                            "knows": {"@type": "@id"}})
    assert ref["ok"], ref
    mine = kapi.link(doc, {"@vocab": V, "knows": {"@type": "@id"}})
    # @link embeds by reference -> cycles; compare JSON-safe projection
    import json

    def safe(x, depth=0):
        if depth > 6:
            return "..."
        if isinstance(x, dict):
            return {k: safe(v, depth + 1) for k, v in sorted(x.items())}
        if isinstance(x, list):
            return [safe(v, depth + 1) for v in x]
        return x

    assert json.dumps(safe(mine), sort_keys=True) == \
        json.dumps(safe(ref["result"]), sort_keys=True)


def test_process_context_api_matches_reference(oracle):
    ctx = {"@vocab": V, "name": V + "name",
           "age": {"@id": V + "age", "@type": "http://www.w3.org/2001/XMLSchema#integer"}}
    ref = oracle.call("processContext", ctx=ctx)
    assert ref["ok"], ref
    mine = kapi.process_context_api(None, ctx)
    assert sorted(mine["mappings"].keys()) == ref["result"]["mappingKeys"]
    assert (mine.get("@vocab") or None) == ref["result"]["vocab"]


def test_get_context_value():
    ctx = kapi.process_context_api(
        None, {"@language": "en",
               "name": {"@id": V + "name", "@language": "de"}})
    assert kapi.get_context_value(ctx, "name", "@language") == "de"
    assert kapi.get_context_value(ctx, "other", "@language") == "en"
    assert kapi.get_context_value(ctx, None, "@language") is None
    entry = kapi.get_context_value(ctx, "name")
    assert entry and entry["@id"] == V + "name"


# ------------------------------------------------------- @import battery

IMPORT_CASES = {
    # imported terms merged; importing context's own members win
    "import_basic": (
        {f"{E}base.jsonld": {"document": {"@context": {
            "a": V + "a", "b": V + "b"}}}},
        {"@context": {"@version": 1.1, "@import": f"{E}base.jsonld",
                      "b": V + "b2"},
         "a": "x", "b": "y"}),
    # local term beats imported term
    "import_override_vocab": (
        {f"{E}base.jsonld": {"document": {"@context": {
            "@vocab": "http://imported.org/", "p": V + "p"}}}},
        {"@context": {"@version": 1.1, "@import": f"{E}base.jsonld",
                      "@vocab": V},
         "p": "v", "q": "w"}),
    # imported context itself carrying @import -> error
    "import_nested_import": (
        {f"{E}outer.jsonld": {"document": {"@context": {
            "@import": f"{E}inner.jsonld"}}},
         f"{E}inner.jsonld": {"document": {"@context": {"a": V + "a"}}}},
        {"@context": {"@version": 1.1, "@import": f"{E}outer.jsonld"},
         "a": "x"}),
    # @import value must be a string
    "import_non_string": (
        {},
        {"@context": {"@version": 1.1, "@import": {"a": V + "a"}}, "a": "x"}),
    # imported document must hold a context OBJECT (not an array)
    "import_array_context": (
        {f"{E}arr.jsonld": {"document": {"@context": [
            {"a": V + "a"}, {"b": V + "b"}]}}},
        {"@context": {"@version": 1.1, "@import": f"{E}arr.jsonld"},
         "a": "x"}),
    # imported protected terms stay protected through the merge
    "import_protected": (
        {f"{E}prot.jsonld": {"document": {"@context": {
            "@protected": True, "name": V + "name"}}}},
        [{"@context": {"@version": 1.1, "@import": f"{E}prot.jsonld"},
          "name": "v"},
         {"@context": [{"@version": 1.1, "@import": f"{E}prot.jsonld"},
                       {"name": V + "changed"}],
          "name": "v2"}]),
    # missing import target -> loading error
    "import_missing": (
        {},
        {"@context": {"@version": 1.1, "@import": f"{E}nope.jsonld"},
         "a": "x"}),
}


@pytest.mark.parametrize("name", IMPORT_CASES, ids=list(IMPORT_CASES))
def test_import_matches_reference(oracle, name):
    """@context @import (JSON-LD 1.1 §9.12; lib/context.js @import
    handling): merge semantics, nested-@import rejection, type and
    shape validation, protected-term propagation through the import."""
    documents, doc = IMPORT_CASES[name]
    mine, ref = _both(oracle, "expand", documents, doc=doc)
    if ref["ok"]:
        assert not (isinstance(mine, tuple) and mine[0] == "error"), \
            f"{name}: we errored {mine} but reference ok: {ref['result']}"
        assert deep_eq(mine, ref["result"]), \
            f"{name}: mine={mine} ref={ref['result']}"
    else:
        assert isinstance(mine, tuple) and mine[0] == "error", \
            f"{name}: reference errored ({ref['code']}) but we returned {mine}"
        assert mine[1] == ref["code"], f"{name}: {mine[1]} vs {ref['code']}"


def test_import_under_10_mode(oracle):
    """@import requires 1.1 processing mode."""
    documents = {f"{E}b.jsonld": {"document": {"@context": {"a": V + "a"}}}}
    doc = {"@context": {"@import": f"{E}b.jsonld"}, "a": "x"}
    loader_table = {url: d["document"] for url, d in documents.items()}

    def py_loader(url):
        d = documents.get(url)
        return {"contextUrl": None, "documentUrl": url,
                "document": d["document"]}

    ref = oracle.call("expand", documents=documents, doc=doc,
                      options={"processingMode": "json-ld-1.0"})
    try:
        mine = kapi.expand(doc, {"document_loader": py_loader,
                                 "processingMode": "json-ld-1.0"})
        assert ref["ok"], f"reference errored but we didn't: {ref}"
        assert deep_eq(mine, ref["result"])
    except JsonLdError as e:
        assert not ref["ok"], f"we errored ({e.code}) but reference ok: {ref}"
        assert e.code == ref["code"]
