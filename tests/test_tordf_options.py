"""toRDF option battery differential vs the real reference:
rdfDirection=i18n-datatype output, produceGeneralizedRdf, relative-IRI
drops, bnode graph names, native-number canonical forms under
@direction/@language combinations."""

import json

import pytest

from jsonld_js_spark.kernel import to_rdf as k_to_rdf
from jsonld_js_spark.kernel.errors import JsonLdError

from tests.ref_oracle.harness import ReferenceOracle, available

V = "http://vocab.org/"
E = "http://e.org/"


@pytest.fixture(scope="module")
def oracle():
    if not available():
        pytest.skip("node/reference absent")
    o = ReferenceOracle()
    yield o
    o.close()


DOCS = {
    "direction_value": {"@context": {"@vocab": V},
                        "@id": E + "s",
                        "p": {"@value": "t", "@language": "ar",
                              "@direction": "rtl"}},
    "direction_no_lang": {"@context": {"@vocab": V}, "@id": E + "s",
                          "p": {"@value": "t", "@direction": "ltr"}},
    "default_direction": {"@context": {"@vocab": V, "@direction": "rtl",
                                       "@language": "he"},
                          "@id": E + "s", "p": "shalom"},
    "bnode_predicate": {"@id": E + "s", "_:bp": "v"},
    "relative_subject": {"@context": {"@vocab": V}, "@id": "rel-subj",
                         "p": "v"},
    "relative_object_ref": {"@context": {"@vocab": V, "r": {"@type": "@id"}},
                            "@id": E + "s", "r": "rel-obj"},
    "relative_type": {"@context": {"@vocab": V}, "@id": E + "s",
                      "@type": "./RelType", "p": "v"},
    "bnode_graph": {"@context": {"@vocab": V},
                    "@graph": [{"@id": E + "in", "p": "v"}]},
    "numbers": {"@context": {"@vocab": V}, "@id": E + "s",
                "n": [0.5, -0.0, 1e300, 2, True]},
    "lists_mixed": {"@context": {"@vocab": V,
                                 "l": {"@id": V + "l", "@container": "@list"}},
                    "@id": E + "s", "l": [1, "a", {"@id": E + "o"}]},
}

OPTS = [
    {},
    {"rdfDirection": "i18n-datatype"},
    {"produceGeneralizedRdf": True},
]


@pytest.mark.parametrize("oi", range(len(OPTS)), ids=[f"o{i}" for i in range(len(OPTS))])
@pytest.mark.parametrize("name", DOCS, ids=list(DOCS))
def test_tordf_options_match_reference(oracle, name, oi):
    doc = DOCS[name]
    opts = OPTS[oi]
    ref = oracle.call("toRDF", doc=doc, options=opts)
    try:
        mine = k_to_rdf(doc, {"format": "application/n-quads", **opts})
        assert ref["ok"], f"reference errored but we didn't: {ref}"
        assert sorted(mine.strip().split("\n")) == \
            sorted(ref["result"].strip().split("\n")), (
            f"{name}/{opts}:\n mine={mine!r}\n ref={ref['result']!r}")
    except JsonLdError as e:
        assert not ref["ok"], f"we errored ({e.code}) but reference ok: {ref}"
