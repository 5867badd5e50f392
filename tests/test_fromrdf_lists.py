"""Differential fromRDF list-reconstruction edge cases vs the real
reference (lib/fromRdf.js:209-268), driven by raw N-Quads datasets —
shapes kernel to_rdf never emits (IRI-subject list nodes, partial
chains, malformed links, direct rdf:nil references, shared tails).
"""

import pytest

from jsonld_js_spark.kernel.fromrdf import from_rdf as k_from_rdf
from jsonld_js_spark.kernel.nquads import parse as nq_parse

from tests.ref_oracle.harness import ReferenceOracle, available
from tests.test_differential import deep_eq

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
E = "http://e.org/"


def _nq(*lines):
    return "".join(line + " .\n" for line in lines)


CASES = {
    # the reference folds an IRI-subject list node at walk start (no
    # bnode requirement in the while condition)
    "iri_list_node": _nq(
        f'<{E}s> <{RDF}first> "a"',
        f'<{E}s> <{RDF}rest> <{RDF}nil>',
        f'<{E}x> <{E}p> <{E}s>'),
    # ...but an IRI node mid-chain stops the walk after one more step
    "iri_node_mid_chain": _nq(
        f'_:l1 <{RDF}first> "b"',
        f'_:l1 <{RDF}rest> <{RDF}nil>',
        f'<{E}m> <{RDF}first> "a"',
        f'<{E}m> <{RDF}rest> _:l1',
        f'<{E}x> <{E}p> <{E}m>'),
    "plain_bnode_chain": _nq(
        f'_:l0 <{RDF}first> "a"',
        f'_:l0 <{RDF}rest> _:l1',
        f'_:l1 <{RDF}first> "b"',
        f'_:l1 <{RDF}rest> <{RDF}nil>',
        f'<{E}x> <{E}p> _:l0'),
    # node referenced twice -> partial fold attaches at the break point
    "doubly_referenced_link": _nq(
        f'_:l0 <{RDF}first> "a"',
        f'_:l0 <{RDF}rest> _:l1',
        f'_:l1 <{RDF}first> "b"',
        f'_:l1 <{RDF}rest> <{RDF}nil>',
        f'<{E}x> <{E}p> _:l0',
        f'<{E}y> <{E}q> _:l0'),
    # direct object reference to rdf:nil under a data predicate
    "direct_nil_ref": _nq(f'<{E}x> <{E}p> <{RDF}nil>'),
    # rdf:rest pointing at nil from a node with extra properties
    "fat_list_node": _nq(
        f'_:l0 <{RDF}first> "a"',
        f'_:l0 <{RDF}rest> <{RDF}nil>',
        f'_:l0 <{E}extra> "x"',
        f'<{E}x> <{E}p> _:l0'),
    # @type rdf:List is permitted on a well-formed link
    "typed_list_node": _nq(
        f'_:l0 <{RDF}first> "a"',
        f'_:l0 <{RDF}rest> <{RDF}nil>',
        f'_:l0 <{RDF}type> <{RDF}List>',
        f'<{E}x> <{E}p> _:l0'),
    # any other @type breaks well-formedness
    "wrong_typed_list_node": _nq(
        f'_:l0 <{RDF}first> "a"',
        f'_:l0 <{RDF}rest> <{RDF}nil>',
        f'_:l0 <{RDF}type> <{E}Other>',
        f'<{E}x> <{E}p> _:l0'),
    # two distinct rdf:first values break well-formedness
    "double_first": _nq(
        f'_:l0 <{RDF}first> "a"',
        f'_:l0 <{RDF}first> "b"',
        f'_:l0 <{RDF}rest> <{RDF}nil>',
        f'<{E}x> <{E}p> _:l0'),
    # a literal rdf:rest on the walked node still counts as one value
    "literal_rest_elsewhere": _nq(
        f'_:l0 <{RDF}first> "a"',
        f'_:l0 <{RDF}rest> <{RDF}nil>',
        f'_:m <{RDF}first> "z"',
        f'_:m <{RDF}rest> "not-a-node"',
        f'<{E}x> <{E}p> _:l0',
        f'<{E}x> <{E}q> _:m'),
    # unreferenced list head (no usage entry for the head itself)
    "orphan_chain": _nq(
        f'_:l0 <{RDF}first> "a"',
        f'_:l0 <{RDF}rest> <{RDF}nil>'),
    # rest-chain that never reaches nil stays raw
    "dangling_chain": _nq(
        f'_:l0 <{RDF}first> "a"',
        f'_:l0 <{RDF}rest> _:l1',
        f'_:l1 <{RDF}first> "b"',
        f'_:l1 <{RDF}rest> _:gone',
        f'<{E}x> <{E}p> _:l0'),
    # two chains sharing a tail: tail referenced twice -> partial folds
    "shared_tail": _nq(
        f'_:t <{RDF}first> "t"',
        f'_:t <{RDF}rest> <{RDF}nil>',
        f'_:a <{RDF}first> "a"',
        f'_:a <{RDF}rest> _:t',
        f'_:b <{RDF}first> "b"',
        f'_:b <{RDF}rest> _:t',
        f'<{E}x> <{E}p> _:a',
        f'<{E}x> <{E}q> _:b'),
    # mutual first/rest references (the backward walk exits via first)
    "first_rest_knot": _nq(
        f'_:n0 <{RDF}first> _:n1',
        f'_:n0 <{RDF}rest> <{RDF}nil>',
        f'_:n1 <{RDF}first> "x"',
        f'_:n1 <{RDF}rest> _:n0'),
    # a longer chain exercising multiple walk steps
    "chain_of_five": _nq(*(
        [f'_:l{i} <{RDF}first> "v{i}"' for i in range(5)]
        + [f'_:l{i} <{RDF}rest> _:l{i+1}' for i in range(4)]
        + [f'_:l4 <{RDF}rest> <{RDF}nil>', f'<{E}x> <{E}p> _:l0'])),
    # named-graph list: reconstruction is per graph
    "list_in_named_graph": _nq(
        f'_:l0 <{RDF}first> "a" <{E}g>',
        f'_:l0 <{RDF}rest> <{RDF}nil> <{E}g>',
        f'<{E}x> <{E}p> _:l0 <{E}g>'),
    # nested list [["a"], "b"] — the reference resolves the inner
    # @list through object aliasing of the pushed rdf:first value
    "nested_list": _nq(
        f'_:i0 <{RDF}first> "a"',
        f'_:i0 <{RDF}rest> <{RDF}nil>',
        f'_:l0 <{RDF}first> _:i0',
        f'_:l0 <{RDF}rest> _:l1',
        f'_:l1 <{RDF}first> "b"',
        f'_:l1 <{RDF}rest> <{RDF}nil>',
        f'<{E}x> <{E}p> _:l0'),
    # triple nesting [[["z"]]]
    "triple_nested_list": _nq(
        f'_:a <{RDF}first> "z"',
        f'_:a <{RDF}rest> <{RDF}nil>',
        f'_:b <{RDF}first> _:a',
        f'_:b <{RDF}rest> <{RDF}nil>',
        f'_:c <{RDF}first> _:b',
        f'_:c <{RDF}rest> <{RDF}nil>',
        f'<{E}x> <{E}p> _:c'),
    # empty inner list: rdf:first pointing at rdf:nil inside a chain
    "inner_empty_list": _nq(
        f'_:l0 <{RDF}first> <{RDF}nil>',
        f'_:l0 <{RDF}rest> <{RDF}nil>',
        f'<{E}x> <{E}p> _:l0'),
    # two sibling nested lists in one outer chain
    "sibling_nested_lists": _nq(
        f'_:i0 <{RDF}first> "a"',
        f'_:i0 <{RDF}rest> <{RDF}nil>',
        f'_:i1 <{RDF}first> "b"',
        f'_:i1 <{RDF}rest> <{RDF}nil>',
        f'_:l0 <{RDF}first> _:i0',
        f'_:l0 <{RDF}rest> _:l1',
        f'_:l1 <{RDF}first> _:i1',
        f'_:l1 <{RDF}rest> <{RDF}nil>',
        f'<{E}x> <{E}p> _:l0'),
    # inner list node referenced twice -> inner stays raw, outer folds
    "nested_inner_shared": _nq(
        f'_:i0 <{RDF}first> "a"',
        f'_:i0 <{RDF}rest> <{RDF}nil>',
        f'_:l0 <{RDF}first> _:i0',
        f'_:l0 <{RDF}rest> <{RDF}nil>',
        f'<{E}x> <{E}p> _:l0',
        f'<{E}y> <{E}q> _:i0'),
    # mixed graphs: same bnode label used in default and named graph
    "same_label_two_graphs": _nq(
        f'_:l0 <{RDF}first> "a"',
        f'_:l0 <{RDF}rest> <{RDF}nil>',
        f'<{E}x> <{E}p> _:l0',
        f'_:l0 <{RDF}first> "b" <{E}g>',
        f'_:l0 <{RDF}rest> <{RDF}nil> <{E}g>',
        f'<{E}y> <{E}q> _:l0 <{E}g>'),
}


@pytest.fixture(scope="module")
def oracle():
    if not available():
        pytest.skip("node/reference absent")
    o = ReferenceOracle()
    yield o
    o.close()


@pytest.mark.parametrize("name", CASES, ids=list(CASES))
def test_list_reconstruction_matches_reference(oracle, name):
    quads = nq_parse(CASES[name])
    # identical datasets both sides — the kernel replicates the
    # reference's raw-value graph/predicate reads (lib/fromRdf.js:80,93)
    ref = oracle.call("fromRDF", dataset=quads)
    assert ref["ok"], ref
    mine = k_from_rdf(quads)
    assert deep_eq(mine, ref["result"]), (
        f"{name}:\n mine={mine}\n ref={ref['result']}")


XSD = "http://www.w3.org/2001/XMLSchema#"
I18N = "https://www.w3.org/ns/i18n#"

LITERAL_CASES = {
    "int_canonical": f'<{E}s> <{E}p> "42"^^<{XSD}integer>',
    "int_leading_zeros": f'<{E}s> <{E}p> "007"^^<{XSD}integer>',
    "int_plus_sign": f'<{E}s> <{E}p> "+7"^^<{XSD}integer>',
    "int_negative": f'<{E}s> <{E}p> "-13"^^<{XSD}integer>',
    "int_garbage": f'<{E}s> <{E}p> "4x2"^^<{XSD}integer>',
    "double_canonical": f'<{E}s> <{E}p> "4.2E0"^^<{XSD}double>',
    "double_plain": f'<{E}s> <{E}p> "4.25"^^<{XSD}double>',
    "double_int_valued": f'<{E}s> <{E}p> "5"^^<{XSD}double>',
    "double_exp": f'<{E}s> <{E}p> "1e21"^^<{XSD}double>',
    "double_inf": f'<{E}s> <{E}p> "INF"^^<{XSD}double>',
    "double_nan": f'<{E}s> <{E}p> "NaN"^^<{XSD}double>',
    "bool_true": f'<{E}s> <{E}p> "true"^^<{XSD}boolean>',
    "bool_one": f'<{E}s> <{E}p> "1"^^<{XSD}boolean>',
    "bool_garbage": f'<{E}s> <{E}p> "yes"^^<{XSD}boolean>',
    "string_typed": f'<{E}s> <{E}p> "plain"^^<{XSD}string>',
    "custom_type": f'<{E}s> <{E}p> "v"^^<{E}Custom>',
    "lang_tag": f'<{E}s> <{E}p> "hallo"@de',
    "json_literal":
        f'<{E}s> <{E}p> "{{\\"b\\":1,\\"a\\":[true,null]}}"'
        f'^^<http://www.w3.org/1999/02/22-rdf-syntax-ns#JSON>',
    "i18n_ltr": f'<{E}s> <{E}p> "text"^^<{I18N}en_ltr>',
    "i18n_no_lang": f'<{E}s> <{E}p> "text"^^<{I18N}_rtl>',
    "i18n_wrong_shape": f'<{E}s> <{E}p> "text"^^<{I18N}en>',
}

OPTION_SETS = [
    {},
    {"useNativeTypes": True},
    {"rdfDirection": "i18n-datatype"},
    {"useNativeTypes": True, "rdfDirection": "i18n-datatype"},
    {"useRdfType": True},
]


@pytest.mark.parametrize("opts_i", range(len(OPTION_SETS)),
                         ids=[f"o{i}" for i in range(len(OPTION_SETS))])
@pytest.mark.parametrize("name", LITERAL_CASES, ids=list(LITERAL_CASES))
def test_fromrdf_literal_options_match_reference(oracle, name, opts_i):
    """Literal conversion rules across useNativeTypes / rdfDirection /
    useRdfType (lib/fromRdf.js:305-407) — per-option differential."""
    opts = OPTION_SETS[opts_i]
    quads = nq_parse(LITERAL_CASES[name] + " .\n")
    ref = oracle.call("fromRDF", dataset=quads, options=opts)
    assert ref["ok"], ref
    mine = k_from_rdf(quads, **{
        "use_native_types": opts.get("useNativeTypes", False),
        "rdf_direction": opts.get("rdfDirection"),
        "use_rdf_type": opts.get("useRdfType", False)})
    assert deep_eq(mine, ref["result"]), (
        f"{name}/{opts}:\n mine={mine}\n ref={ref['result']}")
