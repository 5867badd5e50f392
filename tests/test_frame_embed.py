"""Differential coverage of frame @embed edge values vs the real
reference: legacy @first/@last (1.0-only; errors in 1.1), boolean
coercion (true->@once, false->@never), and invalid values."""

import pytest

from jsonld_js_spark.kernel import frame as k_frame_mod  # noqa: F401
from jsonld_js_spark.kernel.api import frame as k_frame
from jsonld_js_spark.kernel.errors import JsonLdError
from jsonld_js_spark.kernel.frame import _js_truthy

from tests.ref_oracle.harness import ReferenceOracle
from tests.test_differential import deep_eq

V = "http://vocab.test/v#"
E = "http://e.test/"


@pytest.fixture(scope="module")
def oracle():
    o = ReferenceOracle()
    yield o
    o.close()


DOC = {
    "@context": {"@vocab": V, "ref": {"@type": "@id"}},
    "@graph": [
        {"@id": E + "a", "@type": "T", "name": "A", "ref": E + "shared"},
        {"@id": E + "b", "@type": "T", "name": "B", "ref": E + "shared"},
        {"@id": E + "shared", "name": "S"},
    ],
}


def _run_both(oracle, frame, options=None):
    options = options or {}
    ref = oracle.call("frame", doc=DOC, frame=frame, options=options)
    try:
        mine = k_frame(DOC, frame, dict(options))
        return mine, ref
    except JsonLdError as e:
        return ("error", e.code), ref


@pytest.mark.parametrize("embed", ["@once", "@always", "@never", True, False])
def test_embed_values_match_reference(oracle, embed):
    frame = {"@context": {"@vocab": V, "ref": {"@type": "@id"}},
             "@type": "T", "@embed": embed}
    mine, ref = _run_both(oracle, frame)
    assert ref["ok"], ref
    assert deep_eq(mine, ref["result"]), f"embed={embed}"


# Reference quirk: lib/frame.js:130 intends to reject @first/@last in
# 1.1 mode but reads `state.is11` (never set — the flag lives on
# `options`), so the reference accepts them in EVERY mode. We replicate.
@pytest.mark.parametrize("embed", ["@first", "@last"])
@pytest.mark.parametrize("mode", [None, "json-ld-1.0", "json-ld-1.1"])
def test_legacy_embed_accepted_all_modes(oracle, embed, mode):
    frame = {"@context": {"@vocab": V, "ref": {"@type": "@id"}},
             "@type": "T", "@embed": embed}
    options = {} if mode is None else {"processingMode": mode}
    mine, ref = _run_both(oracle, frame, options)
    assert ref["ok"], f"{embed}/{mode}: {ref}"
    assert deep_eq(mine, ref["result"]), f"embed={embed} mode={mode}"


def test_invalid_embed_value_error(oracle):
    frame = {"@context": {"@vocab": V}, "@type": "T", "@embed": "@bogus"}
    mine, ref = _run_both(oracle, frame)
    assert not ref["ok"]
    assert mine[0] == "error" and mine[1] == ref["code"]


def test_embed_option_rather_than_keyword(oracle):
    frame = {"@context": {"@vocab": V, "ref": {"@type": "@id"}}, "@type": "T"}
    for embed in ("@never", "@always"):
        mine, ref = _run_both(oracle, frame, {"embed": embed})
        assert ref["ok"], ref
        assert deep_eq(mine, ref["result"]), f"option embed={embed}"


DOC2 = {
    "@context": {"@vocab": V, "p": {"@type": "@id"}, "q": {"@type": "@id"}},
    "@id": E + "root", "@type": "T",
    "p": E + "shared", "q": E + "shared",
}


@pytest.mark.parametrize("embed", ["@first", "@last", "@once", "@always"])
def test_embed_divergence_double_reference(oracle, embed):
    """p and q both reference the same node inside ONE top-level match:
    @first keeps the embed under the first property, @last moves it to
    the last — the modes genuinely diverge here."""
    frame = {"@context": {"@vocab": V, "p": {"@type": "@id"},
                          "q": {"@type": "@id"}},
             "@type": "T", "@embed": embed}
    ref = oracle.call("frame", doc=DOC2, frame=frame, options={})
    assert ref["ok"], ref
    mine = k_frame(DOC2, frame, {})
    assert deep_eq(mine, ref["result"]), f"embed={embed}"


@pytest.mark.parametrize("value,truthy", [
    (0, False), (-0.0, False), (float("nan"), False), ("", False),
    (None, False), (False, False), ([], True), ({}, True),
])
def test_js_truthy_matches_js_boolean(value, truthy):
    """Boolean(v) in JS: the frame cleanup and @value matching filter
    with it (lib/frame.js)."""
    assert _js_truthy(value) is truthy
