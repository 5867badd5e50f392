"""End-to-end Spark pipeline: transcripts -> triples.

Gates (BASELINE.md): triple P/R vs the hand-written expected quads of
every embedded suite document (canonize-then-compare per turn, the
reference's comparator semantics), and per-turn text equality under
stable (conv_id, turn_idx) ordering.
"""

import pytest

from jsonld_js_spark.kernel.canon import canonize as canon_quads
from jsonld_js_spark.kernel.nquads import parse as nq_parse
from jsonld_js_spark.kernel.tordf import rows_to_quads
from jsonld_js_spark.operators.pipeline import (
    extract_triples,
    nquad_lines,
    triples_only,
    turn_to_quads,
    warnings_only,
)
from jsonld_js_spark.sources.transcripts import (
    embedded_case,
    gen_conversation,
    synthesize_transcripts,
)

N_CONVS = 30
SEED = 42


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synthesize_transcripts(spark, N_CONVS, SEED).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def extracted(transcripts):
    df = extract_triples(transcripts).cache()
    df.count()
    return df


def test_synthesizer_deterministic(spark, transcripts):
    again = synthesize_transcripts(spark, N_CONVS, SEED)
    a = sorted(transcripts.collect())
    b = sorted(again.collect())
    assert a == b


def test_synthesizer_schema(transcripts):
    assert [f.name for f in transcripts.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert transcripts.count() == sum(
        len(gen_conversation(i, SEED)) for i in range(N_CONVS))


def test_every_turn_produces_triples(transcripts, extracted):
    turns = transcripts.count()
    triple_turns = (triples_only(extracted)
                    .select("conv_id", "turn_idx").distinct().count())
    assert triple_turns == turns


def test_no_warnings_on_clean_corpus(extracted):
    assert warnings_only(extracted).count() == 0


def test_per_turn_text_equality(spark, transcripts, extracted):
    """Envelope triples carry the text literal unchanged, keyed by
    stable (conv_id, turn_idx)."""
    from pyspark.sql import functions as F

    text_pred = "https://example.org/vocab#text"
    emitted = (triples_only(extracted)
               .filter(F.col("pred") == text_pred)
               .select("conv_id", "turn_idx",
                       F.col("obj_value").alias("emitted_text")))
    joined = (transcripts.join(emitted, ["conv_id", "turn_idx"], "inner")
              .filter(F.col("text") != F.col("emitted_text")))
    assert joined.count() == 0
    # all non-embedded turns are covered
    non_embedded = [
        (r["conv_id"], r["turn_idx"]) for r in transcripts.collect()
        if not (r["role"] == "assistant"
                and embedded_case(r["conv_id"], r["turn_idx"], SEED))]
    covered = {(r["conv_id"], r["turn_idx"]) for r in emitted.collect()}
    assert set(non_embedded) <= covered


def test_precision_recall_vs_expected(transcripts, extracted):
    """P/R >= 0.95 gate over embedded suite docs, canonize-then-compare
    per turn (tests/test.js:1157-1178 semantics)."""
    rows = triples_only(extracted).collect()
    by_turn: dict = {}
    for r in rows:
        by_turn.setdefault((r["conv_id"], r["turn_idx"]), []).append(
            (r["graph"], r["subj"], r["pred"], r["obj_kind"], r["obj_value"],
             r["obj_datatype"], r["obj_lang"]))

    tp = fp = fn = 0
    checked = 0
    for t in transcripts.collect():
        case = embedded_case(t["conv_id"], t["turn_idx"], SEED)
        if t["role"] != "assistant" or case is None:
            continue
        checked += 1
        _, expected_lines = case
        expected = set(canon_quads(nq_parse("".join(expected_lines)))
                       .strip().split("\n"))
        actual_rows = by_turn.get((t["conv_id"], t["turn_idx"]), [])
        actual = set(canon_quads(rows_to_quads(actual_rows)).strip().split("\n"))
        actual.discard("")
        expected.discard("")
        tp += len(actual & expected)
        fp += len(actual - expected)
        fn += len(expected - actual)
    assert checked > 5, "corpus must embed enough suite cases"
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    assert precision >= 0.95, f"precision {precision} (tp={tp} fp={fp})"
    assert recall >= 0.95, f"recall {recall} (tp={tp} fn={fn})"
    # we actually expect exact match
    assert precision == 1.0 and recall == 1.0


def test_bnode_labels_globally_unique(extracted):
    """Salted labels never collide across turns."""
    from pyspark.sql import functions as F

    df = triples_only(extracted)
    bnode_subjects = (df.filter(F.col("subj").startswith("_:"))
                      .select("conv_id", "turn_idx", "subj").distinct())
    per_label = (bnode_subjects.groupBy("subj")
                 .agg(F.countDistinct("conv_id", "turn_idx").alias("n"))
                 .filter(F.col("n") > 1))
    assert per_label.count() == 0


def test_canonicalize_mode(spark, transcripts):
    ext = extract_triples(transcripts.limit(50), canonicalize=True)
    tri = triples_only(ext)
    from pyspark.sql import functions as F
    bnodes = tri.filter(F.col("subj").startswith("_:c14n-"))
    # at least the list/bnode templates produce canonical labels
    assert tri.count() > 0


def test_options_reach_the_executors(spark):
    """extract_triples ships its options with the Python stage: a
    remote @context resolves through the driver-preloaded loader."""
    ctx = "https://example.org/contexts/person.jsonld"
    text = ('{"@context": "%s", "@id": "https://example.org/p/1", '
            '"name": "Ada"}' % ctx)
    tx = spark.createDataFrame(
        [("c", 0, "user", text, None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    loader = {ctx: {"@context": {"name": "http://schema.org/name"}}}
    ext = extract_triples(tx, options={"context_loader": loader})
    assert warnings_only(ext).count() == 0
    assert [(r["subj"], r["pred"], r["obj_value"])
            for r in triples_only(ext).collect()] == [
        ("https://example.org/p/1", "http://schema.org/name", "Ada")]
    # without the loader the same turn degrades to a warning row
    codes = [r["code"] for r in warnings_only(extract_triples(tx)).collect()]
    assert codes == ["loading remote context failed"]


def test_bad_kernel_option_fails_loudly(spark):
    """An option the kernel rejects raises an OptionsError when the
    extraction is built, on both extractors: in the workers it would
    turn every turn into zero quads and a warning row, or (a
    maxWorkFactor canon.py cannot use) kill the task with a TypeError."""
    from functools import partial

    from jsonld_js_spark.kernel.errors import JsonLdError
    from jsonld_js_spark.operators.pipeline import extract_triples_hybrid

    tx = spark.createDataFrame(
        [("c", 0, "user", "plain", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    bad = [("expansionMap", lambda info: None)] + [
        ("maxWorkFactor", v) for v in ("abc", True, -1, float("nan"), [3])]
    for extract in (extract_triples, extract_triples_hybrid,
                    partial(extract_triples_hybrid, canonicalize=True)):
        for name, value in bad:
            with pytest.raises(JsonLdError, match=name) as ei:
                extract(tx, options={name: value})
            assert ei.value.name == "jsonld.OptionsError"


def test_nquad_lines_match_kernel_serializer(transcripts, extracted):
    """The JVM-side N-Quads formatter must agree with the kernel's."""
    from jsonld_js_spark.kernel.nquads import serialize

    sample_rows = triples_only(extracted).limit(200)
    jvm_lines = sorted(r["nquad"] + "\n" for r in nquad_lines(sample_rows).collect())
    quads = rows_to_quads([
        (r["graph"], r["subj"], r["pred"], r["obj_kind"], r["obj_value"],
         r["obj_datatype"], r["obj_lang"]) for r in sample_rows.collect()])
    kernel_lines = sorted(serialize(quads, sort=False).splitlines(keepends=True))
    assert jvm_lines == kernel_lines


def test_turn_to_quads_driver_parity(transcripts, extracted):
    """Driver-side kernel call == distributed result for a sample."""
    sample = transcripts.limit(20).collect()
    rows = triples_only(extracted).collect()
    by_turn: dict = {}
    for r in rows:
        by_turn.setdefault((r["conv_id"], r["turn_idx"]), []).append(
            (r["graph"], r["subj"], r["pred"], r["obj_kind"], r["obj_value"],
             r["obj_datatype"], r["obj_lang"]))
    from jsonld_js_spark.kernel.tordf import quads_to_rows
    for t in sample:
        quads, events = turn_to_quads(
            t["conv_id"], t["turn_idx"], t["role"], t["text"], t["tool"], t["ts"])
        assert not events
        assert sorted(quads_to_rows(quads)) == sorted(
            by_turn.get((t["conv_id"], t["turn_idx"]), []))


def test_materialize_graph_iceberg_raises_without_catalog(spark, transcripts):
    """The Iceberg sink is gated on a configured catalog; without the
    iceberg-spark-runtime jar it must fail loudly with guidance (this
    sandbox has no Iceberg jars — the DataFrame-side plan is shared
    with the parquet twin)."""
    from jsonld_js_spark.operators.pipeline import (
        extract_triples,
        materialize_graph_iceberg,
        triples_only,
    )

    tri = triples_only(extract_triples(transcripts.limit(50)))
    with pytest.raises(RuntimeError, match="Iceberg sink unavailable"):
        materialize_graph_iceberg(tri, "nocatalog.db.triples", buckets=4)


def test_poison_doc_degrades_per_work_factor_and_completes_at_inf():
    """r5 VERDICT #5: one adversarial K6-clique document must degrade
    to (0 quads, 1 warning) under the default maxWorkFactor=3 —
    never stall the executor — and canonize fully (30 quads, salted
    c14n labels) when the bound is lifted."""
    from jsonld_js_spark.operators.pipeline import turn_to_quads
    from jsonld_js_spark.queries import _K6_POISON_DOC

    quads, events = turn_to_quads(
        "cpz", 0, "assistant", _K6_POISON_DOC, None, None,
        canonicalize=True)
    assert quads == []
    assert [e["code"] for e in events] == \
        ["canonicalization work factor exceeded"]

    quads, events = turn_to_quads(
        "cpz", 0, "assistant", _K6_POISON_DOC, None, None,
        canonicalize=True, options={"maxWorkFactor": float("inf")})
    assert len(quads) == 30 and events == []
    labels = {q["subject"]["value"] for q in quads}
    assert len(labels) == 6
    assert all(v.startswith("c14n-") for v in labels)


def test_deep_document_degrades_per_document():
    """r5: one pathologically nested document must never escape
    turn_to_quads as a RecursionError (task-kill -> retry storm ->
    job failure at 100 TB). Two regimes: a depth past the KERNEL's
    recursion limit but parseable as JSON degrades to a 'document
    depth exceeded' warning; a depth past the JSON parser's limit is
    structurally unparseable text and falls back to the envelope doc
    (same contract as invalid JSON)."""
    from jsonld_js_spark.operators.pipeline import turn_to_quads

    def deep(depth):
        return ('{"@context": {"n": "http://e/n"}, '
                + '"n": {' * depth
                + '"@id": "http://e/leaf"' + '}' * depth + '}')

    # WHICH regime a given depth lands in depends on the interpreter's
    # free stack at call time (json parser limit vs kernel limit) —
    # the CONTRACT is that every depth degrades per-document to one of
    # the two, never a RecursionError
    outcomes = set()
    for depth in (600, 5000, 20000):
        quads, events = turn_to_quads("cd", 0, "u", deep(depth), None, None)
        codes = [e["code"] for e in events]
        if quads == [] and codes == ["document depth exceeded"]:
            outcomes.add("warning")
        elif len(quads) == depth and events == []:
            # interpreter stack was deep enough: full processing (one
            # n-edge per level) is the best outcome of all
            outcomes.add("processed")
        elif len(quads) == 5 and events == []:
            outcomes.add("envelope")
            texts = [q["object"]["value"] for q in quads
                     if q["object"].get("termType") == "Literal"]
            assert any(v.startswith('{"@context"') for v in texts)
        else:
            raise AssertionError((depth, len(quads), codes))
    # depth 20000 is beyond any parser stack: the envelope path ran
    assert "envelope" in outcomes

    # a tool payload too deep for the parser is kept raw, as invalid
    # JSON is: the envelope's six triples, toolRaw among them
    tool = '{"args": ' + "[" * 100_000 + "]" * 100_000 + ', "name": "x"}'
    quads, events = turn_to_quads("cd", 1, "tool", "r", tool, None)
    assert events == [] and len(quads) == 6
    assert any(q["predicate"]["value"].endswith("#toolRaw")
               and q["object"]["value"] == tool for q in quads)
