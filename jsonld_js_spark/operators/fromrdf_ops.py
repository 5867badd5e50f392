"""DataFrame-level fromRDF: triples table -> JSON-LD node documents.

The reference's fromRDF (lib/fromRdf.js:51-407) is a pass over a flat
quad array grouped by graph then subject, plus an rdf:first/rest
backwards walk from rdf:nil (:209-268) that folds well-formed,
referenced-once list chains into ``@list`` arrays.

Here BOTH halves are distributed — there is no single-task stage and
no per-graph Python group (a default-graph corpus previously funneled
everything through one executor and silently degraded to @id shells
past a row cap):

  1. per-subject assembly: ONE Catalyst hash aggregation
     ``groupBy(graph, subj).agg(collect_list(struct(...)))`` — the
     only full-corpus shuffle — followed by an Arrow-batched pandas
     UDF that builds each (small) node document;
  2. list reconstruction: the reference's backwards walk re-expressed
     as an ITERATIVE CHAIN SELF-JOIN over the list-node subset only
     (quads with rdf:first/rest/nil), so the number of Spark jobs
     scales with the longest list's LENGTH, never with corpus size,
     and each job touches only list-structure rows;
  3. nested lists (lists of lists — the reference gets these "for
     free" through object aliasing) resolve through a bottom-up
     substitution loop, one JVM-only pass per nesting level.

Scale notes: reference counting and well-formedness stats are computed
only for subjects that carry an rdf:rest quad (semi-join), so the walk
machinery's shuffles are proportional to the list subgraph, not the
corpus. Walker lineage is truncated per iteration with
localCheckpoint; on a real cluster with flaky executors switch to
``spark.sparkContext.setCheckpointDir`` + ``checkpoint()``.

Semantics matches kernel.fromrdf.from_rdf applied per graph (reference
parity is enforced there by differential tests incl. the raw N-Quads
list shapes in tests/test_fromrdf_lists.py; the operator is enforced
against the kernel by tests/test_io_fromrdf.py). Named graphs are
represented relationally — the ``graph`` column carries the graph name
instead of nesting an ``@graph`` array in the JSON.

One documented divergence from the in-memory kernel: two textually
different but JCS-equivalent rdf:JSON literals count as distinct
values for the rdf:first/rest single-value well-formedness check here
(the kernel compares parsed JSON); such a list node stays unfolded.

The companion ``referenced_once`` is exposed separately as a pure
DataFrame op — the groupBy/HAVING pattern of lib/fromRdf.js:129-139.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import constants as C

NODES_SCHEMA = "graph string, subj string, node_json string"

_QUAD_COLS = ["graph", "subj", "pred", "obj_kind", "obj_value",
              "obj_datatype", "obj_lang"]

_ACC_TYPE = "array<struct<node_id:string,value_json:string>>"


def _dumps(obj) -> str:
    """Canonical compact JSON — the uniqueness signature everywhere in
    this module (matches Spark's to_json compactness so JVM-built and
    Python-built signatures compare equal)."""
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


def referenced_once(triples: DataFrame) -> DataFrame:
    """IRI/bnode objects referenced exactly once per graph
    (lib/fromRdf.js:129-139 as groupBy + HAVING)."""
    return (triples.filter(F.col("obj_kind").isin("iri", "bnode"))
            .groupBy("graph", "obj_value")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") == 1)
            .select("graph", F.col("obj_value").alias("node_id")))


def _value_json(kind, value, datatype, lang, use_native_types: bool) -> str:
    """Row -> canonical compact JSON of its JSON-LD value object."""
    from ..kernel.fromrdf import _rdf_to_object

    if kind == "literal":
        term = {"termType": "Literal", "value": value,
                "datatype": {"value": datatype or C.XSD_STRING},
                "language": lang or ""}
    elif kind == "bnode":
        term = {"termType": "BlankNode", "value": value[2:]}
    else:
        term = {"termType": "NamedNode", "value": value}
    return _dumps(_rdf_to_object(term, use_native_types, None))


def _nn(v):
    """NaN/None -> None (Arrow batches deliver SQL NULL as NaN)."""
    return v if v == v and v is not None else None


def _first_json_udf(use_native_types: bool):
    @F.pandas_udf("string")
    def first_json(kind: pd.Series, value: pd.Series,
                   datatype: pd.Series, lang: pd.Series) -> pd.Series:
        return pd.Series([
            _value_json(k, v, _nn(d), _nn(g), use_native_types)
            for k, v, d, g in zip(kind, value, datatype, lang)])

    return first_json


def _list_links(t: DataFrame, use_native_types: bool) -> DataFrame:
    """Well-formed, referenced-once list nodes with their single
    rdf:first value and their unique referencer — the edge table the
    chain walk follows. Everything here is proportional to the list
    subgraph (subjects carrying an rdf:rest quad), not the corpus."""
    is_node_obj = F.col("obj_kind").isin("iri", "bnode")
    is_type = (F.col("pred") == C.RDF_TYPE) & is_node_obj
    is_first = F.col("pred") == C.RDF_FIRST
    is_rest = F.col("pred") == C.RDF_REST

    cand_ids = t.filter(is_rest).select("graph", "subj").distinct()
    cand_quads = t.join(cand_ids, ["graph", "subj"], "left_semi")

    # value signature for the single-value checks: a literal's datatype
    # normalizes to xsd:string exactly as the value-object mapping does
    sig = F.struct(
        F.col("obj_kind").alias("k"),
        F.col("obj_value").alias("v"),
        F.when(F.col("obj_kind") == "literal",
               F.coalesce(F.col("obj_datatype"), F.lit(C.XSD_STRING)))
         .alias("dt"),
        F.when(F.col("obj_kind") == "literal", F.col("obj_lang"))
         .alias("lg"))

    stats = (cand_quads.groupBy("graph", "subj").agg(
        F.size(F.collect_set(F.when(is_first, sig))).alias("n_first"),
        F.size(F.collect_set(F.when(is_rest, sig))).alias("n_rest"),
        F.size(F.collect_set(F.when(is_type, F.col("obj_value"))))
            .alias("n_type"),
        F.max(F.when(is_type, F.col("obj_value"))).alias("type_val"),
        F.count(F.when(~is_first & ~is_rest & ~is_type, F.lit(1)))
            .alias("n_other"),
        F.min(F.when(is_first,
                     F.struct("obj_kind", "obj_value", "obj_datatype",
                              "obj_lang"))).alias("first_term")))

    # well-formedness: exactly one rdf:first value, one rdf:rest value,
    # no other keys, @type absent or exactly rdf:List
    # (lib/fromRdf.js:229-242; no blank-node requirement — an IRI list
    # node is walkable at chain start)
    wf = stats.filter(
        (F.col("n_first") == 1) & (F.col("n_rest") == 1)
        & (F.col("n_other") == 0)
        & ((F.col("n_type") == 0)
           | ((F.col("n_type") == 1) & (F.col("type_val") == C.RDF_LIST))))

    # unique referencer: count ALL non-@type node-object references to
    # the candidate (duplicate quads count twice, as in the kernel)
    refs = (t.filter(is_node_obj & ~is_type)
            .join(wf.select("graph", F.col("subj").alias("obj_value")),
                  ["graph", "obj_value"], "left_semi")
            .groupBy("graph", "obj_value")
            .agg(F.count(F.lit(1)).alias("n_refs"),
                 F.min(F.struct("subj", "pred")).alias("ref")))

    fj = _first_json_udf(use_native_types)
    return (wf.join(refs.filter(F.col("n_refs") == 1)
                    .select("graph", F.col("obj_value").alias("subj"),
                            F.col("ref.subj").alias("ref_subj"),
                            F.col("ref.pred").alias("ref_pred")),
                    ["graph", "subj"], "inner")
            .select("graph", F.col("subj").alias("id"),
                    fj(F.col("first_term.obj_kind"),
                       F.col("first_term.obj_value"),
                       F.col("first_term.obj_datatype"),
                       F.col("first_term.obj_lang")).alias("first_json"),
                    "ref_subj", "ref_pred"))


def _walk_chains(t: DataFrame, links: DataFrame, max_chain_iterations: int):
    """The reference's backwards walk from rdf:nil as an iterative
    join: each iteration advances every active walker one hop through
    its unique referencer. Iteration count == longest chain; each
    iteration's join touches only active walkers x the links table.

    Returns (attachments, consumed): attachments (graph, subj, pred,
    replace_id, acc) mark where a folded @list replaces the value
    object {"@id": replace_id} under node.pred, with acc holding the
    pushed (node_id, first value) pairs in walk order (reversed = list
    order); consumed (graph, id) are list nodes absorbed into chains.
    """
    is_node_obj = F.col("obj_kind").isin("iri", "bnode")
    is_type = (F.col("pred") == C.RDF_TYPE) & is_node_obj

    # one walker per distinct quad referencing rdf:nil under a
    # non-@type predicate (duplicate quads collapse to one usage whose
    # mutation wins — same net output as the reference's aliased dicts)
    active = (t.filter(is_node_obj & (F.col("obj_value") == C.RDF_NIL)
                       & ~is_type)
              .select("graph", F.col("subj").alias("node"),
                      F.col("pred").alias("prop")).distinct()
              .withColumn("replace_id", F.lit(C.RDF_NIL))
              .withColumn("acc", F.expr("array()").cast(_ACC_TYPE)))

    if active.isEmpty():
        return None, None

    links = links.persist()
    lk = links.select(F.col("graph").alias("l_graph"),
                      F.col("id").alias("l_id"),
                      "first_json", "ref_subj", "ref_pred")
    finalized_parts = []
    consumed_parts = []
    k = 0
    while True:
        if k >= max_chain_iterations:
            raise RuntimeError(
                f"from_rdf_nodes: list chain exceeds {max_chain_iterations} "
                f"links; raise max_chain_iterations (no silent fallback)")
        j = active.join(lk, (active["graph"] == F.col("l_graph"))
                        & (active["node"] == F.col("l_id")), "left")
        # the walked node must be a blank node EXCEPT at walk start —
        # the reference only breaks on named nodes after a move
        # (lib/fromRdf.js:252-255)
        cont = ((F.col("prop") == C.RDF_REST) & F.col("l_id").isNotNull()
                & (F.lit(k == 0) | F.col("node").startswith("_:")))

        continued = (j.filter(cont).select(
            "graph",
            F.col("ref_subj").alias("node"),
            F.col("ref_pred").alias("prop"),
            F.col("l_id").alias("replace_id"),
            F.concat("acc", F.array(F.struct(
                F.col("l_id").alias("node_id"),
                F.col("first_json").alias("value_json")))).alias("acc"))
            .localCheckpoint())
        finalized_parts.append(
            j.filter(~cont)
            .select("graph", F.col("node").alias("subj"),
                    F.col("prop").alias("pred"), "replace_id", "acc")
            .localCheckpoint())
        consumed_parts.append(
            j.filter(cont).select("graph", F.col("node").alias("id"))
            .localCheckpoint())
        active = continued
        k += 1
        if active.isEmpty():
            break
    links.unpersist()

    attachments = finalized_parts[0]
    for p in finalized_parts[1:]:
        attachments = attachments.unionByName(p)
    consumed = consumed_parts[0]
    for p in consumed_parts[1:]:
        consumed = consumed.unionByName(p)
    return attachments, consumed.distinct()


def _acc_to_list_json(acc_col):
    """acc (walk order) -> JSON array text of the @list (JVM only):
    elements are already canonical JSON texts, so the array is a
    reversed comma-join."""
    return F.concat(
        F.lit("["),
        F.concat_ws(",", F.transform(F.reverse(acc_col),
                                     lambda e: e["value_json"])),
        F.lit("]"))


def _resolve_nested(attachments: DataFrame, consumed: DataFrame,
                    max_depth: int = 64) -> DataFrame:
    """Bottom-up substitution of nested lists. An attachment whose
    target node was itself consumed into a chain via rdf:first is an
    INNER list: the reference propagates it through object aliasing —
    here each pass materializes the innermost resolved lists and
    splices them into the acc elements that reference them, entirely
    with JVM expressions. Passes == nesting depth. Returns live
    attachments (graph, subj, pred, replace_id, list_json)."""
    a = attachments
    consumed_subj = consumed.withColumnRenamed("id", "subj")
    for _ in range(max_depth):
        inner = (a.filter(F.col("pred") == C.RDF_FIRST)
                 .join(consumed_subj, ["graph", "subj"], "left_semi"))
        if inner.isEmpty():
            break
        # resolvable now: inner attachments whose acc references no
        # other still-inner node (deepest nesting level first)
        inner_ids = inner.select("graph", F.col("subj").alias("node_id"))
        blocked = (inner.select("graph", "subj", F.explode("acc").alias("e"))
                   .select("graph", "subj",
                           F.col("e.node_id").alias("node_id"))
                   .join(inner_ids, ["graph", "node_id"], "left_semi")
                   .select("graph", "subj").distinct())
        ready = inner.join(blocked, ["graph", "subj"], "left_anti")
        if ready.isEmpty():
            # the remaining inner attachments form closed reference
            # cycles (e.g. mutual first/rest knots): every node involved
            # is consumed, so their folds are unreachable in the output
            # — the reference deletes the nodes and the circular aliased
            # dicts simply never serialize. Drop them.
            a = a.join(inner.select("graph", "subj", "pred", "replace_id"),
                       ["graph", "subj", "pred", "replace_id"], "left_anti")
            break
        resolved = ready.select(
            F.col("graph").alias("r_graph"),
            F.col("subj").alias("r_node_id"),
            F.to_json(F.struct(F.col("replace_id").alias("@id")))
             .alias("r_target_json"),
            F.concat(F.lit('{"@list":'), _acc_to_list_json(F.col("acc")),
                     F.lit("}")).alias("r_new_json"))

        remaining = a.join(ready.select("graph", "subj", "pred",
                                        "replace_id"),
                           ["graph", "subj", "pred", "replace_id"],
                           "left_anti")
        # splice: explode acc, rewrite matched elements, regroup in order
        ex = remaining.select(
            "graph", "subj", "pred", "replace_id",
            F.posexplode_outer("acc").alias("pos", "e"))
        ex = (ex.join(resolved,
                      (F.col("graph") == F.col("r_graph"))
                      & (F.col("e.node_id") == F.col("r_node_id"))
                      & (F.col("e.value_json") == F.col("r_target_json")),
                      "left")
              .select("graph", "subj", "pred", "replace_id", "pos",
                      F.when(F.col("r_new_json").isNotNull(),
                             F.struct(F.col("e.node_id").alias("node_id"),
                                      F.col("r_new_json").alias("value_json")))
                       .otherwise(F.col("e")).alias("e")))
        a = (ex.groupBy("graph", "subj", "pred", "replace_id")
             .agg(F.transform(
                 F.array_sort(F.collect_list(
                     F.when(F.col("pos").isNotNull(),
                            F.struct("pos", "e")))),
                 lambda s: s["e"]).alias("acc"))
             .localCheckpoint())
    else:
        raise RuntimeError(
            f"from_rdf_nodes: list nesting exceeds {max_depth} levels")

    return (a.join(consumed_subj, ["graph", "subj"], "left_anti")
            .select("graph", "subj", "pred", "replace_id",
                    _acc_to_list_json(F.col("acc")).alias("list_json")))


def from_rdf_nodes(triples: DataFrame, *, use_native_types: bool = False,
                   use_rdf_type: bool = False,
                   max_chain_iterations: int = 1000,
                   seq_col: str | None = None) -> DataFrame:
    """triples -> one row per (graph, subject) carrying the assembled
    expanded-JSON node object, fully distributed (see module doc).

    Value order inside a node is PARTITIONING-INVARIANT: the reference
    preserves input quad order, but a distributed DataFrame has no
    input order unless the caller supplies one — pass ``seq_col`` (an
    explicit input ordinal, e.g. the N-Quads reader's line number) to
    reproduce it. Without ``seq_col`` values sort canonically by quad
    content, so output is identical under any repartitioning/retry
    (SURVEY §4 deterministic-ordering discipline; the old
    monotonically_increasing_id ordering depended on partition
    layout)."""
    if seq_col is not None:
        t = triples.select(*_QUAD_COLS,
                           F.col(seq_col).cast("long").alias("seq"))
    else:
        t = triples.select(*_QUAD_COLS).withColumn(
            "seq", F.concat_ws(
                "\x1f", "pred", "obj_kind", "obj_value",
                F.coalesce("obj_datatype", F.lit("")),
                F.coalesce("obj_lang", F.lit(""))))

    links = _list_links(t, use_native_types)
    attachments, consumed = _walk_chains(t, links, max_chain_iterations)

    quad_struct = F.struct("seq", "pred", "obj_kind", "obj_value",
                           "obj_datatype", "obj_lang")
    assembled = (t.groupBy("graph", "subj")
                 .agg(F.collect_list(quad_struct).alias("qs")))
    if attachments is not None:
        live = _resolve_nested(attachments, consumed)
        atts = (live.groupBy("graph", "subj")
                .agg(F.collect_list(F.struct("pred", "replace_id",
                                             "list_json")).alias("atts")))
        assembled = (assembled
                     .join(atts, ["graph", "subj"], "left")
                     .join(consumed.withColumnRenamed("id", "subj"),
                           ["graph", "subj"], "left_anti"))
    else:
        assembled = assembled.withColumn(
            "atts", F.lit(None).cast(
                "array<struct<pred:string,replace_id:string,"
                "list_json:string>>"))

    unt = use_native_types
    urt = use_rdf_type

    @F.pandas_udf("string")
    def build_node(subj: pd.Series, qs: pd.Series,
                   atts_col: pd.Series) -> pd.Series:
        out = []
        for s, quads, att in zip(subj, qs, atts_col):
            node: dict = {"@id": s}
            seen: dict[str, set] = {}
            for q in sorted(quads, key=lambda q: q["seq"]):
                pred = q["pred"]
                is_node_obj = q["obj_kind"] in ("iri", "bnode")
                if pred == C.RDF_TYPE and is_node_obj and not urt:
                    arr = node.setdefault("@type", [])
                    if q["obj_value"] not in arr:
                        arr.append(q["obj_value"])
                    continue
                vj = _value_json(q["obj_kind"], q["obj_value"],
                                 _nn(q["obj_datatype"]), _nn(q["obj_lang"]),
                                 unt)
                sigs = seen.setdefault(pred, set())
                if vj not in sigs:
                    sigs.add(vj)
                    node.setdefault(pred, []).append(json.loads(vj))
            if att is not None and len(att):
                for a in att:
                    target = _dumps({"@id": a["replace_id"]})
                    arr = node.get(a["pred"], [])
                    for i, v in enumerate(arr):
                        if _dumps(v) == target:
                            arr[i] = {"@list": json.loads(a["list_json"])}
                            break
            out.append(json.dumps(node, sort_keys=True))
        return pd.Series(out)

    return assembled.select(
        "graph", "subj", build_node("subj", "qs", "atts").alias("node_json"))
