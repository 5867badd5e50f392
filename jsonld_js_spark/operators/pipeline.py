"""The flagship pipeline: transcripts -> triples, fused in ONE Arrow stage.

Two extractors, one served path: ``extract_triples_hybrid`` is what
every caller runs (the declared queries, ``plans.lineage``,
``streaming.incremental``, ``bench.py``); ``extract_triples`` sends every
turn through the kernel and is kept as the oracle the hybrid is tested
against.

Stage plan (SURVEY §3.1):
  stage 1 (narrow, no shuffle): read transcripts -> one scalar Arrow
    UDF, ``kernel_rows``, running parse -> context -> expand -> nodeMap
    -> toRDF (and optionally RDFC-1.0 canonicalization) per turn,
    entirely inside Arrow batches -> one Generate exploding its per-turn
    arrays; the hybrid computes its route once per turn and explodes
    either the kernel's rows or the JVM-built envelope rows;
  stage 2 (the only shuffle): repartition by subject hash, dedupe,
    write.

The reference materializes each intermediate representation
(lib/jsonld.js:697 -> lib/toRdf.js:53); we never do — Python<->JVM
crossings dominate at scale, so the whole per-document path is one
Python call per Arrow record batch (SURVEY §4 item 1).

Blank-node labels are salted per turn (`_:b<hash(conv,turn)>-<n>`) so
labels are dataset-unique without any cross-document coordination —
the reference's own multi-document strategy (lib/jsonld.js:804-808).
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import nquad_term
from ..kernel.api import _prepare as k_prepare, expand as k_expand
from ..kernel.canon import PoisonedDatasetError, canonical_id_map, relabel_quads
from ..kernel.errors import JsonLdError
from ..kernel.nodemap import IdentifierIssuer
from ..kernel.tordf import quads_to_rows, to_rdf as k_to_rdf
from ..sources.transcripts import TOOL_CONTEXT, TRANSCRIPT_CONTEXT, turn_subject

TRIPLE_SCHEMA = (
    "conv_id string, turn_idx int, kind string, graph string, subj string, "
    "pred string, obj_kind string, obj_value string, obj_datatype string, "
    "obj_lang string"
)

V = "https://example.org/vocab#"


def _doc_salt(conv_id: str, turn_idx: int) -> str:
    """Collision-free per-turn blank-node salt.

    The turn index is embedded structurally (two turns of one
    conversation can never collide) and the conversation component is
    the FULL sha256 digest, so a cross-conversation collision requires
    a sha256 collision — negligible at 10^12 turns (a truncated 40-bit
    salt collides with ~2% probability at just 200k documents)."""
    return f"{hashlib.sha256(conv_id.encode()).hexdigest()}-{turn_idx}"


def _reject_json_constant(tok: str):
    """JSON.parse strictness for document/tool text: Python's
    json.loads accepts NaN/Infinity/-Infinity, the reference's
    JSON.parse does not. Texts carrying those tokens must not parse as
    documents here either: they fall back to the envelope / toolRaw
    like any other invalid JSON (probe: tests/test_hybrid.py)."""
    raise ValueError(f"non-standard JSON token {tok!r}")


# module-level: json.loads() with a parse hook constructs a fresh
# JSONDecoder per call; this is the per-turn hot path
_STRICT_JSON = json.JSONDecoder(parse_constant=_reject_json_constant)


def _parse_doc_text(text: str):
    """The one judge of document and tool text, on both extractors."""
    return _STRICT_JSON.decode(text)


def looks_like_jsonld(text: str) -> bool:
    if not text:
        return False
    t = text.lstrip()
    return t[:1] in "{[" and ("@context" in t or "@id" in t or "@graph" in t
                              or "@type" in t or '"@value"' in t)


def envelope_doc(conv_id: str, turn_idx: int, role: str, text: str,
                 tool: str | None, ts) -> dict:
    """Turn metadata as a JSON-LD document under TRANSCRIPT_CONTEXT.

    Carries the text literal unchanged -> per-turn text equality under
    (conv_id, turn_idx) ordering (BASELINE.json input_hint invariant).
    """
    doc = {
        "@context": TRANSCRIPT_CONTEXT,
        "@id": turn_subject(conv_id, turn_idx),
        "@type": "Turn",
        "conv": f"https://example.org/conv/{conv_id}",
        "turnIndex": turn_idx,
        "role": role,
        "text": text if text is not None else "",
    }
    # a null timestamp from a pandas frame is NaT (NaT != NaT)
    if ts is not None and ts == ts:
        doc["ts"] = ts.isoformat() if hasattr(ts, "isoformat") else str(ts)
    if role is None:
        del doc["role"]
    if tool:
        try:
            payload = _parse_doc_text(tool)
            name = payload.get("name", "unknown")
            doc["invokes"] = f"https://example.org/tool/{name}"
            if "args" in payload:
                doc["toolArgs"] = {"@value": payload["args"], "@type": "@json"}
        except (ValueError, AttributeError, RecursionError):
            # too deep for the parser: as unparseable as invalid JSON
            doc["toolRaw"] = tool
    return doc


def turn_to_quads(conv_id: str, turn_idx: int, role: str, text: str,
                  tool: str | None, ts, *, canonicalize: bool = False,
                  options: dict | None = None):
    """One turn -> (quads, events). Pure function; used by the Arrow
    stage AND by driver-side tests (same kernel both places)."""
    events: list[dict] = []
    opts = {**(options or {}), "events": events}
    salt = _doc_salt(conv_id, turn_idx)

    doc = None
    if looks_like_jsonld(text):
        try:
            doc = _parse_doc_text(text)
        except (ValueError, RecursionError):
            # a structurally-too-deep text is as unparseable as invalid
            # JSON: fall back to the envelope doc, never the executor
            pass
    if doc is None:
        doc = envelope_doc(conv_id, turn_idx, role, text, tool, ts)

    try:
        expanded = k_expand(doc, opts)
        issuer = IdentifierIssuer(f"_:b{salt}-")
        quads = k_to_rdf(expanded, {**opts, "issuer": issuer})
        if canonicalize:
            try:
                id_map = canonical_id_map(
                    quads, max_work_factor=opts.get("maxWorkFactor", 3))
            except PoisonedDatasetError as e:
                events.append({"code": "canonicalization work factor exceeded",
                               "level": "warning", "message": str(e)})
                return [], events
            # namespace canonical labels per document (SURVEY §2.9)
            if id_map:
                quads = relabel_quads(quads, {
                    old: f"c14n-{salt}-{new[4:]}" for old, new in id_map.items()})
    except JsonLdError as e:
        events.append({"code": e.code or e.name, "level": "error",
                       "message": e.message})
        return [], events
    except RecursionError:
        # the 100-TB failure mode's sibling to the canonize work
        # factor: ONE pathologically deep document (a parsed JSON tree
        # deeper than the interpreter stack) must degrade to a
        # per-document warning, not kill the task (and, after retries,
        # the job). The reference crashes outright here (RangeError:
        # call stack) — resilience is engine-side by design.
        events.append({"code": "document depth exceeded",
                       "level": "error",
                       "message": "document nesting exceeds the "
                                  "processing depth limit"})
        return [], events
    except ValueError as e:
        # same resilience contract for the one ValueError reachable
        # from document content on this path: RFC 8785 refuses
        # NaN/Infinity in rdf:JSON literals (kernel/jcs.py — the
        # reference's canonicalize throws identically), and Python's
        # json.loads, unlike JSON.parse, ACCEPTS those tokens — so a
        # single {"@type": "@json"} value holding NaN must degrade to
        # a per-document error row, not a task-kill-retry storm.
        events.append({"code": "invalid JSON literal",
                       "level": "error", "message": str(e)})
        return [], events
    return quads, events


# kernel_rows' array element: the TRIPLE_SCHEMA fields after
# (conv_id, turn_idx), all strings
_ROW_FIELDS = tuple(f.split()[0] for f in TRIPLE_SCHEMA.split(", ")[2:])
_TURN_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

# the one row of a turn whose conv_id or turn_idx is NULL: a warning
# with every triple field NULL, as the kernel's warning rows have
_MISSING_KEY_ROWS = (
    "array(named_struct('kind', 'warning', 'graph', {n}, 'subj', {n}, "
    "'pred', {n}, 'obj_kind', {n}, 'obj_value', 'missing turn key', "
    "'obj_datatype', 'conv_id or turn_idx is NULL', 'obj_lang', {n}))"
).format(n="CAST(NULL AS STRING)")


def _kernel_rows(*, canonicalize: bool, options: dict | None):
    """Both extractors' one Python entry point: the scalar Arrow UDF
    ``kernel_rows(conv_id, turn_idx, role, text, tool, ts)``, the rows
    of ``turn_to_quads`` per turn as ``array<struct<_ROW_FIELDS>>``, NULL
    where ``conv_id`` or ``turn_idx`` is NULL. A bad option raises here,
    on the driver, not as a warning row per turn in the workers."""
    import pyarrow as pa
    import pyarrow.compute as pc

    k_prepare(options)
    # captured in the closure: PySpark broadcasts a pickled command over
    # 1 MB itself, so a large context_loader still travels once
    opts = dict(options or {})

    def kernel_rows(conv_id, turn_idx, role, text, tool, ts):
        if pa.types.is_timestamp(ts.type) and ts.type.tz is not None:
            # session-local wall time, as Spark's pandas conversion gives
            ts = pc.local_timestamp(ts)
        # quads_to_rows' tuples are transposed once per batch (C-level
        # zip): cheaper than eight appends per row on the hot path
        kinds, rows, offsets, nulls = [], [], [0], []
        for turn in zip(conv_id.to_pylist(), turn_idx.to_pylist(),
                        role.to_pylist(), text.to_pylist(),
                        tool.to_pylist(), ts.to_pylist()):
            keyless = turn[0] is None or turn[1] is None
            nulls.append(keyless)
            if not keyless:
                quads, events = turn_to_quads(
                    *turn, canonicalize=canonicalize, options=opts)
                triples = quads_to_rows(quads)
                rows += triples
                rows += [(None, None, None, None, e["code"], e.get("message"),
                          None) for e in events]
                kinds += ["triple"] * len(triples) + ["warning"] * len(events)
            offsets.append(len(rows))
        out = [kinds, *(zip(*rows) if rows else [()] * 7)]
        values = pa.StructArray.from_arrays(
            [pa.array(c, pa.string()) for c in out], names=_ROW_FIELDS)
        return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                        values, mask=pa.array(nulls))

    return F.arrow_udf(kernel_rows, "array<struct<{}>>".format(
        ", ".join(f"{f}: string" for f in _ROW_FIELDS)))


def _extracted(turns: DataFrame, rows) -> DataFrame:
    """(conv_id, turn_idx, one array of row structs per turn) ->
    TRIPLE_SCHEMA rows. A turn without a key gets one warning row and
    no triples on either extractor, whatever its route."""
    keyless = F.col("conv_id").isNull() | F.col("turn_idx").isNull()
    rows = F.when(keyless, F.expr(_MISSING_KEY_ROWS)).otherwise(rows)
    return (turns.select("conv_id", "turn_idx", F.explode(rows).alias("r"))
            .filter(F.col("r").isNotNull())
            .select(F.col("conv_id").cast("string").alias("conv_id"),
                    F.col("turn_idx").cast("int").alias("turn_idx"), "r.*"))


def extract_triples(transcripts: DataFrame, *, canonicalize: bool = False,
                    options: dict | None = None) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> long
    rows DataFrame (TRIPLE_SCHEMA): kind='triple' rows carry the quad
    columns; kind='warning' rows carry (obj_value=code,
    obj_datatype=message) — the warnings column of SURVEY §2.10 in
    long form, filterable without a second pass.

    Every turn crosses into the kernel through one scalar Arrow UDF,
    whose per-turn arrays one Generate explodes. The oracle of
    ``extract_triples_hybrid``, which every caller runs: tests and the
    benchmark compare the two.
    """
    kernel_rows = _kernel_rows(canonicalize=canonicalize, options=options)
    return _extracted(transcripts, kernel_rows(*_TURN_COLS))


_XSD = "http://www.w3.org/2001/XMLSchema#"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_RDF_JSON = "http://www.w3.org/1999/02/22-rdf-syntax-ns#JSON"

# JVM twin of looks_like_jsonld()'s shape check
_JSONLD_SHAPE = r'^\s*[\[{]'

# JCS-safe flat tool payload: the exact textual form
# json.dumps({"name": ..., "args": {...}}, sort_keys=True) emits for a
# flat string->string args object, restricted to characters that
# serialize identically under JSON and RFC 8785 (printable ASCII minus
# '"', '\\', '{', '}').  For a payload matching this grammar the
# kernel's expand->toRDF output is exactly two extra triples beyond the
# envelope — the invokes IRI and an rdf:JSON literal whose value is the
# JCS of args — both reproducible in pure column algebra.  Anything
# else (numbers, booleans, nesting, escapes, non-ASCII, other spacings,
# a missing member) still routes to the Python kernel, so the fast path
# can never diverge: it only accepts inputs whose kernel output it
# provably reproduces byte-for-byte (parity battery: tests/test_hybrid.py).
_TOOL_SAFE = r' !#-\[\]-z|~'
_TOOL_SIMPLE_RE = (
    r'^\{"args": \{(("[%(c)s]*": "[%(c)s]*")(, "[%(c)s]*": "[%(c)s]*")*)?\}, '
    r'"name": "[A-Za-z0-9_.-]+"\}$' % {"c": _TOOL_SAFE})


def _tool_fast_cols():
    """(simple?, name, jcs_of_args) for the JVM tool fast path.

    ``simple`` accepts a payload in _TOOL_SIMPLE_RE whose keys are
    strictly ascending; every such payload is valid JSON of any length,
    so the kernel's parser reads it as a tool call too. The rlike comes
    first, so the key extraction only runs on payloads it accepts.
    Within the grammar the only '"' characters are the string
    delimiters, and ',', ':' and ' ' may appear inside keys and values,
    so both regexes below consume whole '"key": "value"' pairs from a
    key's opening quote: a match can never start inside a string. The
    JCS of a strictly ascending args object is then its text with the
    space after each pair's ':' and ',' removed (binary order == UTF-16
    code-unit order on the ASCII-only grammar). Unsorted or duplicate
    keys route to the kernel, which sorts and keeps the last duplicate
    (battery: tests/test_hybrid.py).

    No higher-order function here: one would drop the whole envelope
    Generate out of whole-stage codegen."""
    tool = F.col("tool")
    args_str = F.regexp_extract(tool, r'^\{"args": (\{[^{}]*\}), "name"', 1)
    keys = F.regexp_extract_all(args_str, F.lit('"([^"]*)": "[^"]*"'),
                                F.lit(1))
    simple = (tool.rlike(_TOOL_SIMPLE_RE)
              & (keys == F.sort_array(F.array_distinct(keys))))
    name = F.regexp_extract(tool, r', "name": "([A-Za-z0-9_.-]+)"\}$', 1)
    jcs = F.regexp_replace(args_str, r'("[^"]*"): ("[^"]*")(,?) ?',
                           "$1:$2$3")
    return simple, name, jcs


def _is_doc_col():
    """Texts that may be JSON-LD documents: ``looks_like_jsonld``'s
    shape on the JVM. It only decides which turns the kernel sees; the
    kernel's parser decides which of them are documents, and the rest
    take the envelope there. Nothing the parser accepts can miss this
    route: JSON whitespace ``[ \\t\\n\\r]`` is a subset of Java's ``\\s``."""
    shape = F.col("text").rlike(_JSONLD_SHAPE) & (
        F.col("text").contains("@context") | F.col("text").contains("@id")
        | F.col("text").contains("@graph") | F.col("text").contains("@type")
        | F.col("text").contains('"@value"'))
    return F.col("text").isNotNull() & shape


def _needs_kernel_col():
    """The hybrid's routing predicate: texts shaped like JSON-LD
    documents and tool payloads outside the fast path."""
    tool_simple, _, _ = _tool_fast_cols()
    return _is_doc_col() | (F.col("tool").isNotNull() & ~tool_simple)


def _envelope_row(pred: str, kind: str, value: str, dt: str | None) -> str:
    """SQL of one envelope row struct (the _ROW_FIELDS of kernel_rows);
    `value` is a SQL expression over the per-turn projection."""
    dt_sql = f"'{dt}'" if dt else "CAST(NULL AS STRING)"
    return (f"named_struct('kind', 'triple', 'graph', '', 'subj', subj, "
            f"'pred', '{pred}', 'obj_kind', '{kind}', 'obj_value', {value}, "
            f"'obj_datatype', {dt_sql}, 'obj_lang', CAST(NULL AS STRING))")


# The envelope rows of one turn; a NULL element (absent role, ts or
# tool) is dropped after the explode. Routing guarantees any tool
# payload on the envelope route passes the fast-path gate.
_ENVELOPE_ROWS = "array({})".format(", ".join((
    _envelope_row(_RDF_TYPE, "iri", f"'{V}Turn'", None),
    _envelope_row(V + "conversation", "iri", "conv_iri", None),
    "IF(role IS NULL, NULL, {})".format(
        _envelope_row(V + "role", "literal", "role", _XSD + "string")),
    _envelope_row(V + "text", "literal", "text", _XSD + "string"),
    _envelope_row(V + "turnIndex", "literal", "turn_s", _XSD + "integer"),
    "IF(ts_iso IS NULL, NULL, {})".format(
        _envelope_row(V + "ts", "literal", "ts_iso", _XSD + "dateTime")),
    "IF(tool IS NULL, NULL, {})".format(
        _envelope_row(V + "invokes", "iri", "tool_iri", None)),
    "IF(tool IS NULL, NULL, {})".format(
        _envelope_row(V + "toolArgs", "literal", "tool_jcs", _RDF_JSON)),
)))


def extract_triples_hybrid(transcripts: DataFrame, *,
                           canonicalize: bool = False,
                           options: dict | None = None) -> DataFrame:
    """The extractor every caller runs: same output as ``extract_triples``
    (canonicalized too: envelope rows carry no blank node), but only
    JSON-LD documents and tool payloads outside the fast-path grammar
    (route ``k``, computed once per turn) run the kernel. Its UDF gets
    every input as ``when(k, col)``, so other turns cross as NULLs; their
    envelope rows are JVM column algebra over values a Project computes
    once per turn (Generate has no common-subexpression elimination),
    and one ``explode(IF(k, kernel rows, envelope rows))`` stays under
    whole-stage codegen. No repartition before the UDF: the extra
    exchange measured 0.89x (OPTIMIZATION_r06.md)."""
    kernel_rows = _kernel_rows(canonicalize=canonicalize, options=options)
    k = F.col("k")
    # python isoformat(): fractional part only when non-zero micros
    ts_short = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    ts_micro = F.date_format("ts", "SSSSSS")
    _, tool_name, tool_jcs = _tool_fast_cols()
    per_turn = (
        transcripts.select(*_TURN_COLS, _needs_kernel_col().alias("k"))
        .select(
            "conv_id", "turn_idx", "k",
            kernel_rows(*(F.when(k, F.col(c)) for c in _TURN_COLS))
            .alias("kernel_rows"),
            "role", "tool",
            F.concat(F.lit("https://example.org/conv/"), "conv_id",
                     F.lit("/turn/"), "turn_idx").alias("subj"),
            F.concat(F.lit("https://example.org/conv/"), "conv_id")
            .alias("conv_iri"),
            F.col("turn_idx").cast("string").alias("turn_s"),
            F.coalesce("text", F.lit("")).alias("text"),
            F.when(ts_micro == "000000", ts_short)
            .otherwise(F.concat(ts_short, F.lit("."), ts_micro))
            .alias("ts_iso"),
            F.concat(F.lit("https://example.org/tool/"), tool_name)
            .alias("tool_iri"),
            tool_jcs.alias("tool_jcs")))
    return _extracted(per_turn,
                      F.expr(f"IF(k, kernel_rows, {_ENVELOPE_ROWS})"))


def triples_only(extracted: DataFrame) -> DataFrame:
    return extracted.filter(F.col("kind") == "triple").drop("kind")


def warnings_only(extracted: DataFrame) -> DataFrame:
    return (extracted.filter(F.col("kind") == "warning")
            .select("conv_id", "turn_idx",
                    F.col("obj_value").alias("code"),
                    F.col("obj_datatype").alias("message")))


def nquad_lines(triples: DataFrame) -> DataFrame:
    """Triples -> N-Quads lines — pure column expressions (JVM-side,
    whole-stage codegen; no Python in this path)."""
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    langstring = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

    escaped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("obj_value"), r"\\", r"\\\\"),
                '"', r'\\"'),
            "\n", r"\\n"),
        "\r", r"\\r")
    literal = F.concat(
        F.lit('"'), escaped, F.lit('"'),
        F.when(F.col("obj_datatype") == langstring,
               F.concat(F.lit("@"), F.col("obj_lang")))
        .when(F.col("obj_datatype").isNotNull()
              & (F.col("obj_datatype") != xsd_string),
              F.concat(F.lit("^^<"), F.col("obj_datatype"), F.lit(">")))
        .otherwise(F.lit("")))
    obj = F.when(F.col("obj_kind") == "literal", literal).otherwise(
        nquad_term(F.col("obj_value")))
    graph_part = F.when(
        F.col("graph").isNull() | (F.col("graph") == ""), F.lit("")).otherwise(
        F.concat(F.lit(" "), nquad_term(F.col("graph"))))
    line = F.concat(nquad_term(F.col("subj")), F.lit(" "),
                    nquad_term(F.col("pred")), F.lit(" "),
                    obj, graph_part, F.lit(" ."))
    return triples.select(line.alias("nquad"))


def materialize_graph(triples: DataFrame, path: str, *, buckets: int = 64,
                      fmt: str = "parquet") -> None:
    """Write the triples table partitioned by subject-hash bucket.

    On a cluster with an Iceberg catalog use
    :func:`materialize_graph_iceberg` (``bucket(N, subj)`` hidden
    partitioning, the north_star layout); locally we materialize the
    same layout as a `subj_bucket` partition column over parquet so
    downstream graph queries prune + co-locate.
    """
    (triples
     .withColumn("subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(buckets)))
     .repartition(buckets, "subj_bucket")
     .sortWithinPartitions("subj", "pred")
     .write.mode("overwrite")
     .partitionBy("subj_bucket")
     .format(fmt)
     .save(path))


def materialize_graph_iceberg(triples: DataFrame, table: str, *,
                              buckets: int = 64,
                              mode: str = "createOrReplace") -> None:
    """Iceberg-native KG sink: ``bucket(N, subj)`` hidden partitioning
    with snapshot isolation — the cluster-side twin of
    :func:`materialize_graph`.

    ``table`` is a catalog-qualified name (``catalog.db.triples``); the
    session must carry an Iceberg catalog config
    (``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``
    + the iceberg-spark-runtime jar). Raises a RuntimeError naming the
    missing prerequisite when no such catalog is reachable — this
    sandbox has no Iceberg jars, so only the error path is testable
    here; the DataFrame-side plan (bucket repartition + local sort) is
    identical to the parquet twin and is covered by its tests.
    """
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.functions import partitioning
    from pyspark.sql.utils import AnalysisException

    writer = (triples
              .repartition(buckets, F.expr(f"xxhash64(subj) % {buckets}"))
              .sortWithinPartitions("subj", "pred")
              .writeTo(table)
              .partitionedBy(partitioning.bucket(buckets, F.col("subj")))
              .using("iceberg"))
    try:
        if mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
    except (AnalysisException, Py4JJavaError) as e:
        raise RuntimeError(
            f"Iceberg sink unavailable for table {table!r}: configure an "
            f"Iceberg catalog (spark.sql.catalog.*) and ship "
            f"iceberg-spark-runtime on the cluster classpath. "
            f"Underlying error: {e}") from e
