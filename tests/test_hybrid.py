"""Hybrid (JVM fast path + kernel) extraction must match the pure
kernel path row-for-row on a corpus with embedded docs, tool turns,
nulls, and hostile strings."""

import datetime

import pytest

from jsonld_js_spark.operators.pipeline import (
    extract_triples,
    extract_triples_hybrid,
    triples_only,
)
from jsonld_js_spark.sources.transcripts import synthesize_transcripts


def _collect(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("canonicalize", [False, True])
def test_hybrid_matches_kernel_on_corpus(spark, canonicalize):
    tx = synthesize_transcripts(spark, 20, seed=42).cache()
    a = _collect(triples_only(extract_triples(tx, canonicalize=canonicalize)))
    b = _collect(triples_only(
        extract_triples_hybrid(tx, canonicalize=canonicalize)))
    assert a == b


def test_hybrid_matches_kernel_on_degradations_canonicalized(spark):
    """Every degradation class under canonicalize=True: each text routes
    to the kernel, and both extractors give equal rows, warning rows
    included."""
    from jsonld_js_spark.operators.pipeline import _needs_kernel_col
    from jsonld_js_spark.queries import _K6_POISON_DOC

    def nested(depth):
        return ('{"@context": {"n": "http://x#n"}, ' + '"n": {' * depth
                + '"@id": "http://x#leaf"' + "}" * depth + "}")

    texts = [
        _K6_POISON_DOC,
        '{"@id": 5}',
        nested(700),
        '{"@context": {"j": {"@id": "http://x#j", "@type": "@json"}}, '
        '"@id": "http://x#s", "j": 1e999}',
        nested(50_000),
        '{"@id": "http://x#s", "http://x#a": NaN}',
        '{"@id": "http://x#s", "http://x#a": [1, 2',
        '{"@id": "http://x#ok", "http://x#knows": {"http://x#n": "K"}}',
    ]
    rows = [("c", i, "user", t, None, None) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    assert all(r[0] for r in df.select(_needs_kernel_col()).collect())
    a = sorted(map(tuple, extract_triples(df, canonicalize=True).collect()),
               key=repr)
    b = sorted(map(tuple,
                   extract_triples_hybrid(df, canonicalize=True).collect()),
               key=repr)
    assert a == b
    codes = {r[7] for r in a if r[2] == "warning"}
    assert {"canonicalization work factor exceeded",
            "invalid JSON literal"} <= codes, codes
    assert any(r[4].startswith("_:c14n-") for r in a if r[1] == 7)


def test_hybrid_matches_kernel_on_hostile_rows(spark):
    ts = datetime.datetime(2026, 1, 1, 12, 0, 7)
    ts_micro = datetime.datetime(2026, 1, 1, 12, 0, 7, 123456)
    rows = [
        ("c", 0, "assistant", '{"@context": {broken', None, ts),
        ("c", 1, "user", None, None, ts),
        ("c", 2, "user", 'quote " nl \n bs \\ end', None, ts_micro),
        ("c", 3, "tool", "r", '{"name":"x","args":{"q":1}}', ts),
        ("c", 4, None, "plain", None, None),
        ("c", 5, "user", "", None, ts),
        # NaN/Infinity tokens: Python json.loads accepts them, the
        # reference's JSON.parse does not — both paths must agree these
        # are NOT documents (parse_constant strictness in turn_to_quads)
        ("c", 6, "user", '{"@id": "http://example.org/s", "a": NaN}',
         None, ts),
        ("c", 7, "user", '{"@id": "http://example.org/s", "a": Infinity}',
         None, ts),
        ("c", 8, "tool", "r", '{"args": {"q": NaN}, "name": "x"}', ts),
    ]
    # a valid doc behind each leading character: Java's \s (the JVM
    # shape check) and Python's str.lstrip (looks_like_jsonld) each
    # take some of them for whitespace, JSON only " \t\n\r"
    doc = '{"@id": "http://example.org/d", "http://example.org/p": "v"}'
    leads = ["", " \t\n\r", "\x0b", "\x0c", "\xa0", "\u2028", "\x1c",
             "\ufeff", "\x85", "\u3000"]
    rows += [("c", 9 + i, "user", lead + doc, None, ts)
             for i, lead in enumerate(leads)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = _collect(triples_only(extract_triples(df)))
    b = _collect(triples_only(extract_triples_hybrid(df)))
    assert a == b
    assert {r[1] for r in a if r[3] == "http://example.org/d"} == {9, 10}


def test_hybrid_matches_kernel_on_tool_payload_battery(spark):
    """The JVM tool fast path may only accept payloads whose kernel
    output it reproduces byte-for-byte; everything else must route to
    the kernel. Both halves are parity, and each payload's route
    through the hybrid's routing predicate is pinned."""
    from jsonld_js_spark.operators.pipeline import _needs_kernel_col

    ts = datetime.datetime(2026, 1, 1, 12, 0, 7)
    jvm, kernel = False, True
    payloads = [
        # routable: json.dumps(sort_keys=True) flat safe-string form
        ('{"args": {"q": "query41"}, "name": "browser"}', jvm),
        ('{"args": {}, "name": "noargs"}', jvm),
        ('{"args": {"a": "x", "b": "y z"}, "name": "two.args"}', jvm),
        ('{"args": {"k": "punct !#$%&\'()*+,-./:;<=>?@[]^_`|~"}, "name": "p-1"}',
         jvm),
        ('{"args": {"": "empty key"}, "name": "ek"}', jvm),
        # separators inside a value are not separators
        ('{"args": {"q": "a, b: c"}, "name": "seps"}', jvm),
        # strictly ascending keys with a space (' ' < 'b')
        ('{"args": {"a": "1", "a b": "2", "ab": "3"}, "name": "spaced"}', jvm),
        # keys and values that are exactly a separator: with its
        # delimiting quotes each reads as '", "' or '": "'
        ('{"args": {"a": ", "}, "name": "comma-val"}', jvm),
        ('{"args": {"a": ": "}, "name": "colon-val"}', jvm),
        ('{"args": {": ": "v"}, "name": "colon-key"}', jvm),
        ('{"args": {", ": "y", "x": ""}, "name": "comma-key"}', jvm),
        ('{"args": {" ": "a", "0": "c", ": ": "b"}, "name": "sep-sorted"}',
         jvm),
        # unroutable: must fall back to the kernel (each exercises one
        # grammar exit)
        ('{"args": {"q": 1}, "name": "int-arg"}', kernel),
        ('{"args": {"q": true}, "name": "bool-arg"}', kernel),
        ('{"args": {"q": null}, "name": "null-arg"}', kernel),
        ('{"args": {"q": {"nested": "x"}}, "name": "nested"}', kernel),
        ('{"args": {"q": ["x"]}, "name": "array-arg"}', kernel),
        ('{"args": {"q": "esc \\" quote"}, "name": "escaped"}', kernel),
        ('{"args": {"q": "back \\\\ slash"}, "name": "bslash"}', kernel),
        ('{"args": {"q": "unicode ü"}, "name": "nonascii"}', kernel),
        # keys not strictly ascending: the kernel sorts them and keeps
        # the last of duplicate keys
        ('{"args": {"b": "x", "a": "y"}, "name": "unsorted"}', kernel),
        ('{"args": {"ab": "3", "a b": "2", "a": "1"}, "name": "unsorted2"}',
         kernel),
        ('{"args": {"a": "x", "a": "y"}, "name": "dupkey"}', kernel),
        ('{"args": {"a": "x", "a": "x"}, "name": "dupkey-same"}', kernel),
        # unsorted (': ' > '0'), though reading '", "' as a key sorts it
        ('{"args": {" ": "a", ": ": "b", "0": "c"}, "name": "sep-unsorted"}',
         kernel),
        # no length limit: a 50,001-char key is a key to both paths
        ('{"args": {"' + "k" * 50_001 + '": "v"}, "name": "longkey"}', jvm),
        ('{}', kernel),
        ('{"name": "argsless"}', kernel),
        ('{"args": {"q": "x"}}', kernel),
        ('{"args":{"q":"x"},"name":"tight-spacing"}', kernel),
        ('{"name": "reversed", "args": {"q": "x"}}', kernel),
        ('{"args": {"q": "x"}, "name": "bad name!"}', kernel),
        ('not json at all', kernel),
        ('{"args": {"q": "x"}, "name": "trailing"} ', kernel),
        # nested deeper than the parser's stack: toolRaw, as invalid JSON
        ('{"args": ' + "[" * 100_000 + "]" * 100_000 + ', "name": "x"}',
         kernel),
    ]
    rows = [("c", i, "tool", f"tool result {i}", p, ts)
            for i, (p, _) in enumerate(payloads)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = _collect(triples_only(extract_triples(df)))
    b = _collect(triples_only(extract_triples_hybrid(df)))
    assert a == b
    routes = dict(df.select("turn_idx", _needs_kernel_col()).collect())
    assert [routes[i] for i in range(len(payloads))] == \
        [route for _, route in payloads]


def test_hybrid_matches_kernel_across_nesting_depth_band(spark):
    """Python's scanner fails near the recursion limit (~994 levels
    measured). Every depth routes to the kernel by shape; a text too
    deep for its parser takes the envelope on both paths. Probed across
    the band — this pins it."""
    def deep_doc(n):
        return '{"@id": "http://x#s", "a": ' + "[" * n + "1" + "]" * n + "}"

    depths = [200, 900, 990, 995, 1000, 1100, 2000]
    rows = [("c", i, "user", deep_doc(n), None, None)
            for i, n in enumerate(depths)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = sorted(map(tuple, extract_triples(df).collect()))
    b = sorted(map(tuple, extract_triples_hybrid(df).collect()))
    assert a == b


def test_hybrid_matches_kernel_at_jackson_size_limits(spark):
    """Texts on either side of the size limits of Jackson, the JVM
    parser the route once probed with (numbers <= 1000 digits, member
    names <= 50,000 chars), are plain JSON to JSON.parse and to the
    kernel's parser. Every one routes to the kernel, both extractors
    agree, and the texts past a limit parse as documents on both paths.
    An integer of more than 4,300 digits still takes the envelope on
    both paths (Python's int-string conversion limit, which JSON.parse
    does not have); that gap is out of scope here."""
    from jsonld_js_spark.operators.pipeline import _needs_kernel_col

    ctx = '{"@context": {"@vocab": "http://x#"}, "@id": "http://x#s", '
    texts = [
        ctx + '"a": ' + "9" * 1000 + "}",
        ctx + '"a": ' + "9" * 1001 + "}",
        ctx + '"a": 0.' + "9" * 1000 + "}",
        ctx + '"a": -' + "9" * 1000 + ".5e5}",
        ctx + '"' + "k" * 50_000 + '": 1}',
        ctx + '"' + "k" * 50_001 + '": 1}',
    ]
    rows = [("c", i, "user", t, None, None) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    assert [r[0] for r in df.select(_needs_kernel_col()).collect()] == \
        [True] * len(texts)
    a = sorted(map(tuple, extract_triples(df).collect()))
    b = sorted(map(tuple, extract_triples_hybrid(df).collect()))
    assert a == b
    objects = {(r[1], r[5]): r[7] for r in a}
    assert objects[(0, "http://x#a")] == "Infinity"
    assert objects[(1, "http://x#a")] == "Infinity"
    assert objects[(2, "http://x#a")] == "1"
    assert objects[(5, "http://x#" + "k" * 50_001)] == "1"


def test_hybrid_matches_kernel_on_missing_turn_keys(spark):
    """A turn whose conv_id or turn_idx is NULL gives one `missing turn
    key` warning row, with every triple field NULL, and no triple on
    both extractors, whichever route it would take."""
    doc = '{"@context": {"@vocab": "http://x#"}, "@id": "http://x#s", "a": 1}'
    unsorted_tool = '{"args": {"b": "x", "a": "y"}, "name": "t"}'
    rows = [(None, 0, "user", "plain", None, None),
            ("c", None, "user", "plain", None, None),
            (None, 1, "user", doc, None, None),
            ("c", None, "tool", "r", unsorted_tool, None),
            ("c", 2, "user", doc, None, None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = sorted(map(tuple, extract_triples(df).collect()), key=repr)
    b = sorted(map(tuple, extract_triples_hybrid(df).collect()), key=repr)
    assert a == b
    keyless = [r for r in a if r[0] is None or r[1] is None]
    assert keyless == sorted(
        ((c, t, "warning", None, None, None, None, "missing turn key",
          "conv_id or turn_idx is NULL", None) for c, t, *_ in rows[:4]),
        key=repr)
    assert [r[2] for r in a if r[1] == 2] == ["triple"]


def test_hybrid_matches_kernel_on_tool_payload_fuzz(spark):
    """Deterministic fuzz over the tool-payload grammar BOUNDARY:
    random flat/nested/typed payloads in random serialization styles,
    random safe/unsafe characters. Whatever side of the routing rlike
    each lands on, hybrid output must equal the pure kernel's. Also
    asserts a healthy fraction actually routes to the JVM so the
    grammar cannot silently rot into rejecting everything."""
    import json as _json
    import random

    from pyspark.sql import functions as F

    from jsonld_js_spark.operators.pipeline import _needs_kernel_col

    rng = random.Random(7)
    safe = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 _.:/+@!#$%&'()*,-;<=>?^`|~[]"
    unsafe = '"\\{}\n\t\x00üλ😀'

    def rand_str(pool, lo=0, hi=12):
        return "".join(rng.choice(pool) for _ in range(rng.randint(lo, hi)))

    def rand_value(depth=0):
        r = rng.random()
        if r < 0.55:
            pool = safe if rng.random() < 0.8 else safe + unsafe
            return rand_str(pool)
        if r < 0.70:
            return rng.choice([0, 1, -3, 2.5, 1e30, True, False, None])
        if r < 0.85 and depth < 2:
            return {rand_str(safe, 1, 5): rand_value(depth + 1)
                    for _ in range(rng.randint(0, 2))}
        return [rand_value(depth + 1) for _ in range(rng.randint(0, 2))]

    payloads = []
    for i in range(300):
        style = rng.random()
        if style < 0.1:
            payloads.append(rand_str(safe + unsafe, 0, 30))  # raw garbage
            continue
        obj = {}
        if rng.random() < 0.9:
            nkeys = rng.randint(0, 3)
            pool = safe if rng.random() < 0.8 else safe + unsafe
            obj["args"] = {rand_str(pool, 0, 8):
                           (rand_str(pool) if rng.random() < 0.8
                            else rand_value())
                           for _ in range(nkeys)}
        if rng.random() < 0.9:
            obj["name"] = (rand_str("abcdefghij0123456789_.-", 1, 8)
                           if rng.random() < 0.7 else rand_str(safe, 0, 8))
        kwargs = rng.choice([
            {"sort_keys": True},
            {},
            {"sort_keys": True, "separators": (",", ":")},
            {"sort_keys": True, "indent": 1},
        ])
        try:
            payloads.append(_json.dumps(obj, **kwargs))
        except (TypeError, ValueError):
            continue

    rows = [("c", i, "tool", f"t{i}", p, None) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = _collect(triples_only(extract_triples(df)))
    b = _collect(triples_only(extract_triples_hybrid(df)))
    assert a == b
    n_routed = df.filter(F.col("tool").isNotNull()
                         & ~_needs_kernel_col()).count()
    assert n_routed >= 20, f"grammar rejects nearly everything ({n_routed})"


@pytest.mark.parametrize("canonicalize", [False, True])
def test_hybrid_matches_kernel_on_separator_alphabet_fuzz(spark,
                                                          canonicalize):
    """Keys and values drawn from the separator characters themselves
    (',', ':', ' ') plus two ordinary ones, so strings like ', ' and
    ': ' are common and their delimiting quotes often read as '", "'
    or '": "'. Sorted and unsorted styles alike must match the kernel,
    and the sorted, duplicate-free ones must take the JVM route."""
    import json as _json
    import random

    from jsonld_js_spark.operators.pipeline import _needs_kernel_col

    rng = random.Random(11)
    alphabet = ", :a0"

    def rand_str():
        return "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 3)))

    payloads = []
    for _ in range(200):
        args = {rand_str(): rand_str() for _ in range(rng.randint(1, 4))}
        payloads.append(_json.dumps({"args": args, "name": "t"},
                                    sort_keys=rng.random() < 0.6))
    rows = [("c", i, "tool", f"t{i}", p, None) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = _collect(triples_only(extract_triples(df, canonicalize=canonicalize)))
    b = _collect(triples_only(
        extract_triples_hybrid(df, canonicalize=canonicalize)))
    assert a == b
    routes = dict(df.select("turn_idx", _needs_kernel_col()).collect())
    for i, p in enumerate(payloads):
        keys = list(_json.loads(p)["args"])
        assert routes[i] == (keys != sorted(keys)), p


def test_hybrid_tool_fast_path_fires(spark):
    """Routing must actually send JCS-safe tool turns down the JVM
    branch — a silently dead fast path would still pass parity. The
    kernel side of the hybrid must see only the embedded-doc turns."""
    from pyspark.sql import functions as F

    from jsonld_js_spark.operators.pipeline import (
        _is_doc_col, _needs_kernel_col)

    tx = synthesize_transcripts(spark, 50, seed=42).cache()
    n_kernel = tx.filter(_needs_kernel_col()).count()
    n_doc = tx.filter(_is_doc_col()).count()
    n_tool = tx.filter(F.col("tool").isNotNull()).count()
    assert n_tool > 0
    # every synthesized tool payload is flat {str: str} -> all routable
    assert n_kernel == n_doc
    tx.unpersist()


def _executed_plan(df):
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_hybrid_plain_path_has_no_python_stage(spark, tmp_path):
    """The hybrid is one plan over one scan: the route is computed once,
    plain and fast-path tool turns cross the one kernel UDF as NULLs
    (no union, no second Python stage, no re-run of the tool gate), and
    the envelope Generate runs under whole-stage codegen: any
    higher-order function (transform, filter, array_compact, ...) is
    evaluated interpreted and takes the Generate out of it."""
    import datetime
    import re
    spark.createDataFrame(
        [("c", 0, "user", "plain text", None, datetime.datetime(2026, 1, 1)),
         ("c", 1, "tool", "r", '{"args": {"q": "x"}, "name": "t"}', None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp").write.parquet(str(tmp_path / "tx"))
    tx = spark.read.parquet(str(tmp_path / "tx"))
    plan = _executed_plan(extract_triples_hybrid(tx))
    assert re.search(r"\*\(\d+\) Generate", plan), plan
    assert "lambda" not in plan
    # the subject is built once per turn below the explode, not once
    # per exploded struct (Generate gets no subexpression elimination)
    assert plan.count("/turn/") == 1, plan
    for node, n in (("FileScan", 1), ("Union", 0), ("MapInPandas", 0),
                    ("ArrowEvalPython", 1), ("Generate", 1),
                    # the tool gate: once, in the route; the kernel's
                    # parser alone judges documents
                    ("RLIKE(tool", 1), ("get_json_object", 0),
                    ("length(", 0)):
        assert plan.count(node) == n, (node, plan)
    plan = _executed_plan(extract_triples(tx))
    for node, n in (("FileScan", 1), ("MapInPandas", 0),
                    ("ArrowEvalPython", 1), ("Generate", 1)):
        assert plan.count(node) == n, (node, plan)


def test_session_time_zone_at_the_arrow_crossing(spark):
    """Timestamps reach the kernel as session-local wall time, as the
    JVM envelope formats them: under Asia/Kolkata both extractors agree
    row for row on a plain turn (JVM route) and a tool turn with
    unsorted keys (kernel route)."""
    from pyspark.sql import functions as F

    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

    def micros(*args):
        t = datetime.datetime(*args, tzinfo=datetime.timezone.utc)
        return (t - epoch) // datetime.timedelta(microseconds=1)

    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        df = spark.createDataFrame(
            [("c", 0, "user", "plain", None,
              micros(2026, 3, 1, 23, 45, 6, 123456)),
             ("c", 1, "tool", "r", '{"args": {"b": "x", "a": "y"}, '
              '"name": "t"}', micros(2026, 3, 1, 20, 0, 0)),
             ("c", 2, "user", "plain", None, None)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, us long",
        ).select("conv_id", "turn_idx", "role", "text", "tool",
                 F.timestamp_micros("us").alias("ts"))
        a = _collect(triples_only(extract_triples(df)))
        b = _collect(triples_only(extract_triples_hybrid(df)))
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert a == b
    ts = {r[1]: r[6] for r in a if r[4].endswith("#ts")}
    assert ts == {0: "2026-03-02T05:15:06.123456", 1: "2026-03-02T01:30:00"}


def test_session_disables_dataframe_call_site_capture(spark):
    """build_session turns PySpark's per-Column call-site capture off."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
