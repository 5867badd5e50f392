"""Per-layer ledger for a traced run, plus the probes both run modes use.

Spans carry name, start, end and parent; they are kept in memory and
written with the run record. A layer's self time is its span minus its
children. Every span wraps a call into one engine module from this
file, so the engine itself carries no instrumentation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from jsonld_js_spark.kernel.api import expand as k_expand
from jsonld_js_spark.kernel.canon import (PoisonedDatasetError,
                                          canonical_id_map, relabel_quads)
from jsonld_js_spark.kernel.nodemap import IdentifierIssuer
from jsonld_js_spark.kernel.tordf import to_rdf as k_to_rdf
from jsonld_js_spark.operators import pipeline
from jsonld_js_spark.operators.entity_link import (link_entities,
                                                   mention_triples)
from jsonld_js_spark.operators.pipeline import (extract_triples,
                                                materialize_graph,
                                                triples_only)
from jsonld_js_spark.sources.entities import entities_df
from jsonld_js_spark.sources.transcripts import gen_conversation

from inputs import (CACHE_DIR, TRIPLE_COLS, TURN_TRIPLE_COLS,
                    ensure_similarity, fingerprint)
from workloads import Workload, hybrid_triples, run_pass

N_ENTITIES = 1000
N_SALT = 8
BUCKETS = 64

KERNEL_SAMPLE = 200
KERNEL_REPS = 5
SIMILARITY = (("dedup.components_s", "doc_dedup_components"),
              ("dedup.embedding_s", "doc_dedup_embedding"),
              ("simsearch.knn_lsh_s", "emb_knn_lsh"))
MINHASH_REPS = 2

# name -> unit, in the order BENCHMARK.json lists them
LAYER_METRICS = {
    "sources.scan_s": "s", "sources.input_turns": "count",
    "sources.input_splits": "count",
    "pipeline.jvm_turns": "count", "pipeline.kernel_turns": "count",
    "pipeline.warning_rows": "count",
    "pipeline.jvm_branch_s": "s", "pipeline.kernel_branch_s": "s",
    "pipeline.kernel_us_per_turn": "us",
    "pipeline.python_task_fixed_ms": "ms",
    "pipeline.python_task_fixed_tasks": "count",
    "pipeline.crossing_us_per_turn": "us",
    "pipeline.materialize_s": "s", "pipeline.files_written": "count",
    "pipeline.bytes_written": "bytes",
    "kernel.parse_us": "us", "kernel.expand_us": "us",
    "kernel.to_rdf_us": "us", "kernel.canon_us": "us",
    "kernel.turn_to_quads_us": "us",
    "entity_link.link_s": "s", "entity_link.mentions": "count",
    "dedup.components_s": "s", "dedup.embedding_s": "s",
    "simsearch.knn_lsh_s": "s", "dedup.minhash_lsh_s": "s",
    "dedup.minhash_lsh_min_s": "s", "dedup.minhash_lsh_max_s": "s",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "plan.exchange": "count", "plan.window": "count",
    "plan.generate": "count", "plan.python_eval": "count",
    "trace.wall_s": "s", "trace.overhead_s": "s",
    "trace.residual_s": "s", "trace.residual_share": "ratio",
}


class Tracer:
    """In-memory span recorder."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def seconds(self, name: str) -> float:
        """Self time of the last span with this name."""
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        children = sum(s["end"] - s["start"] for s in self.spans
                       if s["parent"] == rec["id"])
        return rec["end"] - rec["start"] - children


# ---------------------------------------------------------------------
# probes read from outside the engine
# ---------------------------------------------------------------------

def box_state() -> dict:
    """Load and clock telemetry, the fields bench.py records, so a noisy
    run can be explained from its record alone."""
    st: dict = {}
    try:
        with open("/proc/loadavg") as f:
            parts = f.read().split()
        st["loadavg_1m"] = float(parts[0])
        st["loadavg_5m"] = float(parts[1])
        st["runnable_over_total"] = parts[3]
    except (OSError, IndexError, ValueError):
        pass
    try:
        # cumulative jiffies; the steal delta between two passes shows
        # time a neighbouring guest took from this machine's CPUs
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        st["cpu_jiffies_total"] = sum(cpu)
        st["cpu_jiffies_steal"] = cpu[7]
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/proc/cpuinfo") as f:
            mhz = [float(line.split(":")[1]) for line in f
                   if line.startswith("cpu MHz")]
        if mhz:
            st["cpu_mhz_mean"] = round(sum(mhz) / len(mhz))
            st["cpu_mhz_min"] = round(min(mhz))
            st["cpu_mhz_max"] = round(max(mhz))
    except (OSError, IndexError, ValueError):
        pass
    return st


def process_tree(pid: int) -> list[int]:
    """pid and all its descendants (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(children.get(p, ()))
    return tree


def reset_peak_rss(pid: int) -> None:
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pid: int) -> float:
    """Sum of the peak RSS of the JVM and every Python worker."""
    kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next(int(line.split()[1]) for line in f
                           if line.startswith("VmHWM"))
        except (OSError, StopIteration, ValueError):
            pass
    return kb / 1024.0


def job_tasks(spark, group: str) -> dict:
    """Stage and task counts of every job run under a job group."""
    st = spark.sparkContext.statusTracker()
    stages = tasks = failed = 0
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        for sid in (info.stageIds if info else ()):
            stage = st.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return {"stages": stages, "tasks": tasks, "failed_tasks": failed}


def sql_execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore() \
        .executionsList().size()


def _node_name(line: str) -> str | None:
    s = line.lstrip(" :|+-*").strip()
    if not s or s.startswith("=="):
        return None
    return s.split(" (", 1)[0].split(" ", 1)[0]


def plan_census(spark, since: int) -> dict:
    """Exchange, Window, Generate and Python-eval nodes in the final
    executed plans of the SQL executions numbered ``since`` and up."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    counts = {"exchange": 0, "window": 0, "generate": 0, "python_eval": 0}
    for i in range(since, execs.size()):
        text = execs.apply(i).physicalPlanDescription()
        tree = text.split("\n\n", 1)[0]
        if "== Final Plan ==" in tree:
            tree = tree.split("== Final Plan ==", 1)[1]
            tree = tree.split("== Initial Plan ==", 1)[0]
        for line in tree.splitlines():
            name = _node_name(line)
            if name is None:
                continue
            if name.endswith("Exchange"):
                counts["exchange"] += 1
            elif name == "Window":
                counts["window"] += 1
            elif name == "Generate":
                counts["generate"] += 1
            elif "Python" in name or "Pandas" in name or name == "MapInArrow":
                counts["python_eval"] += 1
    return counts


# ---------------------------------------------------------------------
# kernel phases, in process on a fixed sample
# ---------------------------------------------------------------------

def kernel_sample(w: Workload, seed: int) -> list[tuple]:
    """KERNEL_SAMPLE kernel-bound turns from conversations 5 and up
    (past the hot head): document turns, or every turn when the
    workload sends every turn through the kernel."""
    out: list[tuple] = []
    conv = 5
    while len(out) < KERNEL_SAMPLE:
        for r in gen_conversation(conv, seed):
            if w.canonicalize or (r["role"] == "assistant"
                                  and r["text"].startswith("{")):
                out.append((r["conv_id"], r["turn_idx"], r["role"],
                            r["text"], r["tool"], r["ts"]))
        conv += 1
    return out[:KERNEL_SAMPLE]


def _phases(turn, canonicalize: bool) -> tuple[int, int, int, int]:
    """ns spent in parse, expand, toRDF and canonize for one turn,
    following turn_to_quads step by step."""
    conv_id, turn_idx, role, text, tool, ts = turn
    t0 = time.perf_counter_ns()
    doc = None
    if pipeline.looks_like_jsonld(text):
        try:
            doc = pipeline._parse_doc_text(text)
        except (ValueError, RecursionError):
            doc = None
    if doc is None:
        doc = pipeline.envelope_doc(conv_id, turn_idx, role, text, tool, ts)
    t1 = time.perf_counter_ns()
    expanded = k_expand(doc, {"events": []})
    t2 = time.perf_counter_ns()
    quads = k_to_rdf(expanded, {"events": [],
                                "issuer": IdentifierIssuer("_:b0-")})
    t3 = time.perf_counter_ns()
    if canonicalize:
        try:
            id_map = canonical_id_map(quads, max_work_factor=3)
            relabel_quads(quads, {old: f"c14n-0-{new[4:]}"
                                  for old, new in id_map.items()})
        except PoisonedDatasetError:
            pass
    t4 = time.perf_counter_ns()
    return t1 - t0, t2 - t1, t3 - t2, t4 - t3


def kernel_phases(w: Workload, seed: int) -> dict:
    sample = kernel_sample(w, seed)
    reps = {k: [] for k in ("parse", "expand", "to_rdf", "canon",
                            "turn_to_quads")}
    for _ in range(KERNEL_REPS):
        sums = [0, 0, 0, 0]
        for turn in sample:
            for i, ns in enumerate(_phases(turn, w.canonicalize)):
                sums[i] += ns
        for key, ns in zip(("parse", "expand", "to_rdf", "canon"), sums):
            reps[key].append(ns / 1e3 / len(sample))
        t0 = time.perf_counter_ns()
        for turn in sample:
            pipeline.turn_to_quads(*turn, canonicalize=w.canonicalize)
        reps["turn_to_quads"].append(
            (time.perf_counter_ns() - t0) / 1e3 / len(sample))
    return {f"kernel.{k}_us": statistics.median(v) for k, v in reps.items()}


# ---------------------------------------------------------------------
# the ledger
# ---------------------------------------------------------------------

def _oracle_count(con, sql: str) -> int:
    return con.execute(f"SELECT COUNT(*) FROM ({sql}) AS q").fetchone()[0]


def written_files(out_dir: str) -> tuple[int, int]:
    """(data files, bytes) under a written table directory."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(out_dir):
        for name in names:
            if name.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def graph_layers(spark, tracer: Tracer, tx_dir: str, out_dir: str,
                 m: dict) -> bool:
    """Salted entity linking, then the bucketed graph write of the
    hybrid triples plus mention triples; the salted mention count must
    equal the broadcast strategy's. Both run on the input's first split
    only, which keeps a traced run within its time limit."""
    first = sorted(f for f in os.listdir(tx_dir) if f.startswith("part-"))[0]
    tx = spark.read.parquet(os.path.join(tx_dir, first))
    ents = entities_df(spark, N_ENTITIES)
    with tracer.span("entity_link.link"):
        links = link_entities(tx, ents, strategy="salted", n_salt=N_SALT)
        mentions, fp = fingerprint(mention_triples(links), TRIPLE_COLS)
    m["entity_link.link_s"] = tracer.seconds("entity_link.link")
    m["entity_link.mentions"] = mentions
    ok = (mentions, fp) == fingerprint(
        mention_triples(link_entities(tx, ents, strategy="broadcast")),
        TRIPLE_COLS)

    # the write alone, from a cached graph: bucket shuffle, sort, write
    g = (hybrid_triples(tx).drop("conv_id", "turn_idx")
         .unionByName(mention_triples(links)).cache())
    n = g.count()
    with tracer.span("pipeline.materialize"):
        materialize_graph(g, out_dir, buckets=BUCKETS)
    g.unpersist()
    m["pipeline.materialize_s"] = tracer.seconds("pipeline.materialize")
    m["pipeline.files_written"], m["pipeline.bytes_written"] = \
        written_files(out_dir)
    ok = ok and spark.read.parquet(out_dir).count() == n
    shutil.rmtree(out_dir, ignore_errors=True)
    return ok


def similarity_layers(spark, tracer: Tracer, root: str, seed: int,
                      m: dict) -> bool:
    """dedup / simsearch operators through their declared queries on a
    seeded corpus; row counts must match the DuckDB oracle SQL."""
    import duckdb

    from jsonld_js_spark.queries import QUERIES

    sim_dir = ensure_similarity(root, seed)
    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            path = os.path.join(sim_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS "
                        f"SELECT * FROM read_parquet('{path}')")
        ok = True
        runs = list(SIMILARITY) + [
            ("dedup.minhash_lsh_s", "doc_dedup_minhash_lsh")] * MINHASH_REPS
        walls: dict[str, list[float]] = {}
        for metric, name in runs:
            fn, sql = QUERIES[name]
            with tracer.span(metric) as rec:
                df = fn(spark, sim_dir)
                n, _fp = fingerprint(df, df.columns)
            walls.setdefault(metric, []).append(rec["end"] - rec["start"])
            ok = ok and n == _oracle_count(con, sql)
    finally:
        con.close()
    for metric, values in walls.items():
        m[metric] = statistics.median(values)
    mh = walls["dedup.minhash_lsh_s"]
    m["dedup.minhash_lsh_min_s"] = min(mh)
    m["dedup.minhash_lsh_max_s"] = max(mh)
    return ok


def run_ledger(w: Workload, spark, tracer: Tracer, *, root: str, seed: int,
               tx_dir: str, meta: dict, cores: int,
               pass_wall: float) -> tuple[dict, bool]:
    """Per-layer metrics of one workload; (metrics, checks passed)."""
    m = {name: 0.0 for name in LAYER_METRICS}
    ok = True
    tx = spark.read.parquet(tx_dir)
    routes = meta["routes"]
    sc = spark.sparkContext
    out_dir = os.path.join(root, CACHE_DIR, "out", str(os.getpid()))

    with tracer.span("ledger"):
        with tracer.span("sources.scan"):
            tx.write.format("noop").mode("overwrite").save()
        m["sources.scan_s"] = tracer.seconds("sources.scan")
        m["sources.input_turns"] = tx.count()
        m["sources.input_splits"] = tx.rdd.getNumPartitions()
        ok = ok and m["sources.input_turns"] == routes["turns"]

        if w.canonicalize:
            m["pipeline.kernel_turns"] = routes["turns"]
        else:
            m["pipeline.jvm_turns"] = routes["turns"] - routes["doc_turns"]
            m["pipeline.kernel_turns"] = routes["doc_turns"]
        m["pipeline.warning_rows"] = sum(meta["warning_codes"].values())

        # Python task start and Arrow setup over splits that carry no
        # rows; the predicate is not pushed into the scan
        sc.setJobGroup("ledger-python-fixed", "empty kernel pass")
        with tracer.span("pipeline.python_task_fixed"):
            extract_triples(tx.filter(F.length("text") < 0)) \
                .write.format("noop").mode("overwrite").save()
        fixed_s = tracer.seconds("pipeline.python_task_fixed")
        tasks = job_tasks(spark, "ledger-python-fixed")["tasks"]
        m["pipeline.python_task_fixed_tasks"] = tasks
        m["pipeline.python_task_fixed_ms"] = (fixed_s * cores
                                              / max(tasks, 1) * 1e3)

        if w.canonicalize:
            with tracer.span("pipeline.kernel_branch"):
                run_pass(w, spark, tx)
        else:
            doc = F.col("text").startswith("{")
            with tracer.span("pipeline.jvm_branch"):
                nj, fpj = fingerprint(hybrid_triples(tx.filter(~doc)),
                                      TURN_TRIPLE_COLS)
            with tracer.span("pipeline.kernel_branch"):
                nk, fpk = fingerprint(
                    triples_only(extract_triples(tx.filter(doc))),
                    TURN_TRIPLE_COLS)
            m["pipeline.jvm_branch_s"] = tracer.seconds("pipeline.jvm_branch")
            exp = meta["expected_triples"]
            ok = ok and (nj + nk, str(int(fpj) + int(fpk))) == (
                exp["n"], exp["fp"])
        m["pipeline.kernel_branch_s"] = tracer.seconds(
            "pipeline.kernel_branch")

        with tracer.span("kernel.sample"):
            m.update(kernel_phases(w, seed))
        kernel_turns = max(m["pipeline.kernel_turns"], 1)
        m["pipeline.kernel_us_per_turn"] = (
            m["pipeline.kernel_branch_s"] * cores / kernel_turns * 1e6)
        m["pipeline.crossing_us_per_turn"] = (
            m["pipeline.kernel_us_per_turn"] - m["kernel.turn_to_quads_us"])

        if not w.canonicalize:
            ok = graph_layers(spark, tracer, tx_dir, out_dir, m) and ok
            ok = similarity_layers(spark, tracer, root, seed, m) and ok

    if w.canonicalize:
        attributed = fixed_s + (m["kernel.turn_to_quads_us"] * kernel_turns
                                / cores / 1e6)
    else:
        # the non-document branch job also runs an empty kernel branch:
        # that is the python_task_fixed job, which the pass pays once
        attributed = (m["pipeline.jvm_branch_s"]
                      + m["pipeline.kernel_branch_s"] - fixed_s)
    m["trace.wall_s"] = pass_wall
    m["trace.residual_s"] = pass_wall - attributed
    m["trace.residual_share"] = m["trace.residual_s"] / pass_wall
    return m, ok
