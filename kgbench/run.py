"""KG benchmark: one seeded run of one workload.  The last stdout line is
the result as JSON; the line before it lists the per-operation samples.

    python3 kgbench/run.py --workload index --seed 1 --seconds 30 --trace 0

Run from the repository root.  A run is one Spark session (``local[4]``,
8 shuffle partitions) and three phases:

1. set-up: seeded pages written as parquet, session start;
2. timed window, three steps:
   - build: ``build_kg`` from the pages to checkpointed node and edge
     tables (both workloads);
   - update: the graph and retrieval suite over the fresh tables (index),
     or the build committed as the live graph, then one
     ``upsert_pages_batch`` of new and re-crawled pages into it (ingest);
   - serve: batched passes of 256 questions over the fresh tables
     (index), or rounds of one ``mix`` question and two
     ``get_knowledge_graph`` reads of the just-committed graph (ingest);
     ``serve_rounds`` rounds (3 and 1), more until the window has lasted
     ``--seconds``; ``serve_s`` is the median round;
3. checks, outside the window: the graph against the Python oracle, the
   components and triangles against networkx, every answer and read
   against the graph it was asked of.

``--trace 1`` turns on Spark's event log, wraps every layer call in a span,
builds through the same public calls ``build_kg`` makes (materializing at
each layer boundary), and prints the per-layer metrics instead; its spans
are kept in ``.kgbench_work/<workload>-<seed>.spans.json``.  Every other
file goes under ``.kgbench_work/`` in the current directory and is removed
at the end, after the Spark JVM and every process under it have ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from builds import digest, traced_build, untraced_build  # noqa: E402
from corpus import CorpusGenerator, CorpusSpec, oracle_docs, write_pages  # noqa: E402
from procs import become_subreaper, stop_descendants, stop_jvm  # noqa: E402
from spans import Tracer, fold, per_layer_metrics, per_layer_units, read_event_log  # noqa: E402

CORES = 4
SHUFFLE_PARTITIONS = 8
BATCH_QUESTIONS = 256
READS_PER_ROUND = 2
READ_DEPTH = 2
READ_MAX_NODES = 200
GRAPH_ITERATIONS = 2  # pagerank, ppr and lpa rounds
MAX_SERVE_ROUNDS = 16

END_TO_END_UNITS = {
    "setup_s": "s",
    "build_s": "s",
    "update_s": "s",
    "serve_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}


@dataclass(frozen=True)
class Workload:
    """A workload's sizes; why each was chosen is in BENCHMARK.json."""

    name: str
    build_pages: int  # pages of the fresh build
    delta_pages: int = 0  # pages of the ingest batch; 0 = the index schedule
    serve_rounds: int = 1  # serving rounds at least; serve_s is their median


# Both workloads draw pages with the same properties; they differ in sizes
# and in what the window does with the pages.
SPEC = CorpusSpec()
WORKLOADS = {
    w.name: w
    for w in (
        Workload("index", build_pages=100, serve_rounds=3),
        Workload("ingest", build_pages=40, delta_pages=25),
    )
}


def build_config():
    from lightrag_spark.plans.kg_build import KGBuildConfig

    return KGBuildConfig(
        tokenizer_kind="regex",
        chunk_token_size=64,
        chunk_overlap_token_size=8,
        max_gleaning=1,
        merge_salts=16,
        cache_records=True,
    )


def start_spark(work: str, trace: bool):
    from lightrag_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="kgbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def entity_terms(text: str) -> list[str]:
    return [t for t in text.split(" ") if len(t) >= 5]


@dataclass
class Inputs:
    build: list[dict]
    delta: list[dict]
    paths: dict[str, str]
    questions: list[str]
    batch_questions: list[str]
    read_labels: list[str]


def generate(wl: Workload, seed: int, work: str) -> Inputs:
    """Pages (parquet), questions and read labels, all from ``seed``.
    Questions name entity terms of the built pages; reads start at the
    hottest term, then at terms of the newest pages (the cold tail)."""
    g = CorpusGenerator(SPEC, seed)
    build = g.batch(wl.build_pages)
    delta = g.batch(wl.delta_pages, recrawl=True) if wl.delta_pages else []
    paths = {"build": os.path.join(work, "pages_build.parquet")}
    write_pages(build, paths["build"])
    if delta:
        paths["delta"] = os.path.join(work, "pages_delta.parquet")
        write_pages(delta, paths["delta"])
    rng = g.rng

    def terms_of(pages, n):
        terms = entity_terms(" ".join(p["text"] for p in pages))
        return [terms[int(i)] for i in rng.integers(0, len(terms), n)]

    def question():
        a, b, c = terms_of([build[int(rng.integers(0, len(build)))]], 3)
        return f"how does {a} relate to {b} and {c}"

    questions = [question() for _ in range(MAX_SERVE_ROUNDS)]
    batch_questions = [question() for _ in range(BATCH_QUESTIONS)]
    read_labels = [g.vocab[0]] + terms_of(delta or build, MAX_SERVE_ROUNDS * READS_PER_ROUND)
    return Inputs(build, delta, paths, questions, batch_questions, read_labels)


class Run:
    """State of one benchmark run: timings, outcomes, problems."""

    def __init__(self, wl: Workload, seconds: int, trace: bool, work: str):
        self.wl, self.seconds, self.work = wl, seconds, work
        self.tr = Tracer(enabled=trace)
        self.times: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def timed(self, metric: str, fn, *args, **kwargs):
        """Run one operation, record its wall time under ``metric``."""
        t = time.perf_counter()
        out = fn(*args, **kwargs)
        self.times.setdefault(metric, []).append(time.perf_counter() - t)
        return out

    def outcome(self, problems: list[str]) -> None:
        """Count one checked output; it failed if it has problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)


def commit_base(kg, graph_dir: str) -> None:
    """Store a fresh build as the live graph, the way ``upsert_pages_batch``
    commits its first batch (cache rows, then node and edge tables)."""
    from lightrag_spark.streaming.kg_ingest import CACHE, EDGES, NODES

    kg.llm_cache.write.mode("append").parquet(os.path.join(graph_dir, CACHE))
    kg.kg_nodes.write.mode("overwrite").parquet(os.path.join(graph_dir, NODES))
    kg.kg_edges.write.mode("overwrite").parquet(os.path.join(graph_dir, EDGES))


def dir_bytes(path: str, since: float = 0.0) -> int:
    """Bytes of the files under ``path`` modified at or after ``since``."""
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def analytics(run: Run, spark, kg, paths) -> dict:
    """The graph suite over the fresh edge table and the retrieval suite
    over the pages; each result is materialized inside its span."""
    from pyspark.sql import functions as F

    from lightrag_spark.operators import datapipe, graphs

    tr, edges, out, rounds = run.tr, kg.kg_edges, {}, []
    with tr.span("bench.read_pages"):
        docs = spark.read.parquet(paths["build"]).select(
            F.col("page_order").alias("doc_id"), "text"
        )
    suite = [
        ("pagerank", "graphs", graphs.pagerank_fixedpoint,
         dict(dst="tgt", iterations=GRAPH_ITERATIONS)),
        ("ppr", "graphs", graphs.personalized_pagerank, dict(iterations=GRAPH_ITERATIONS)),
        ("lpa", "graphs", graphs.label_propagation, dict(iterations=GRAPH_ITERATIONS)),
        ("cc", "graphs", graphs.connected_components,
         dict(dst="tgt", on_round=lambda i, changed: rounds.append(i))),
        ("triangles", "graphs", graphs.triangle_counts, {}),
        ("bm25", "datapipe", datapipe.bm25_topk, {}),
        ("ql", "datapipe", datapipe.ql_topk, {}),
    ]
    for name, layer, fn, kw in suite:
        t = time.perf_counter()
        with tr.span(f"{layer}.{fn.__name__}", layer):
            out[name] = fn(docs if layer == "datapipe" else edges, **kw).localCheckpoint(eager=True)
        dt = time.perf_counter() - t
        tr.count(f"{layer}.{name}_s", dt)
        run.times[name] = [dt]
    tr.count("graphs.cc_rounds", len(rounds))
    return out


def run_workload(run: Run, spark, cfg, inputs: Inputs, oracle) -> dict:
    import checks
    from lightrag_spark.operators.explorer import get_knowledge_graph
    from lightrag_spark.plans.batch_query import (
        batch_context,
        batch_entity_seeds,
        batch_one_hop,
    )
    from lightrag_spark.plans.query_data import query_data
    from lightrag_spark.streaming.kg_ingest import EDGES, NODES, upsert_pages_batch

    wl, tr, paths = run.wl, run.tr, inputs.paths
    index = not wl.delta_pages
    window = time.perf_counter()

    # ---- build ----
    counter = spark.sparkContext.accumulator(0)
    with tr.span("bench.read_pages"):
        pages = spark.read.parquet(paths["build"])
    build = traced_build if tr.enabled else untraced_build
    kg = run.timed("build_s", build, tr, spark, pages, cfg, counter)
    tr.count("extraction.model_calls", counter.value)

    # ---- update ----
    t = time.perf_counter()
    if index:
        results = analytics(run, spark, kg, paths)
    else:
        graph_dir = os.path.join(run.work, "graph")
        with tr.span("bench.commit_base"):
            commit_base(kg, graph_dir)
            delta = spark.read.parquet(paths["delta"])
        since = time.time()
        tr.call("kg_ingest", upsert_pages_batch, spark, delta, graph_dir, cfg)
        tr.count("kg_ingest.bytes_written", dir_bytes(graph_dir, since))
        tr.count("kg_ingest.bytes_in", os.path.getsize(paths["delta"]))
        tr.count("kg_ingest.graph_bytes", dir_bytes(graph_dir))
    run.times["update_s"] = [time.perf_counter() - t]

    # ---- serve: serve_rounds rounds, more until the window has lasted --seconds ----
    answers, reads, ctx_questions = [], [], []
    if not index:
        with tr.span("bench.read_graph"):
            live_nodes = spark.read.parquet(os.path.join(graph_dir, NODES))
            live_edges = spark.read.parquet(os.path.join(graph_dir, EDGES))
    rounds = 0
    while rounds < wl.serve_rounds or (
        time.perf_counter() - window < run.seconds and rounds < MAX_SERVE_ROUNDS
    ):
        rounds += 1
        t = time.perf_counter()
        if index:
            qs = inputs.batch_questions
            with tr.span("bench.questions_table"):
                qdf = spark.createDataFrame([(q,) for q in qs], "question string")
            with tr.span("batch_query", "batch_query"):
                seeds = tr.call("batch_query", batch_entity_seeds, kg.kg_nodes, qdf)
                rels = tr.call("batch_query", batch_one_hop, seeds, kg.kg_edges, kg.kg_nodes)
                ctx = tr.call("batch_query", batch_context, seeds, rels, kg.kg_nodes, kg.chunks)
                ctx_questions.append([r["question"] for r in ctx.select("question").collect()])
            tr.count("batch_query.questions", len(qs))
        else:
            q = inputs.questions[len(answers)]
            answers.append(run.timed("question", tr.call, "query_data", query_data, kg, q, mode="mix"))
            tr.count("query_data.questions", 1)
            for _ in range(READS_PER_ROUND):
                label = inputs.read_labels[len(reads)]
                sub = run.timed(
                    "read", tr.call, "explorer", get_knowledge_graph, live_nodes, live_edges, label,
                    max_depth=READ_DEPTH, max_nodes=READ_MAX_NODES,
                )
                tr.count("explorer.reads", 1)
                reads.append((label, sub))
        run.times.setdefault("serve_s", []).append(time.perf_counter() - t)
    window_s = time.perf_counter() - window

    # ---- checks (outside the window) ----
    with tr.span("bench.checks"):
        want_build = oracle["build"].result()
        got_build = checks.graph_sets(kg.kg_nodes, kg.kg_edges)
        run.outcome(checks.compare_sets("build", got_build, want_build))
        names, pairs = got_build
        if index:
            run.outcome(checks.check_components(results["cc"].collect(), pairs))
            run.outcome(checks.check_triangles(results["triangles"].collect(), pairs))
            n_nodes = len({n for p in pairs for n in p})
            for name in ("pagerank", "ppr", "lpa"):
                n = results[name].count()
                run.outcome([] if n == n_nodes else [f"{name}: {n} rows for {n_nodes} nodes"])
            for name in ("bm25", "ql"):
                run.outcome([] if results[name].count() > 0 else [f"{name}: no results"])
            want_q = sorted(set(inputs.batch_questions))
            for got_q in ctx_questions:
                run.outcome(
                    [] if sorted(got_q) == want_q
                    else [f"batch_context: {len(got_q)} rows for {len(want_q)} questions"]
                )
        else:
            want_delta = oracle["delta"].result()
            want_live = (want_build[0] | want_delta[0], want_build[1] | want_delta[1])
            live = checks.graph_sets(live_nodes, live_edges)
            run.outcome(checks.compare_sets("ingest", live, want_live))
            for ans in answers:
                run.outcome(checks.check_answer(ans, names, pairs))
            for label, sub in reads:
                run.outcome(checks.check_subgraph(sub, label, live[0], READ_MAX_NODES))
    return {"window_s": window_s}


def trace_overhead(run: Run, spark, cfg, paths) -> dict:
    """Untraced and traced builds of the same pages, back to back: equal
    digests, and the wall-time difference is the tracing overhead."""
    off = Tracer(enabled=False)
    with run.tr.span("bench.overhead"):
        pages = spark.read.parquet(paths["build"])
        t = time.perf_counter()
        u = untraced_build(off, spark, pages, cfg, None)
        t_u = time.perf_counter() - t
        t = time.perf_counter()
        tb = traced_build(off, spark, pages, cfg, None)
        t_t = time.perf_counter() - t
        equal = digest(u.kg_nodes, u.kg_edges) == digest(tb.kg_nodes, tb.kg_edges)
    return {"untraced_s": t_u, "traced_s": t_t, "digest_equal": equal}


def trace_metrics(run: Run, work: str, overhead: dict, spans_path: str) -> dict:
    run.tr.dump(spans_path)
    folded = fold(read_event_log(os.path.join(work, "eventlog")), run.tr.spans)
    values = per_layer_metrics(folded, run.tr.spans, run.tr.counts, CORES)
    units = per_layer_units()
    out = {k: {"value": values[k], "unit": units[k]} for k in units}
    out["trace.unattributed_jobs"] = {"value": folded["unattributed_jobs"], "unit": "count"}
    out["trace.overhead_s"] = {"value": overhead["traced_s"] - overhead["untraced_s"], "unit": "s"}
    run.outcome([] if overhead["digest_equal"] else ["traced build digest differs from build_kg's"])
    return out


def on_sigterm(signum, _frame):
    """Leave through ``main``'s clean-up; a second SIGTERM is ignored."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signum)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True, help="seeds every generated input")
    ap.add_argument("--seconds", type=int, default=30, help="shortest timed window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: event log and spans on, print per-layer metrics")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lightrag_spark", "__init__.py")):
        print("kgbench: run from the repository root (lightrag_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # every process the run starts is stopped and waited for on the way
    # out, on SIGTERM too
    become_subreaper()
    signal.signal(signal.SIGTERM, on_sigterm)
    work = os.path.join(root, ".kgbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    # keep Spark's scratch, the JVM's and the Python workers' temp files
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher too: no perf-data file in the
    # system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    import checks
    from rss import PeakRss

    wl = WORKLOADS[args.workload]
    run = Run(wl, args.seconds, bool(args.trace), work)
    cfg = build_config()
    spark = None
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        with PeakRss() as rss:
            inputs = generate(wl, args.seed, work)
            # the oracle is pure Python: it runs while the JVM starts
            oracle = {"build": pool.submit(checks.oracle_sets, oracle_docs(inputs.build), cfg)}
            if inputs.delta:
                oracle["delta"] = pool.submit(checks.oracle_sets, oracle_docs(inputs.delta), cfg)
            spark = start_spark(work, bool(args.trace))
            setup_s = time.perf_counter() - t_start
            res = run_workload(run, spark, cfg, inputs, oracle)
            overhead = trace_overhead(run, spark, cfg, inputs.paths) if args.trace else None
            spark.stop()
            spark = None
        if args.trace:
            # the spans outlive the run's scratch directory
            spans_path = os.path.join(root, ".kgbench_work", f"{args.workload}-{args.seed}.spans.json")
            metrics = trace_metrics(run, work, overhead, spans_path)
        else:
            m = {
                "setup_s": setup_s,
                **{k: statistics.median(run.times[k]) for k in ("build_s", "update_s", "serve_s")},
                "peak_rss_mb": rss.peak_mb,
                "ok_ratio": 1.0 - run.failed / max(1, run.attempted),
            }
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in m.items()}
        for p in run.problems:
            print(f"kgbench: FAILED {p}", file=sys.stderr)
        samples = {k: [round(x, 3) for x in v] for k, v in run.times.items()}
        print(json.dumps({"workload": wl.name, "seed": args.seed, "window_s": res["window_s"], "samples": samples}))
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        pool.shutdown(cancel_futures=True)
        try:
            if "pyspark" in sys.modules:
                stop_jvm(spark)
            stop_descendants()
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
