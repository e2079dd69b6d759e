"""One benchmark run: set-up, timed loop, correctness gate, layer
probes (traced runs only) and the result object."""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark import SparkContext

from perfbench import layers
from perfbench.corpus import QueryStream, make_corpus
from perfbench.gate import Oracle
from perfbench.spans import Tracer, dur_ms
from perfbench.workloads import ES_MAPPING, WORKLOADS, UpsertStep
from xml_to_es_spark import pyref
from xml_to_es_spark.functions.extract import extract_fields
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.query_engine import QueryEngine
from xml_to_es_spark.session import get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Context:
    """What a workload loop needs: session, engine, inputs, tracer."""

    def __init__(self, args, work):
        self.args = args
        self.tracer = Tracer(args.trace == 1)
        self.corpus = make_corpus(args.seed, args.docs)
        self.stream = QueryStream(self.corpus, args.seed)
        self.index_dir = os.path.join(work, "index")
        self.cores = os.cpu_count() or 1
        self.work = work
        self.spark = self.eng = None

    def open_engine(self):
        with self.tracer.span("query_engine.open"):
            eng = QueryEngine(self.spark, self.index_dir)
        if self.tracer.enabled:
            self.tracer.wrap_methods(eng, "query_engine.call")
        return eng

    def session_conf(self) -> dict:
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": self.work,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData",
            # the traced run reads every job and stage back at exit
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work) -> tuple[list[str], dict]:
    """Returns the report lines and the result object."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ctx = Context(args, work)
    tr = ctx.tracer
    oracle = Oracle(ctx.corpus.pages, ctx.corpus.ids)
    stats, text_bytes = oracle.stats(), oracle.text_bytes()
    lines = [f"corpus: seed={args.seed} docs={stats['docs']} tokens={stats['tokens']} "
             f"distinct_terms={stats['distinct_terms']} top_term_df={stats['top_term_df']} "
             f"text_mb={text_bytes / 1e6:.2f} cores={ctx.cores}"]

    # -- set-up: session, warm-up build, timed build, engine open, warm-up -
    t0 = time.perf_counter()
    ctx.spark = spark = get_spark(app="perfbench", cores=ctx.cores,
                                  shuffle_partitions=ctx.cores, extra_conf=ctx.session_conf())
    session_s = time.perf_counter() - t0
    jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
    raised: list[str] = []
    try:
        tr.bind(spark)
        pages = spark.createDataFrame(ctx.corpus.pages)
        docs = extract_fields(pages).selectExpr(
            "cast(id as long) as doc_id", "text", "title", "lang")
        # the session's first build of the corpus still pays first-run
        # costs (JIT, worker start-up) that vary from run to run more
        # than the build itself; ingest is timed on a second build
        t = time.perf_counter()
        warm_dir = os.path.join(work, "warm-up-index")
        IndexBuilder(spark, ES_MAPPING).build(docs, warm_dir)
        shutil.rmtree(warm_dir)
        warm_build_s = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("index_build.build"):
            built = IndexBuilder(spark, ES_MAPPING).build(docs, ctx.index_dir)
        ingest_s = time.perf_counter() - t
        size_ratio = layers.index_bytes(ctx.index_dir) / text_bytes
        ctx.eng = ctx.open_engine()
        wl = WORKLOADS[args.workload](ctx)
        wl.warm()
        setup_s = time.perf_counter() - t0

        # -- timed closed loop ----------------------------------------------
        lat, ops, items = [], [], 0
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or not wl.covered():
            op = len(ops) + len(raised)
            try:
                dt, n = wl.step(op)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, never fatal
                raised.append(f"op {op}: {type(e).__name__}: {e}")
                continue
            ops.append(op)
            lat.append(dt)
            items += n
        loop_s = time.perf_counter() - t0 - setup_s
        op_ms, op_items_per_s = wl.latency_ms(lat, items) if lat else (0.0, 0.0)

        # -- correctness gate, outside the timed region ----------------------
        verdicts = wl.check(oracle)
        lines += [f"ops: timed={len(lat)} warm-up={len(verdicts) - len(lat)} raised={len(raised)}",
                  f"wall: session={session_s:.1f}s warm-up build={warm_build_s:.1f}s "
                  f"build={ingest_s:.1f}s "
                  f"open+warm-up={setup_s - session_s - warm_build_s - ingest_s:.1f}s "
                  f"loop={loop_s:.1f}s",
                  *wl.summary()]

        per_layer = {}
        if tr.enabled:
            probe = _probes(ctx, wl, pages)
            # the loops never write: one upsert step reaches the write
            # path's layers, and its marker answer is checked
            up = UpsertStep(ctx)
            try:
                up.step(None)
                verdicts += up.check(oracle)
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                raised.append(f"upsert probe: {type(e).__name__}: {e}")
            tr.resolve_spark()
            per_layer = _per_layer(ctx, wl, built, probe, ops, op_ms, session_s, jvm_pid)
            lines += _write_trace(ctx, per_layer)
    finally:
        _stop(spark)

    wrong = [v for v in verdicts if v]
    failed = len(wrong) + len(raised)
    lines += [f"FAILED {reason}" for reason in (wrong + raised)[:10]]
    e2e = {
        "setup_s": setup_s,
        "ingest_docs_per_s": args.docs / ingest_s,
        "index_size_ratio": size_ratio,
        "op_p50_ms": op_ms,
        "op_items_per_s": op_items_per_s,
    }
    section = "per_layer" if tr.enabled else "end_to_end"
    values = per_layer if tr.enabled else e2e
    if {m["name"] for m in spec[section]} != set(values):
        raise RuntimeError(f"metrics {sorted(values)} do not match BENCHMARK.json {section}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[section]}
    return lines, {"correct": failed == 0 and bool(lat),
                   "attempted": max(len(verdicts) + len(raised), 1),
                   "failed": failed, "metrics": metrics}


def _probes(ctx, wl, pages) -> dict:
    """Direct single-layer calls after the loop of a traced run."""
    t = time.perf_counter()
    with ctx.tracer.span("extract"):
        extract_fields(pages).count()
    probe = {"extract.s": time.perf_counter() - t}
    texts = wl.match_texts()
    probe.update(layers.postings_probe(ctx.index_dir, {w for q in texts for w in pyref.tokenize(q)}))
    probe["wand.kernel_ms_per_query"] = layers.wand_probe(ctx.index_dir, texts, wl.k)
    probe["postings.decode_ms_per_query"] = layers.decode_probe(ctx.index_dir, texts)
    probe["query_string.parse_ms"] = layers.parse_probe(wl.query_strings())
    return probe


def _per_layer(ctx, wl, built, probe, ops, op_ms, session_s, jvm_pid) -> dict:
    tr = ctx.tracer
    build = tr.named("index_build.build")[0]
    q_call = tr.per_op("query_engine.call", ops)
    es_call = tr.per_op("es_query.call", ops)
    deltas = os.path.join(ctx.index_dir, "deltas")
    out = {
        "session.start_s": session_s,
        "session.peak_rss_mb": layers.peak_rss_mb(jvm_pid),
        "extract.docs_per_s": ctx.args.docs / probe["extract.s"],
        "index_build.build_s": dur_ms(build) / 1e3,
        "index_build.tokens_s": built["phases"]["tokens_s"],
        "index_build.docs_groups_s": built["phases"]["docs_groups_s"],
        "index_build.shuffle_bytes": build["shuffle_bytes"],
        "index_build.upsert_s": layers.median(dur_ms(s) for s in tr.named("index_build.upsert")) / 1e3,
        "index_build.delta_count": sum(d.startswith("delta=") for d in os.listdir(deltas))
        if os.path.isdir(deltas) else 0,
        "query_engine.open_ms": layers.median(dur_ms(s) for s in tr.named("query_engine.open")),
        "query_engine.call_ms": layers.median(q_call),
        "query_engine.collect_ms": layers.median(tr.per_op("query_engine.collect", ops)),
        "es_query.call_ms": layers.median(es_call),
        "es_query.self_ms": layers.median(e - q for e, q in zip(es_call, q_call)),
        "trace.op_p50_ms": op_ms,
        # kernel time one op's queries need, as a share of its latency
        "wand.op_share": probe["wand.kernel_ms_per_query"] * wl.queries_per_op / op_ms
        if op_ms else 0.0,
        "postings.decode_op_share": probe["postings.decode_ms_per_query"] * wl.queries_per_op / op_ms
        if op_ms else 0.0,
        **probe,
        **layers.spark_per_op(tr, ops, ctx.cores),
    }
    return out


def _write_trace(ctx, per_layer) -> list[str]:
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{ctx.args.workload}-seed{ctx.args.seed}.jsonl")
    ctx.tracer.write(path)
    lines = [f"spans: {len(ctx.tracer.spans)} written to {os.path.relpath(path, ROOT)}"]
    for name, (moves, where) in layers.LAYER_MAP.items():
        lines.append(f"layer {name:30s} {per_layer[name]:16.4f}  -> {moves} [{'/'.join(where)}]")
    return lines
