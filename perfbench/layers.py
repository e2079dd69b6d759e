"""Direct calls into single layers, made after the timed loop of a
traced run, and the per-layer table built from them and from the spans.

``LAYER_MAP`` records, before any measurement, which end-to-end metric
each layer metric should move and on which workloads.
"""

from __future__ import annotations

import os
import resource
import statistics
import time

import pyarrow.compute as pc
import pyarrow.dataset as ds

from xml_to_es_spark import pyref
from xml_to_es_spark.config import BM25Config
from xml_to_es_spark.operators import postings, wand
from xml_to_es_spark.operators.query_string import parse_query_string

ALL = ("search", "msearch")
LAYER_MAP = {
    "session.start_s": ("setup_s", ALL),
    "session.peak_rss_mb": ("reported, not gated", ALL),
    "extract.s": ("ingest_docs_per_s", ALL),
    "extract.docs_per_s": ("ingest_docs_per_s", ALL),
    "index_build.build_s": ("ingest_docs_per_s, setup_s", ALL),
    "index_build.tokens_s": ("ingest_docs_per_s, setup_s", ALL),
    "index_build.docs_groups_s": ("ingest_docs_per_s, setup_s", ALL),
    "index_build.shuffle_bytes": ("ingest_docs_per_s, setup_s", ALL),
    # no loop writes: the traced run's one upsert step measures these,
    # and no gated metric covers the write path
    "index_build.upsert_s": ("none gated", ALL),
    "index_build.delta_count": ("none gated", ALL),
    "postings.encode_mb_per_s": ("ingest_docs_per_s", ALL),
    "postings.bytes_per_posting": ("index_size_ratio", ALL),
    "postings.decode_mb_per_s": ("op_items_per_s (barely op_p50_ms on search)", ("msearch",)),
    "postings.decode_ms_per_query": ("op_items_per_s (barely op_p50_ms on search)", ("msearch",)),
    "postings.decode_op_share": ("share of op_p50_ms a full decode of the op's terms takes", ALL),
    "wand.kernel_ms_per_query": ("op_items_per_s (not op_p50_ms on search)", ("msearch",)),
    "wand.op_share": ("share of op_p50_ms the WAND kernel takes for the op's queries", ALL),
    "query_engine.open_ms": ("setup_s (also the upsert step's open over a delta)", ALL),
    "query_engine.call_ms": ("op_p50_ms", ("search",)),
    "query_engine.collect_ms": ("op_p50_ms", ("search",)),
    "es_query.call_ms": ("op_p50_ms, op_items_per_s (bool/query_string tail)", ("search",)),
    "es_query.self_ms": ("op_items_per_s (bool/query_string tail)", ("search",)),
    "query_string.parse_ms": ("op_items_per_s (query_string tail)", ("search",)),
    "spark.jobs_per_op": ("op_p50_ms, op_items_per_s (little on msearch)", ("search",)),
    "spark.stages_per_op": ("op_p50_ms, op_items_per_s (little on msearch)", ("search",)),
    "spark.tasks_per_op": ("op_p50_ms, op_items_per_s (little on msearch)", ("search",)),
    "spark.task_cpu_ms_per_op": ("op_items_per_s", ("msearch",)),
    "spark.task_run_ms_per_op": ("op_items_per_s", ("msearch",)),
    "spark.shuffle_bytes_per_op": ("op_items_per_s", ("msearch",)),
    "spark.cpu_share": ("says overhead-bound (low) or compute-bound (high)", ALL),
    # task CPU is JVM CPU only; run time also covers the Python workers
    "spark.task_busy_share": ("as cpu_share, counting Python kernel time", ALL),
    "trace.op_p50_ms": ("op_p50_ms of the traced run: tracing overhead", ALL),
}


def _timed_per_call(fn, items, min_s: float = 0.2) -> float:
    """Seconds per pass of ``fn`` over ``items``, repeating passes until
    at least ``min_s`` has been measured."""
    passes, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        passes += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return el / passes


def _stats(index_dir: str) -> dict:
    return ds.dataset(f"{index_dir}/stats", format="parquet").to_table().to_pylist()[0]


def read_segments(index_dir: str, terms: set[str]) -> dict[str, list[dict]]:
    """Base-index posting segments of ``text:<term>`` keys, read in this
    process with pyarrow."""
    keys = sorted(f"text:{t}" for t in terms)
    table = ds.dataset(f"{index_dir}/postings", format="parquet", partitioning="hive").to_table(
        filter=pc.field("term").isin(keys))
    out: dict[str, list[dict]] = {}
    for row in table.to_pylist():
        out.setdefault(row["term"], []).append(row)
    return out


def postings_probe(index_dir: str, terms: set[str]) -> dict:
    segs = [s for rows in read_segments(index_dir, terms).values() for s in rows]
    seg_mb = sum(s["seg_bytes"] for s in segs) / 1e6
    decode_s = _timed_per_call(postings.decode_segment, segs)
    decoded = [(s, *postings.decode_segment(s)) for s in segs]
    block = int(_stats(index_dir).get("block_size") or 128)
    with_pos = [(d, t, l, postings.decode_positions(s["pos_bin"], t)) for s, d, t, l in decoded]
    enc_mb = sum(len(s["docs_bin"]) + len(s["tfs_bin"]) + len(s["dls_bin"]) + len(s["pos_bin"])
                 for s in segs) / 1e6
    encode_s = _timed_per_call(
        lambda x: postings.encode_segment(x[0], x[1], x[2], block, positions=x[3]), with_pos)
    base = ds.dataset(f"{index_dir}/postings", format="parquet", partitioning="hive").to_table(
        columns=["n_docs", "seg_bytes", "pos_bin"])
    n_post = pc.sum(base["n_docs"]).as_py()
    n_bytes = pc.sum(base["seg_bytes"]).as_py() + pc.sum(pc.binary_length(base["pos_bin"])).as_py()
    return {
        "postings.decode_mb_per_s": seg_mb / decode_s,
        "postings.encode_mb_per_s": enc_mb / encode_s,
        "postings.bytes_per_posting": n_bytes / n_post,
    }


def wand_probe(index_dir: str, texts: list[str], k: int) -> float:
    """Median ms of one ``wand.wand_topk`` call per query text, on the
    base-index segments of its terms (it decodes the blocks it visits)."""
    stats, bm25 = _stats(index_dir), BM25Config()
    n, avgdl = int(stats["n_docs"]), float(stats["avgdl__text"])
    segs = read_segments(index_dir, {t for q in texts for t in pyref.tokenize(q)})
    times = []
    for q in texts:
        entries = []
        for t in sorted(set(pyref.tokenize(q))):
            rows = segs.get(f"text:{t}")
            if rows:
                df = sum(r["n_docs"] for r in rows)
                entries.append({"term": f"text:{t}", "idf": pyref.idf(n, df),
                                "segments": rows, "avgdl": avgdl})
        t0 = time.perf_counter()
        wand.wand_topk(entries, k, bm25.k1, bm25.b, avgdl,
                       block_size=int(stats.get("block_size") or 128))
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def decode_probe(index_dir: str, texts: list[str]) -> float:
    """Median ms to decode every base-index segment of one query's
    terms: the decode work of a query that skips no block."""
    segs = read_segments(index_dir, {t for q in texts for t in pyref.tokenize(q)})
    times = []
    for q in texts:
        rows = [r for t in set(pyref.tokenize(q)) for r in segs.get(f"text:{t}", ())]
        t0 = time.perf_counter()
        for r in rows:
            postings.decode_segment(r)
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def parse_probe(texts: list[str]) -> float:
    """ms per ``parse_query_string`` call over the workload's texts."""
    return _timed_per_call(lambda q: parse_query_string(q, default_field="text"), texts) * 1e3 / len(texts)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident MB of this process plus the Spark JVM."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    try:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024
    except (OSError, TypeError):
        pass
    return mb


def index_bytes(index_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(index_dir) for f in fs)


def spark_per_op(tracer, ops: list[int], cores: int) -> dict:
    timed = set(ops)
    tops = [s for s in tracer.named("op") if s["op"] in timed]
    n = max(len(tops), 1)
    wall_ms = sum((s["end"] - s["start"]) * 1e3 for s in tops)
    cpu = sum(s["cpu_ms"] for s in tops)
    return {
        "spark.jobs_per_op": sum(s["jobs"] for s in tops) / n,
        "spark.stages_per_op": sum(s["stages"] for s in tops) / n,
        "spark.tasks_per_op": sum(s["tasks"] for s in tops) / n,
        "spark.task_cpu_ms_per_op": cpu / n,
        "spark.task_run_ms_per_op": sum(s["run_ms"] for s in tops) / n,
        "spark.shuffle_bytes_per_op": sum(s["shuffle_bytes"] for s in tops) / n,
        "spark.cpu_share": cpu / (wall_ms * cores) if wall_ms else 0.0,
        "spark.task_busy_share": sum(s["run_ms"] for s in tops) / (wall_ms * cores) if wall_ms else 0.0,
    }


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
