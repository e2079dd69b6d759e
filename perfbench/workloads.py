"""The two workloads, each a closed loop with one client thread.

- ``search``: one mixed-shape ES body per ``es_search`` call, about
  three short Spark jobs each. The WAND kernel and postings decode are
  under 1% of the latency: per-call planning, py4j, job and task
  overhead make it up.
- ``msearch``: batches of 100 ``match`` bodies at size 100 per
  ``es_msearch`` call, in two jobs. Summed Spark task time is about 80%
  of the batch's wall time, and the WAND kernel alone 20-37%: per-query
  work, with the per-call overhead spread over the batch.

The traced run measures these shares (``spark.task_busy_share``,
``wand.op_share``, ``postings.decode_op_share``); README.md gives them.

``UpsertStep`` is not a workload: a traced run makes one upsert step
after its loop, so the write path's layers (delta build, tombstones,
engine open over deltas) are measured and checked on every workload.

Every workload is set up the same way: start the session, extract the
generated pages and build the index with the ES mapping (``text`` and
``title`` analyzed with positions, ``lang`` as a doc value) twice, the
first build only to warm the session, then open the engine and warm the
loop's own operation.
"""

from __future__ import annotations

import statistics
import time

from perfbench.gate import check_body, check_marker, check_match, ranked
from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.operators.es_query import es_msearch, es_search
from xml_to_es_spark.operators.index_build import IndexBuilder

ES_MAPPING = IndexConfig(
    n_groups=4, salt_threshold=500, n_salts=8,
    indexed_fields=("text", "title"), store_positions=True,
    stored_fields=("lang",),
)
MSEARCH_BODIES, MSEARCH_SIZE = 100, 100
PATCH_DOCS, MARKER_SIZE = 20, 50


class Workload:
    """One loop. ``step`` runs and times one operation and keeps its
    answers; ``check`` judges them after the timed region, one verdict
    (``None`` or a reason) per operation."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.answers: list = []

    def answer(self, call, eng, request) -> dict[int, list]:
        """``call(eng, request)`` (``es_search`` or ``es_msearch``), then
        collect: the hits of each query id in rank order."""
        tr = self.ctx.tracer
        with tr.span("es_query.call"):
            df = call(eng, request)
        with tr.span("query_engine.collect"):
            rows = df.collect()
        return ranked(rows)

    def search(self, eng, body: dict) -> list:
        return self.answer(es_search, eng, body).get(0, [])

    def warm(self) -> None:
        self.step(None)

    def covered(self) -> bool:
        """Whether the timed ops so far are enough to report on; the
        loop runs past its deadline until they are."""
        return True

    def latency_ms(self, lat: list[float], items: int) -> tuple[float, float]:
        """``op_p50_ms`` and ``op_items_per_s`` of the timed ops."""
        return statistics.median(lat) * 1e3, items / sum(lat)

    def summary(self) -> list[str]:
        return []

    def match_texts(self) -> list[str]:
        """Query texts of the run's ``match`` bodies."""
        raise NotImplementedError

    def query_strings(self) -> list[str]:
        """Texts for the ``parse_query_string`` probe."""
        return self.match_texts()


class Search(Workload):
    """Shapes differ about threefold in latency and a run completes only
    about ten ops, so the plain median would jump between fast and slow
    shapes with the host's speed. The latency is instead the mix-weighted
    mean of the per-shape medians, and the throughput the inverse of the
    mix-weighted mean latency: both hold the shape mix fixed."""

    k, queries_per_op = 10, 1

    def __init__(self, ctx):
        super().__init__(ctx)
        self.by_shape: dict[str, list[float]] = {}

    def warm(self) -> None:
        for shape in self.ctx.stream.SHAPES:
            self._run(self.ctx.stream.search_body(shape), None)

    def covered(self) -> bool:
        return len(self.by_shape) == len(self.ctx.stream.SHAPES)

    def latency_ms(self, lat, items):
        w = self.ctx.stream.SHAPES
        total = sum(w[s] for s in self.by_shape)
        p50 = sum(w[s] * statistics.median(v) for s, v in self.by_shape.items()) / total
        mean = sum(w[s] * statistics.fmean(v) for s, v in self.by_shape.items()) / total
        return p50 * 1e3, 1 / mean

    def step(self, op):
        return self._run(self.ctx.stream.search_body(), op)

    def _run(self, body, op):
        t = time.perf_counter()
        with self.ctx.tracer.span("op", op=op):
            hits = self.search(self.ctx.eng, body)
        dt = time.perf_counter() - t
        self.answers.append((body, hits))
        if op is not None:
            self.by_shape.setdefault(next(iter(body["query"])), []).append(dt)
        return dt, 1

    def summary(self) -> list[str]:
        return [f"shape {k}: n={len(v)} p50={statistics.median(v) * 1e3:.0f}ms"
                for k, v in self.by_shape.items()]

    def check(self, oracle):
        return [check_body(oracle, b, h) for b, h in self.answers]

    def match_texts(self):
        return [b["query"]["match"]["text"] for b, _ in self.answers if "match" in b["query"]]

    def query_strings(self):
        return self.match_texts() + [b["query"]["query_string"]["query"]
                                     for b, _ in self.answers if "query_string" in b["query"]]


class Msearch(Workload):
    k, queries_per_op = MSEARCH_SIZE, MSEARCH_BODIES

    def warm(self) -> None:
        # a tenth of a batch primes the same plan and kernel for less
        self._batch(None, MSEARCH_BODIES // 10)

    def step(self, op):
        return self._batch(op, MSEARCH_BODIES)

    def _batch(self, op, n):
        batch = self.ctx.stream.msearch_batch(n, MSEARCH_SIZE)
        t = time.perf_counter()
        with self.ctx.tracer.span("op", op=op):
            hits = self.answer(es_msearch, self.ctx.eng, batch)
        dt = time.perf_counter() - t
        self.answers.append((batch, hits))
        return dt, len(batch)

    def check(self, oracle):
        out = []
        for batch, hits in self.answers:
            bad = (check_match(oracle, b["query"]["match"]["text"], self.k, hits.get(i, []))
                   for i, b in enumerate(batch))
            out.append(next((r for r in bad if r), None))
        return out

    def match_texts(self):
        return [b["query"]["match"]["text"] for batch, _ in self.answers for b in batch]


class UpsertStep(Workload):
    """One 20-doc re-PUT patch through ``IndexBuilder.upsert``, then a
    freshly opened ``QueryEngine`` answers the patch's marker query and
    one ``match`` query."""

    k = 10

    def step(self, op):
        ctx, tr = self.ctx, self.ctx.tracer
        ids = [int(x) for x in ctx.corpus.ids]
        marker, patch = ctx.stream.patch(PATCH_DOCS, ids, 10 * len(ids) + 1)
        patch_df = ctx.spark.createDataFrame(patch)
        body = ctx.stream.search_body("match")
        t = time.perf_counter()
        with tr.span("op", op=op):
            with tr.span("index_build.upsert"):
                IndexBuilder(ctx.spark).upsert(patch_df, ctx.index_dir)
            eng = ctx.open_engine()
            marker_hits = self.search(eng, {"query": {"match": {"text": marker}}, "size": MARKER_SIZE})
            hits = self.search(eng, body)
        dt = time.perf_counter() - t
        self.answers.append((patch, marker, marker_hits, body, hits))
        return dt, len(patch)

    def check(self, oracle):
        out = []
        for patch, marker, marker_hits, body, hits in self.answers:
            oracle.put(patch)
            out.append(check_marker(marker, {int(d) for d in patch["doc_id"]}, marker_hits)
                       or check_body(oracle, body, hits))
        return out


WORKLOADS = {"search": Search, "msearch": Msearch}
