"""Correctness gate: every answer the benchmark times is checked here,
after the timed region.

- ``match`` answers (single or batched) must be rank-identical to
  ``pyref.PyRefIndex`` over the same extracted text, with scores equal
  to 1e-9 relative.
- ``bool``, ``multi_match`` and the ``a AND (b OR c)`` form of
  ``query_string`` are scored from ``pyref`` per clause: the BM25 of
  each scoring clause summed (``bool``, ``query_string``) or the larger
  of the ``text`` and ``title`` field scores (``multi_match``,
  ``best_fields``), over the query's match set. Each hit must carry its
  reference score, and the score at each rank must equal the reference
  top-k score at that rank, so a left-out doc can never outscore a hit.
- ``match_phrase`` and the ``title:a OR "phrase"`` form have no pyref
  score; their hits must all satisfy the query, and there must be
  exactly ``min(size, |match set|)`` of them, in non-increasing score
  order.
- After an upsert, the patch's marker token must return exactly the
  patched ids.

Each check returns ``None`` when the answer is right and a reason when
it is wrong.
"""

from __future__ import annotations

import math
import re

from xml_to_es_spark import pyref
from xml_to_es_spark.functions.extract_core import html_to_fields


class Oracle:
    """In-process twin of the indexed corpus: extracted text, titles
    and stored ``lang`` per doc id, and a ``PyRefIndex`` over the text."""

    def __init__(self, pages, ids):
        self.text, self.title, self.lang = {}, {}, {}
        for d, html, lang in zip(ids, pages["html"], pages["lang"]):
            f = html_to_fields(html.decode("utf-8"))
            self.text[int(d)] = f["body"]
            self.title[int(d)] = f.get("title") or ""
            self.lang[int(d)] = lang
        self.rebuild()

    def rebuild(self) -> None:
        self.ref = pyref.PyRefIndex(self.text)
        self.title_ref = pyref.PyRefIndex(self.title)
        self._topk: dict[tuple[str, int], list] = {}

    def put(self, rows) -> None:
        """Apply a re-PUT patch (doc_id, text, title, lang) and rebuild."""
        for r in rows.itertuples(index=False):
            self.text[int(r.doc_id)] = r.text
            self.title[int(r.doc_id)] = r.title
            self.lang[int(r.doc_id)] = r.lang
        self.rebuild()

    def topk(self, text: str, k: int) -> list:
        key = (text, k)
        if key not in self._topk:
            self._topk[key] = self.ref.topk(text, k)
        return self._topk[key]

    def text_bytes(self) -> int:
        return sum(len(t.encode()) + len(self.title[d].encode()) for d, t in self.text.items())

    def stats(self) -> dict:
        dfs = [len(p) for p in self.ref.postings.values()]
        return {
            "docs": self.ref.n_docs,
            "tokens": sum(self.ref.doc_len.values()),
            "distinct_terms": len(dfs),
            "top_term_df": max(dfs),
        }

    # -- match sets for the non-pyref shapes -------------------------------

    def _with(self, term: str, field: str = "text") -> set[int]:
        ref = self.ref if field == "text" else self.title_ref
        return set(ref.postings.get(term, ()))

    def _any(self, text: str, field: str = "text") -> set[int]:
        return set().union(*[self._with(t, field) for t in pyref.tokenize(text)])

    def _phrase(self, text: str) -> set[int]:
        toks = pyref.tokenize(text)
        cand = set.intersection(*[self._with(t) for t in toks])
        n = len(toks)
        out = set()
        for d in cand:
            doc = pyref.tokenize(self.text[d])
            if any(doc[i : i + n] == toks for i in range(len(doc) - n + 1)):
                out.add(d)
        return out

    def match_set(self, query: dict) -> set[int]:
        """Docs matching one query of the shapes ``corpus.QueryStream``
        generates."""
        (kind, spec), = query.items()
        if kind == "match":
            return self._any(spec["text"])
        if kind == "match_phrase":
            return self._phrase(spec["text"])
        if kind == "multi_match":
            return self._any(spec["query"]) | self._any(spec["query"], "title")
        if kind == "bool":
            (must,) = spec["must"]
            (must_not,) = spec["must_not"]
            (flt,) = spec["filter"]
            lang = flt["term"]["lang"]
            hit = self._any(must["match"]["text"]) - self._any(must_not["match"]["text"])
            return {d for d in hit if self.lang[d] == lang}
        if kind == "query_string":
            q = spec["query"]
            if q.startswith("title:"):
                a, phrase = q[len("title:"):].split(" OR ", 1)
                return self._with(a, "title") | self._phrase(phrase.strip('"'))
            a, rest = q.split(" AND ", 1)
            b, c = rest.strip("()").split(" OR ")
            return self._with(a) & (self._with(b) | self._with(c))
        raise ValueError(f"no match-set rule for {kind}")

    def scores(self, query: dict) -> dict[int, float] | None:
        """Reference BM25 score of every doc in the match set, or
        ``None`` for shapes with no pyref scoring (phrases)."""
        (kind, spec), = query.items()
        if kind == "bool":
            (must,), (should,) = spec["must"], spec["should"]
            parts = [self.ref.score(must["match"]["text"]), self.ref.score(should["match"]["text"])]
        elif kind == "multi_match":
            text, title = self.ref.score(spec["query"]), self.title_ref.score(spec["query"])
            return {d: max(text.get(d, 0.0), title.get(d, 0.0)) for d in self.match_set(query)}
        elif kind == "query_string" and not spec["query"].startswith("title:"):
            parts = [self.ref.score(t) for t in re.findall(r"\w+", spec["query"])
                     if t not in ("AND", "OR")]
        else:
            return None
        return {d: sum(p.get(d, 0.0) for p in parts) for d in self.match_set(query)}


def ranked(rows) -> dict[int, list[tuple[int, float]]]:
    """Hit rows (query_id, rank, doc_id, score) → per query id, the
    (doc_id, score) list in rank order."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
    return out


def check_match(oracle: Oracle, text: str, k: int, hits: list) -> str | None:
    want = oracle.topk(text, k)
    if [d for d, _ in hits] != [d for d, _ in want]:
        return f"match {text!r}: ids {[d for d, _ in hits][:5]}… != pyref {[d for d, _ in want][:5]}…"
    for (d, s), (_, w) in zip(hits, want):
        if not _close(s, w):
            return f"match {text!r}: doc {d} score {s!r} != pyref {w!r}"
    return None


def check_set(oracle: Oracle, query: dict, k: int, hits: list) -> str | None:
    want = oracle.match_set(query)
    ids = [d for d, _ in hits]
    scores = [s for _, s in hits]
    if len(set(ids)) != len(ids):
        return f"{query}: duplicate hits"
    if not set(ids) <= want:
        return f"{query}: hits {sorted(set(ids) - want)[:5]} do not match"
    if len(ids) != min(k, len(want)):
        return f"{query}: {len(ids)} hits, expected {min(k, len(want))}"
    if any(a < b for a, b in zip(scores, scores[1:])):
        return f"{query}: scores not in descending order"
    return None


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def check_scored(query: dict, expected: dict[int, float], k: int, hits: list) -> str | None:
    """Hits against reference scores, tolerant only of the order of
    docs whose scores tie."""
    want = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    if len(hits) != len(want):
        return f"{query}: {len(hits)} hits, expected {len(want)}"
    if len({d for d, _ in hits}) != len(hits):
        return f"{query}: duplicate hits"
    for d, s in hits:
        if d not in expected:
            return f"{query}: hit {d} does not match"
        if not _close(s, expected[d]):
            return f"{query}: doc {d} score {s!r} != reference {expected[d]!r}"
    for i, ((_, s), (_, w)) in enumerate(zip(hits, want)):
        if not _close(s, w):
            return f"{query}: rank {i} score {s!r} != reference top-k score {w!r}"
    return None


def check_body(oracle: Oracle, body: dict, hits: list) -> str | None:
    k = int(body.get("size", 10))
    (kind, spec), = body["query"].items()
    if kind == "match":
        return check_match(oracle, spec["text"], k, hits)
    expected = oracle.scores(body["query"])
    if expected is not None:
        return check_scored(body["query"], expected, k, hits)
    return check_set(oracle, body["query"], k, hits)


def check_marker(marker: str, patched: set[int], hits: list) -> str | None:
    got = {d for d, _ in hits}
    if got != patched:
        return f"marker {marker}: got {len(got)} ids, {len(got ^ patched)} differ from the patch"
    return None
