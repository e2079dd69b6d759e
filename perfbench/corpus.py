"""Seeded page corpus and query streams.

The generator lives here, not in ``xml_to_es_spark.fixtures``, so that a
change to the package cannot change the workload. Everything derives
from the workload seed:

- a 10,000-word vocabulary whose Zipf(1.07) rank order is permuted per
  seed, so each seed has its own hot head;
- pages with lognormal body lengths, short titles, a stored ``lang``
  value and about 5% malformed HTML (numeric entities, comments, an
  unbalanced quote, unclosed tags);
- query terms drawn by Zipf-rank band: ``hot`` (the head, long posting
  lists), ``mid``, ``rare`` (short lists) and ``absent`` (no postings).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB_SIZE = 10_000
ZIPF_S = 1.07
# consonant-vowel syllables; words never contain q or x, so "qx..."
# tokens are guaranteed absent from every corpus. Every word has three
# syllables, so text bytes per token do not depend on which words a
# seed puts at the Zipf head.
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
BANDS = {"hot": (0, 20), "mid": (100, 1000), "rare": (3000, VOCAB_SIZE)}
LANGS = ("en",) * 7 + ("de", "fr", "es")
MALFORMED_FRAC = 0.05


def _word(i: int) -> str:
    n = len(_SYLLABLES)
    return _SYLLABLES[i % n] + _SYLLABLES[(i // n) % n] + _SYLLABLES[i // (n * n)]


WORDS = [_word(i) for i in range(VOCAB_SIZE)]


@dataclass
class Corpus:
    """Generated pages plus the word ranking they were drawn from."""

    seed: int
    pages: pd.DataFrame  # url, warc_ts, html (bytes), lang
    ids: np.ndarray  # doc ids, in page order
    body_tokens: list[list[str]]  # generated body words, per page
    by_rank: list[str]  # word at Zipf rank r (0 = most frequent)


def make_corpus(seed: int, n_docs: int) -> Corpus:
    rng = np.random.default_rng(seed)
    by_rank = [WORDS[i] for i in rng.permutation(VOCAB_SIZE)]
    p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(p / p.sum())
    body_lens = np.clip(rng.lognormal(5.0, 0.6, n_docs), 8, 2000).astype(int)
    title_lens = rng.integers(3, 9, n_docs)
    total = int(body_lens.sum() + title_lens.sum())
    ranks = np.minimum(np.searchsorted(cdf, rng.random(total)), VOCAB_SIZE - 1)
    vocab = np.array(by_rank)
    draws = vocab[ranks]
    ids = np.sort(rng.choice(10 * n_docs, n_docs, replace=False)).astype(np.int64)
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]
    malformed = rng.random(n_docs) < MALFORMED_FRAC
    shape = rng.integers(0, 3, n_docs)
    base_ts = pd.Timestamp("2026-01-01")

    rows, bodies = [], []
    off = 0
    for i in range(n_docs):
        title = " ".join(draws[off : off + title_lens[i]])
        off += title_lens[i]
        body = draws[off : off + body_lens[i]]
        off += body_lens[i]
        bodies.append(body.tolist())
        paras = "\n  ".join(" ".join(body[j : j + 40]) for j in range(0, len(body), 40))
        noise = tail = ""
        if malformed[i]:
            if shape[i] == 0:
                noise = "&#5;&#22;<!-- crawl noise -->"
            elif shape[i] == 1:
                tail = ' said "analyst'
            else:
                noise, tail = "<p><b>", " &amp;"
        html = (
            f"<HTML>\n<head><title>{title}</title>\n"
            f'<META name="id" content="{ids[i]}">\n'
            f"</head>\n<body>{noise}{paras}{tail}\n</body>\n</HTML>"
        )
        rows.append(
            {
                "url": f"https://site-{ids[i]}.test/p",
                "warc_ts": base_ts + pd.Timedelta(seconds=int(ids[i])),
                "html": html.encode("utf-8"),
                "lang": str(langs[i]),
            }
        )
    return Corpus(seed, pd.DataFrame(rows), ids, bodies, by_rank)


def _smooth_order(weights: dict[str, int]) -> list[str]:
    """Smooth weighted round-robin over one cycle of ``weights``."""
    total, cur, out = sum(weights.values()), dict.fromkeys(weights, 0), []
    for _ in range(total):
        for k in cur:
            cur[k] += weights[k]
        best = max(cur, key=cur.get)
        cur[best] -= total
        out.append(best)
    return out


class QueryStream:
    """Seeded query texts and ES bodies over one corpus."""

    def __init__(self, corpus: Corpus, seed: int):
        self.c = corpus
        self.rng = np.random.default_rng([seed, 7])
        self._cycles: dict[tuple, list] = {}

    def _next(self, weights: dict) -> object:
        """Next item of a smooth weighted cycle. Runs are short, so band,
        shape and term-count mixes follow fixed cycles and only the
        words are drawn at random: the mix is the same in every run."""
        key = tuple(weights.items())
        if not self._cycles.get(key):
            self._cycles[key] = _smooth_order(weights)
        return self._cycles[key].pop(0)

    def term(self, weights: dict[str, int]) -> str:
        band = self._next(weights)
        if band == "absent":
            return f"qx{int(self.rng.integers(0, 10**6))}"
        lo, hi = BANDS[band]
        return self.c.by_rank[int(self.rng.integers(lo, hi))]

    def terms(self, n: int, weights: dict[str, int]) -> list[str]:
        return [self.term(weights) for _ in range(n)]

    def phrase(self) -> str:
        """Two adjacent body words of a random page (so it has hits)."""
        toks = self.c.body_tokens[int(self.rng.integers(0, len(self.c.body_tokens)))]
        j = int(self.rng.integers(0, len(toks) - 1))
        return f"{toks[j]} {toks[j + 1]}"

    # -- search: one body per call, mixed shapes --------------------------

    MIXED = {"hot": 3, "mid": 4, "rare": 2, "absent": 1}
    # shapes per 20 searches; a run completes only about ten, so a fixed
    # smooth order keeps the latency median from jumping between the
    # fast and the slow shapes from seed to seed
    SHAPES = {"match": 8, "bool": 4, "match_phrase": 3, "multi_match": 3, "query_string": 2}

    def search_body(self, shape: str | None = None) -> dict:
        shape = shape or self._next(self.SHAPES)
        if shape == "match":
            q = {"match": {"text": " ".join(self.terms(self._next({1: 1, 2: 1, 3: 1}), self.MIXED))}}
        elif shape == "bool":
            must = self.term({"hot": 1, "mid": 1})
            should = self.term(self.MIXED)
            must_not = self.term({"mid": 1, "rare": 1})
            q = {"bool": {
                "must": [{"match": {"text": must}}],
                "should": [{"match": {"text": should}}],
                "must_not": [{"match": {"text": must_not}}],
                "filter": [{"term": {"lang": "en"}}],
            }}
        elif shape == "match_phrase":
            q = {"match_phrase": {"text": self.phrase()}}
        elif shape == "multi_match":
            q = {"multi_match": {
                "query": " ".join(self.terms(self._next({1: 1, 2: 1}), self.MIXED)),
                "fields": ["text", "title"],
            }}
        else:
            a, b, c = self.terms(3, {"hot": 2, "mid": 3})
            text = (f"{a} AND ({b} OR {c})" if self._next({"and": 1, "title": 1}) == "and"
                    else f'title:{a} OR "{self.phrase()}"')
            q = {"query_string": {"query": text, "default_field": "text"}}
        return {"query": q, "size": 10}

    # -- msearch: batches of match bodies weighted to the Zipf head --------

    HEAD = {"hot": 5, "mid": 4, "rare": 1}

    def msearch_batch(self, n: int = 100, size: int = 100) -> list[dict]:
        return [
            {"query": {"match": {"text": " ".join(self.terms(self._next({1: 1, 2: 1}), self.HEAD))}},
             "size": size}
            for _ in range(n)
        ]

    # -- upsert: a small re-PUT patch -----------------------------------------

    def patch(self, n_docs: int, live_ids: list[int], next_id: int):
        """``n_docs`` docs: three quarters re-PUT existing ids, the rest
        new ids from ``next_id``. Every patched text carries a marker
        token, which no generated word can equal."""
        n_old = (3 * n_docs) // 4
        old = self.rng.choice(np.asarray(live_ids), n_old, replace=False)
        ids = [int(x) for x in old] + list(range(next_id, next_id + n_docs - n_old))
        marker = "qxmark"
        rows = []
        for d in ids:
            words = self.terms(int(self.rng.integers(20, 80)), {"hot": 3, "mid": 5, "rare": 2})
            title = " ".join(self.terms(3, {"hot": 1, "mid": 1}))
            rows.append({"doc_id": d, "text": " ".join(words + [marker]),
                         "title": title, "lang": "en"})
        return marker, pd.DataFrame(rows)
