"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_smoke.py -q

The gate and generator tests need no Spark. The run tests drive
``run.py`` end to end on a 200-page corpus for one second, so they check
that every metric of ``BENCHMARK.json`` is produced and that the tiny
run is correct; they take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.corpus import WORDS, QueryStream, make_corpus  # noqa: E402
from perfbench.gate import Oracle, check_body, check_marker, check_match  # noqa: E402


@pytest.fixture(scope="module")
def small():
    c = make_corpus(5, 150)
    return c, Oracle(c.pages, c.ids), QueryStream(c, 5)


def test_corpus_is_seeded():
    a, b, other = make_corpus(9, 60), make_corpus(9, 60), make_corpus(10, 60)
    assert list(a.pages["html"]) == list(b.pages["html"])
    assert list(a.pages["html"]) != list(other.pages["html"])
    assert len(set(WORDS)) == len(WORDS)
    assert not any("q" in w or "x" in w for w in WORDS)  # "qx…" terms stay absent


def test_gate_accepts_the_reference_answer(small):
    _, oracle, stream = small
    for _ in range(20):
        body = stream.search_body("match")
        text = body["query"]["match"]["text"]
        assert check_match(oracle, text, 10, oracle.topk(text, 10)) is None


def test_gate_rejects_wrong_answers(small):
    c, oracle, _ = small
    text = c.by_rank[0]
    right = oracle.topk(text, 10)
    assert len(right) == 10
    swapped = [right[1], right[0]] + right[2:]
    assert check_match(oracle, text, 10, swapped)
    assert check_match(oracle, text, 10, right[:-1])
    assert check_match(oracle, text, 10, [(right[0][0], right[0][1] * 1.001)] + right[1:])
    phrase = {"query": {"match_phrase": {"text": " ".join(c.body_tokens[0][:2])}}, "size": 10}
    hits = [(d, 1.0) for d in sorted(oracle.match_set(phrase["query"]))][:10]
    assert check_body(oracle, phrase, hits) is None
    outsider = next(int(d) for d in c.ids if int(d) not in oracle.match_set(phrase["query"]))
    assert check_body(oracle, phrase, hits[:-1] + [(outsider, 0.5)])
    assert check_marker("qxmark0", {1, 2}, [(1, 1.0)])


@pytest.mark.parametrize("shape", ["bool", "multi_match", "query_string"])
def test_gate_scores_the_scored_shapes(small, shape):
    """Each scored shape is judged on pyref scores, not only on its
    match set: a matching doc that ranks too low is refused."""
    _, oracle, stream = small
    checked = 0
    for _ in range(40):
        body = stream.search_body(shape)
        expected = oracle.scores(body["query"])
        if expected is None or len(expected) <= 10:
            continue  # the title:/phrase form, or too few docs to leave one out
        ranked = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))
        right = ranked[:10]
        assert check_body(oracle, body, right) is None
        if ranked[9][1] > ranked[-1][1]:
            assert check_body(oracle, body, right[:-1] + [ranked[-1]])
        d, s = right[0]
        assert check_body(oracle, body, [(d, s * 1.001)] + right[1:])
        checked += 1
    assert checked >= 3


def _run(cwd, *args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("workload,trace", [("search", 0), ("search", 1), ("msearch", 1)])
def test_tiny_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--docs", "200")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    section = spec["per_layer" if trace else "end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in section} == {
        k: v["unit"] for k, v in result["metrics"].items()}


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "search", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout == ""
