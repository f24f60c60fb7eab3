"""Tests of the layered benchmark itself (not of the engine).

    python -m pytest layerbench/tests -q -p no:cacheprovider

The smoke tests run every workload at a tiny size in one shared Spark
session (a few minutes in all); the rest need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from layerbench import run as R  # noqa: E402
from layerbench import workloads as W  # noqa: E402
from layerbench.reference import Reference, same_topk  # noqa: E402
from layerbench.trace import Span, Tracer, covered  # noqa: E402

TINY = W.Sizes(code_docs=300, hot_docs=2000, hot_terms=20, hot_p=0.92,
               hot_query_terms=18)


# ------------------------------------------------------------------ spans


def _tree(tr: Tracer, spans):
    """spans: (name, start, end, parent index)"""
    for name, s, e, parent in spans:
        sp = Span(name, s, parent, None, 0)
        sp.end = e
        tr.spans.append(sp)


def test_self_times_add_up_to_root():
    tr = Tracer(enabled=True)
    _tree(tr, [("root", 0.0, 10.0, None),
               ("a", 1.0, 4.0, 0),
               ("a1", 1.5, 2.5, 1),
               ("b", 5.0, 9.0, 0)])
    assert tr.self_time(0) == pytest.approx(3.0)
    assert tr.self_time(1) == pytest.approx(2.0)
    total = sum(tr.self_time(i) for i in range(len(tr.spans)))
    assert total == pytest.approx(tr.spans[0].duration)


def test_self_time_counts_overlapping_children_once():
    tr = Tracer(enabled=True)
    # two parallel children (the split-job pool) overlapping on [3, 5]
    _tree(tr, [("root", 0.0, 10.0, None),
               ("seg", 1.0, 5.0, 0),
               ("seg", 3.0, 8.0, 0)])
    assert tr.self_time(0) == pytest.approx(10.0 - 7.0)
    assert covered((s.start, s.end) for s in tr.spans[1:]) == \
        pytest.approx(7.0)


def test_live_spans_nest_across_threads():
    tr = Tracer(enabled=True)
    with tr.span("root"):
        time.sleep(0.02)

        def work():
            with tr.span("child"):
                time.sleep(0.03)

        ts = [threading.Thread(target=work) for _ in range(3)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in ts)
    assert [s.parent for s in tr.spans] == [None, 0, 0, 0]
    root = tr.spans[0]
    cov = covered((s.start, s.end) for s in tr.spans[1:])
    assert tr.self_time(0) == pytest.approx(root.duration - cov)
    assert 0 < tr.self_time(0) < root.duration


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


# -------------------------------------------------------------- reference


@pytest.mark.parametrize("mode", ["and", "or", "phrase"])
def test_reference_matches_golden_brute_force(mode):
    from datastream_io_spark.golden import brute_force_topk

    corpus = W.code_corpus(80, seed=5)
    docs = corpus.reset_index().rename(
        columns={"index": "doc_id", "content": "text"})
    ref = Reference(docs[["doc_id", "text", "lang"]], "code")
    for q in ["parse config", "doc id ident_1", "read batch", "error"]:
        gold = [(g["doc_id"], g["score"])
                for g in brute_force_topk(docs, q, 10, mode,
                                          tokenizer="code")]
        assert same_topk(ref.ranked(q, 10, mode), gold), (q, mode)


def test_deleted_docs_leave_answers_but_keep_statistics():
    corpus = W.code_corpus(80, seed=5)
    docs = corpus.reset_index().rename(
        columns={"index": "doc_id", "content": "text"})
    ref = Reference(docs[["doc_id", "text", "lang"]], "code")
    before = ref.ranked("parse config", 10, "or")
    ref.delete([before[0][0]])
    after = ref.ranked("parse config", 10, "or")
    assert before[0][0] not in [d for d, _ in after]
    # the survivors keep their scores: idf and avgdl still count the
    # deleted doc, as the engine's do until a purge
    assert after[:len(before) - 1] == before[1:len(after) + 1]


def test_wrong_answers_do_not_match():
    exp = [(3, 1.5), (7, 1.25)]
    assert same_topk(exp, exp)
    assert not same_topk([(7, 1.25), (3, 1.5)], exp)
    assert not same_topk([(3, 1.5 + 1e-6), (7, 1.25)], exp)
    assert not same_topk(exp[:1], exp)
    op = W.Op("facet", "a b", mode="and")
    assert not W.matches(op, {"py": 2}, {"py": 3})


# ------------------------------------------------------------------- CLI


def test_refuses_gate_override(monkeypatch, capsys):
    for var in R.REFUSED_ENV:
        monkeypatch.setenv(var, "1")
        assert R.main(["--workload", "query_warm", "--seed", "1",
                       "--seconds", "1"]) == 2
        monkeypatch.delenv(var)
    assert "refusing" in capsys.readouterr().err


def test_fails_without_the_engine(tmp_path):
    """A directory with only the benchmark's own files must fail fast
    and print no result."""
    shutil.copytree(BENCH, tmp_path / "layerbench",
                    ignore=shutil.ignore_patterns(".work", "out",
                                                  "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "layerbench/run.py", "--workload", "query_hot",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# ------------------------------------------------------------ smoke tests


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("layerbench"))
    R.prepare_env(d)
    return d


@pytest.mark.parametrize("trace", [False, True])
def test_query_warm_smoke(work, trace):
    rep = R.run_workload("query_warm", seed=3, seconds=1, trace=trace,
                         work=os.path.join(work, f"warm{trace}"),
                         sizes=TINY)
    assert rep["correct"], rep["info"]
    assert rep["failed"] == 0 and rep["attempted"] > 1
    assert set(R.E2E_UNITS) <= set(rep["e2e"])
    assert all(v > 0 for v in rep["e2e"].values())
    assert rep["info"]["single_task_frac"] == 1.0
    if trace:
        assert set(R.LAYER_UNITS) <= set(rep["layers"])
        assert rep["layers"]["query.single_task_frac"] == 1.0


@pytest.mark.parametrize("trace", [False, True])
def test_query_hot_smoke(work, trace, monkeypatch):
    # at smoke size no query can pass the real 2M-posting gate, so the
    # gate itself is lowered in-process (the CLI refuses the env knob)
    from datastream_io_spark.operators import indexed_search

    monkeypatch.setattr(indexed_search, "SINGLE_TASK_MAX_POSTINGS", 1000)
    rep = R.run_workload("query_hot", seed=4, seconds=1, trace=trace,
                         work=os.path.join(work, f"hot{trace}"),
                         sizes=TINY)
    assert rep["correct"], rep["info"]
    assert rep["info"]["single_task_frac"] == 0.0
    assert rep["info"]["est_postings_min"] > 1000
    if trace:
        assert set(R.LAYER_UNITS) <= set(rep["layers"])
        assert rep["layers"]["build.segments.spark_jobs"] > 0
        json.dumps(rep["layers"])


def test_wrong_topk_fails_the_run(work, monkeypatch):
    real = W._result

    def off_by_one(op, rows):
        res = real(op, rows)
        if op.kind == "and" and res:
            res[0] = (res[0][0], res[0][1] + 1e-3)
        return res

    monkeypatch.setattr(W, "_result", off_by_one)
    rep = R.run_workload("query_warm", seed=3, seconds=1, trace=False,
                         work=os.path.join(work, "wrong"), sizes=TINY)
    assert not rep["correct"]
    assert rep["failed"] >= 1


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(R.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == R.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        R.LAYER_UNITS
