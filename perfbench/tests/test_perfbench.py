"""Tests of the benchmark's own code (no Spark, no replica process).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run  # noqa: E402
from metrics import BUILD_LAYERS, E2E_METRICS, LAYER_FIELDS, LAYER_METRICS  # noqa: E402
from tracing import Spans, covered, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _inputs(root, seed, n_docs=300):
    lengths, ranks = gen.corpus_ranks(seed, n_docs, run.VOCAB)
    corpus = gen.corpus_table(lengths, ranks, seed)
    warm, queries = run.queries_for("serve_tail", seed, 1, np.unique(ranks))
    head = gen.head_queries(seed, 200, run.HEAD, set(gen.head_warmup(run.HEAD)))
    return gen.write_inputs(str(root), corpus, {"tail": warm + queries, "head": head})


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (_inputs(tmp_path / d, s) for d, s in (("a", 7), ("b", 7), ("c", 8)))
    for name in ("tail", "head"):
        assert filecmp.cmp(a[name], b[name], shallow=False)
        assert not filecmp.cmp(a[name], c[name], shallow=False)
    part = os.path.join("part-0.parquet")
    assert filecmp.cmp(os.path.join(a["corpus"], part), os.path.join(b["corpus"], part),
                       shallow=False)
    assert not filecmp.cmp(os.path.join(a["corpus"], part),
                           os.path.join(c["corpus"], part), shallow=False)


def test_query_sets_have_the_documented_shape():
    lengths, ranks = gen.corpus_ranks(3, 500, run.VOCAB)
    assert lengths.min() >= 20 and lengths.max() <= 400
    present = np.unique(ranks)
    warm, head = run.queries_for("serve_head", 3, 1, present)
    keys = [" ".join(sorted(q.split())) for q in warm + head]
    assert len(keys) == len(set(keys)), "head queries repeat (whole-result cache hits)"
    assert {t for q in warm for t in q.split()} == {gen.term(r) for r in range(run.HEAD)}
    for q in head:
        terms = q.split()
        assert 1 <= len(terms) <= 3 and all(int(t[1:]) < run.HEAD for t in terms)
    _, tail = run.queries_for("serve_tail", 3, 1, present)
    assert len({" ".join(sorted(q.split())) for q in tail}) == len(tail)
    for q in tail:
        ranks_q = [int(t[1:]) for t in q.split()]
        assert 1 <= len(ranks_q) <= 3
        assert all(r >= run.TAIL_FROM and r in set(present.tolist()) for r in ranks_q)


def test_benchmark_json_is_well_formed(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_emitted_metric_names_match_benchmark_json(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_METRICS
    for layer in BUILD_LAYERS:
        for field in LAYER_FIELDS:
            assert f"{layer}.{field}" in LAYER_METRICS


def test_serve_layers_names_and_self_times(tmp_path):
    spans = Spans()
    t = [0.0]

    def at(dt):
        t[0] += dt
        return t[0]

    # two requests: a warm-up and one timed; times set by hand
    for _ in range(2):
        q = spans.open("serve.query")
        s = spans.open("serve.score_select")
        a = spans.open("serve.assemble")
        r = spans.open("serve.read")
        spans.close(r, blocks=3)
        d = spans.open("serve.decode")
        spans.close(d, ints=384)
        spans.close(a, postings=192)
        spans.close(s)
        spans.close(q)
        base = at(10.0)
        for i, (start, end) in zip((q, s, a, r, d), ((0, 10), (1, 9), (2, 8), (2, 4), (5, 6))):
            spans.rows[i]["start"], spans.rows[i]["end"] = base + start, base + end
    from tracing import write_trace

    path = str(tmp_path / "replica.jsonl")
    write_trace(path, spans.rows)
    got = run.serve_layers(path, n_warm=1, n_timed=1)
    assert set(got) <= set(LAYER_METRICS)
    assert got["serve.query_other_ms"] == pytest.approx(2000)  # 10 - 8
    assert got["serve.score_select_ms"] == pytest.approx(2000)  # 8 - 6
    assert got["serve.assemble_ms"] == pytest.approx(3000)  # 6 - 2 - 1
    assert got["serve.read_ms"] == pytest.approx(2000)
    assert got["serve.decode_ms"] == pytest.approx(1000)
    assert (got["serve.blocks_read"], got["serve.ints_decoded"],
            got["serve.postings_scored"]) == (3, 384, 192)


def test_covered_merges_overlapping_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(2, 4), (3, 6), (8, 12), (-5, 1)]) == pytest.approx(7)
    assert covered(0, 10, [(11, 12), (5, 5)]) == 0


def test_self_time_subtracts_union_of_children():
    rows = [
        {"name": "p", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 5.0, "parent": 0},
        {"name": "b", "start": 4.0, "end": 7.0, "parent": 0},  # overlaps a
        {"name": "c", "start": 2.0, "end": 3.0, "parent": 1},
    ]
    assert self_times(rows) == pytest.approx([4.0, 3.0, 3.0, 1.0])


def test_chunked_stats_are_medians_over_slices():
    # four slices of 100 requests; one slice is a burst of 10 ms stalls
    rtt = [1.0] * 100 + [10.0] * 100 + [1.0] * 200
    done, t = [], 0.0
    for x in rtt:
        t += x / 1000
        done.append(t)
    got = run.chunked_stats(rtt, done)
    assert got["serve_p95_ms"] == 1.0
    assert got["serve_qps"] == pytest.approx(1000.0)


def test_replica_rows_follow_the_benchmark_spans(tmp_path):
    from tracing import write_trace

    spans = Spans()
    q = spans.open("serve.query")
    spans.close(spans.open("serve.score_select"))
    spans.close(q)
    path = str(tmp_path / "replica.jsonl")
    write_trace(path, spans.rows)
    ours = [{"name": "build", "start": 0.0, "end": 1.0, "parent": None, "request": 0},
            {"name": "batch", "start": 1.0, "end": 2.0, "parent": None, "request": 1}]
    rows = run.replica_rows(path, ours)
    assert [r["parent"] for r in rows] == [None, 2]
    assert [r["request"] for r in rows] == [2, 2]
    assert all(r["process"] == "replica" and "self" not in r for r in rows)


def test_same_ranking_is_tie_aware_at_the_cut():
    import check

    want = [(1, 3.0), (2, 2.0), (3, 1.0), (4, 1.0)]
    assert check.same_ranking([(1, 3.00001), (2, 2.0), (4, 1.0), (5, 1.0)], want,
                              boundary={3, 4, 5})
    assert not check.same_ranking([(1, 3.0), (2, 2.0), (4, 1.0), (6, 1.0)], want,
                                  boundary={3, 4, 5})
    assert not check.same_ranking([(2, 3.0), (1, 2.0), (3, 1.0), (4, 1.0)], want)
    assert not check.same_ranking([(1, 3.0), (2, 2.001), (3, 1.0), (4, 1.0)], want)
