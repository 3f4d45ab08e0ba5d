"""The benchmark's own tests: seeded inputs, declared metric names, and
gates that trip on corrupted output.

    python3 -m pytest perfbench -q             # fast tests
    PERFBENCH_E2E=1 python3 -m pytest perfbench -q   # + one traced run (~1 min)
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

from collections import Counter

import pytest

from perfbench import inputs, run, tracing, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_inputs_other_seed_other_inputs():
    pages = lambda seed: inputs.heavy_pages(inputs.page_ids(seed, 30))  # noqa: E731
    assert inputs.digest(pages(3)) == inputs.digest(pages(3))
    assert inputs.digest(pages(3)) != inputs.digest(pages(4))
    docs = lambda seed: inputs.documents(seed, 50, 0.1)  # noqa: E731
    assert inputs.digest(docs(3)) == inputs.digest(docs(3))
    assert inputs.digest(docs(3)) != inputs.digest(docs(4))


def test_any_integer_seed_gives_valid_pages():
    for seed in (0, -1, 2**31 + 5, 2**64, inputs.SEED_SLOTS - 1):
        ids = inputs.page_ids(seed, 3)
        assert 0 <= ids[0] < inputs.SEED_SLOTS * inputs.ID_SPAN
        assert inputs.heavy_pages(ids)[-1]["warc_ts"].year <= 9999
        assert inputs.documents(seed, 5, 0.2)[0]["doc_id"] == ids[0]


def _shingles(text: str) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))}


def test_hot_documents_are_lsh_candidates_that_verification_rejects():
    docs = inputs.documents(1, 1000, workloads.DedupHotBucket.HOT_FRAC)
    heads = [d["text"][:200] for d in docs]
    top = max(set(heads), key=heads.count)
    hot = [_shingles(d["text"]) for d in docs if d["text"].startswith(top)]
    assert len(hot) >= 0.05 * len(docs)
    a, b = hot[0], hot[1]
    assert 0.7 < len(a & b) / len(a | b) < 0.8  # collide in bands, fail the 0.8 verify


def test_benchmark_json_follows_the_name_rules(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for part in ("workloads", "end_to_end", "per_layer") for m in spec[part]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_undeclared_metric_is_refused(spec):
    ok = run.select_metrics({"setup_s": 1.5}, spec["end_to_end"])
    assert set(ok) == {m["name"] for m in spec["end_to_end"]}
    with pytest.raises(RuntimeError, match="not declared"):
        run.select_metrics({"setup_secs": 1.5}, spec["end_to_end"])


def test_corrupted_edges_trip_the_planted_edge_gate():
    gold = {(f"s{i}", "p", f"o{i}"): (2, (f"u{i}", f"v{i}")) for i in range(20)}
    edges = [(s, p, o, n, ev, 1.0) for (s, p, o), (n, ev) in sorted(gold.items())]
    assert workloads.edge_gate(edges, gold) == []
    assert workloads.edge_gate(edges[1:], gold)  # one edge dropped
    assert workloads.edge_gate(edges + [("s0", "q", "o0", 1, ("u0",), 1.0)], gold)
    assert workloads.edge_gate(edges + edges[:1], gold)  # duplicated
    assert workloads.edge_gate([edges[0][:3] + (1, ("u0",), 1.0)] + edges[1:], gold)  # lost a page


def test_missing_node_trips_the_node_gate():
    gold = {("s0", "p", "o0"): (1, ("u",)), ("s1", "p", "o0"): (1, ("u",))}
    nodes = [(n, n, "ORG", (n,), 1) for n in ("o0", "s0", "s1")]
    assert workloads.node_gate(nodes, gold) == []
    assert workloads.node_gate(nodes[1:], gold)
    assert workloads.node_gate(nodes + [("x", "x", "ORG", ("x",), 1)], gold)


def test_distributed_graph_unlike_the_fast_path_is_refuted(monkeypatch):
    gold = {("s0", "p", "o0"): (1, ("u",))}
    nodes = [(n, n, "ORG", (n,), 1) for n in ("o0", "s0")]
    edges = [("s0", "p", "o0", 1, ("u",), 1.0)]
    monkeypatch.setattr(workloads, "golden_edges", lambda ids, urls: gold)
    monkeypatch.setattr(workloads, "graph_snapshot", lambda n, e: (n, e))
    wl = workloads.KgBuildCold("", 1, 1)
    wl.ids, wl.urls = [], []
    wl.last = {"nodes": nodes, "edges": edges}
    wl.distributed = {"nodes": nodes, "edges": [edges[0][:4] + (("v",), 1.0)]}
    samples = [run.Sample("build", 1.0, (2, 1), True), run.Sample("build_distributed", 1.0, (2, 1), True)]
    wl.check(samples)
    assert [s.ok for s in samples] == [True, False]


def test_plan_node_rows_come_from_the_spans_own_executions():
    plan = {"simpleString": "HashAggregate(keys=[a#3L, b#4L], functions=[])",
            "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
            "children": [{"simpleString": "Exchange hashpartitioning(a#3L, b#4L, 4)", "children": [
                {"simpleString": "HashAggregate(keys=[a#3L, b#4L], functions=[])",
                 "metrics": [{"name": "number of output rows", "accumulatorId": 9}]}]}]}
    tracer = tracing.Tracer(sc=None)
    tracer.plans = {5: plan, 6: plan}
    span = tracing.Span(1, "count", None, 0.0, 1.0, executions={5}, accums=Counter({7: 40, 9: 55, 11: 3}))
    assert sorted(tracing.node_output_rows(tracer, [span], workloads.CANDIDATE_AGG)) == [40, 55]
    assert tracing.node_output_rows(tracer, [], workloads.CANDIDATE_AGG) == []


def test_removed_planted_pair_trips_the_dedup_gate():
    planted = {(1, 11), (2, 12)}
    one = planted | {(3, 4)}
    inc_ids = {4, 12}
    inc = {(2, 12), (3, 4)}
    assert workloads.dedup_gate(one, inc, planted, inc_ids) == []
    assert workloads.dedup_gate(one - {(1, 11)}, inc, planted, inc_ids)
    assert workloads.dedup_gate(one, inc - {(3, 4)}, planted, inc_ids)


def test_timed_window_runs_at_least_min_cycles():
    class Fake(workloads.Workload):
        kinds = ("a", "b")
        op_a = op_b = staticmethod(lambda: 1)

    samples = run.timed_ops(Fake("", 0, 1), seconds=0, tracer=None)
    assert [s.kind for s in samples] == ["a", "b"] * Fake.min_cycles


def test_timed_dedup_output_unlike_the_reference_is_refuted():
    wl = workloads.DedupHotBucket("", 1, 1)
    wl.base, wl.N_DOCS = 0, 20
    planted = {(0, workloads.PLANTED_OFFSET), (10, 10 + workloads.PLANTED_OFFSET)}
    wl.one, wl.inc, wl.inc_ids = frozenset(planted | {(3, 4)}), frozenset({(3, 4)}), {4}
    samples = [run.Sample("dedup", 1.0, wl.one, True), run.Sample("increment", 1.0, wl.inc, True),
               run.Sample("dedup", 1.0, wl.one - {(3, 4)}, True)]
    wl.check(samples)
    assert [s.ok for s in samples] == [True, True, False] and not wl.gate_failed


@pytest.mark.skipif(not os.environ.get("PERFBENCH_E2E"), reason="set PERFBENCH_E2E=1 (~1 min)")
def test_traced_run_prints_every_declared_layer_metric(spec):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_build_cold", "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    assert list(out["metrics"]) == [m["name"] for m in spec["per_layer"]]
    assert out["metrics"]["trace.eager_cover"]["value"] >= 0.95
