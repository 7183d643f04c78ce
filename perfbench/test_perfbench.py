"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> run.Run:
    args = argparse.Namespace(workload=workload, seed=1, seconds=1.0, trace=trace)
    return run.Run(args, {"nproc": 4, "driver_mem": "1g"})


def _named(workload: str) -> dict:
    slots = run.WORKLOAD_SLOTS[workload]
    named = {"setup_s": 30.5, "peak_rss_mb": 240.1, "index_bytes_per_input_byte": 0.61}
    named.update({src: 12.3 for src, _ in slots.values()})
    return named


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_benchmark_metric_is_printed_with_its_unit(workload):
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    r = _run(workload, trace=0)
    r.op("x")
    line = run.result_line(r, _named(workload), {})
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in bench["end_to_end"]
    }
    t = _run(workload, trace=1)
    t.op("x")
    layers = {name: 1.5 for name in run.per_layer_names()}
    line = run.result_line(t, {}, layers)
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in bench["per_layer"]
    }
    json.dumps(line)  # the line must serialize


def test_generators_are_deterministic_for_a_fixed_seed():
    pd.testing.assert_frame_equal(gen.corpus_rows(7, 0, 300), gen.corpus_rows(7, 0, 300))
    assert not gen.corpus_rows(7, 0, 300).equals(gen.corpus_rows(8, 0, 300))
    assert gen.query_log(7, 10_000, 200) == gen.query_log(7, 10_000, 200)
    assert gen.query_log(7, 10_000, 200) != gen.query_log(8, 10_000, 200)
    a, b = gen.micro_batches(7, 1_000, 2, 200, 3), gen.micro_batches(7, 1_000, 2, 200, 3)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x["rows"], y["rows"])
        assert (x["probe_term"], x["probe_path"], x["removed"]) == (
            y["probe_term"], y["probe_path"], y["removed"])


def test_micro_batches_carry_removes_of_earlier_rare_keys():
    mb = gen.micro_batches(3, 1_000, 2, 200, 3)
    for b in mb:
        rows = b["rows"]
        assert (rows["op"] == "remove").sum() == 3
        assert b["probe_path"] in set(rows.loc[rows["op"] == "add", "path"])
        for _, path, _, term in b["removed"]:
            i = int(term.removeprefix("rareterm"))
            assert i < 1_000 and i % gen.RARE_EVERY == 0 and f"/f{i}." in path


def test_query_log_draws_every_class_and_keeps_masks_mode_prefixes():
    log = gen.query_log(5, workloads.N_DOCS, workloads.LOG_LENGTH)
    assert {q["cls"] for q in log} == set(gen.CLASS_WEIGHTS)
    rare = [i for i in range(0, workloads.N_DOCS, gen.RARE_EVERY)]
    for q in log:
        if q["query"].startswith("rareterm") and q["query"].endswith("*"):
            p = q["query"][:-1]
            assert sum(gen.rare_term(i).startswith(p) for i in rare) <= 63


def test_an_injected_wrong_answer_counts_as_a_failure():
    r = _run("serve", trace=0)
    out = pd.DataFrame({"doc_id": [5, 3], "score": [2.0, 1.0], "repo": ["a", "a"],
                        "path": ["p5", "p3"], "commit": ["c", "c"]})
    q = {"query": "x"}
    right = workloads.canon([5, 3], [2.0, 1.0])
    workloads.check_local(r, r.op("local"), q, out, right, removed_keys=set())
    assert run.result_line(r, _named("serve"), {})["failed"] == 0
    wrong = workloads.canon([5, 4], [2.0, 1.0])
    workloads.check_local(r, r.op("local"), q, out, wrong, removed_keys=set())
    workloads.check_local(r, r.op("local"), q, out, right, removed_keys={("a", "p3", "c")})
    line = run.result_line(r, _named("serve"), {})
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 3, 2)


def test_canon_uses_the_engine_tie_order_on_6dp_scores():
    assert workloads.canon([1, 2, 3], [0.5000001, 0.5000004, 0.9]) == [
        (3, 0.9), (2, 0.5), (1, 0.5)]


def test_every_layer_metric_is_a_registered_per_layer_metric():
    import spans

    names = run.per_layer_names()
    assert len(names) == len(set(names))
    assert set(spans.derive(spans.Tracer())) <= set(names)
    for layer in spans.LAYER_MAP.values():
        for m in layer["metrics"]:
            if "*" not in m:
                assert m in names, m
