"""The benchmark's own tests; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.PARAMS))
def test_same_seed_same_bytes_other_seed_differs(tmp_path, workload):
    a, meta_a = gen.generate(workload, 7, str(tmp_path / "a"))
    b, meta_b = gen.generate(workload, 7, str(tmp_path / "b"))
    c, _ = gen.generate(workload, 8, str(tmp_path / "c"))
    assert _tree(a) == _tree(b)
    assert meta_a == meta_b
    ta, tc = _tree(a), _tree(c)
    assert ta.keys() == tc.keys()
    # only the fixed source -> subsource layout, and the recorded input
    # sizes where they do not depend on the seed, are the same
    same = [k for k in ta if ta[k] == tc[k] and k != "expected.json"]
    assert same in ([], ["src2sub.txt"])
    assert meta_a["docs"] > 0


def test_generate_reuses_cache(tmp_path):
    d, _ = gen.generate("stats_stream", 3, str(tmp_path))
    marker = os.path.join(d, "expected.json")
    before = os.stat(marker).st_mtime_ns
    assert gen.generate("stats_stream", 3, str(tmp_path))[0] == d
    assert os.stat(marker).st_mtime_ns == before


def test_term_stats_rows_reference_semantics():
    docs = [
        (["nferdoccount_0", "a", "b", "a"], "s1"),
        (["a", "b"], "s1"),
    ]
    rows, exploded, kept = gen.term_stats_rows(
        docs, max_n=2, vocabulary={"a b"}, drop_docid=True
    )
    got = {r[0]: r[2:] for r in rows}
    # df, tf, tdsum (word count includes the doc-counter token)
    assert got["a"] == (2, 3, 6)
    assert got["b"] == (2, 2, 6)
    assert got["a b"] == (2, 2, 6)
    assert "b a" not in got and "nferdoccount_0" not in got
    assert "nferdoccount_0 a" not in got
    # doc 1: 3 unigrams + 3 bigrams, doc 2: 2 + 1; the gate keeps
    # every unigram and only "a b" among the bigrams
    assert (exploded, kept) == (9, 7)


def test_row_agreement():
    expected = {("a", 1), ("b", 2)}
    assert gen.row_agreement([("b", 2), ("a", 1)], expected) == 1.0
    assert gen.row_agreement([("a", 1)], expected) == 0.5
    assert gen.row_agreement([("a", 1), ("b", 2), ("b", 2)], expected) == 2 / 3


def test_near_dedup_reference_helpers():
    a = gen.shingles("x y z w", 3)
    assert a == {"x y z", "y z w"}
    assert gen.jaccard(a, gen.shingles("x y z q", 3)) == 1 / 3
    assert gen.components([1, 2, 3, 4, 5], [(2, 4), (4, 5)]) == [
        frozenset({1}),
        frozenset({2, 4, 5}),
        frozenset({3}),
    ]


def test_near_dedup_plants_pairs_on_both_sides_of_the_threshold(tmp_path):
    d, meta = gen.generate("near_dedup", 5, str(tmp_path))
    p = gen.PARAMS["near_dedup"]
    clone_pairs = sum(n * (n - 1) // 2 for n in p["clone_groups"])
    family_pairs = p["families"] * (p["family_variants"] + 1) * p["family_variants"] // 2
    # every clone pair is true; some family pairs are and some are not
    assert clone_pairs < meta["true_pairs"] < clone_pairs + family_pairs
    assert meta["docs"] == (
        p["unique"] + sum(p["clone_groups"]) + p["families"] * (p["family_variants"] + 1)
    )


def test_exact_topk_is_cosine_ranking():
    import numpy as np

    corpus = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [-1.0, 0.0]])
    got = gen.exact_topk(np.array([[2.0, 0.1]]), corpus, 2)
    assert got.tolist() == [[0, 2]]


def test_tail_has_ten_samples_beyond():
    q = 1 - 10 / 24
    samples = [float(i) for i in range(24)]
    assert sum(s > run.tail(samples, q) for s in samples) == 10
    assert sum(s > run.tail(samples * 2, q) for s in samples * 2) >= 10
    assert run.tail([3.0, 1.0, 2.0], 1.0) == 3.0
    assert run.tail([3.0, 1.0, 2.0], 0.5) == 2.0


def test_every_benchmark_metric_is_reported_with_its_unit():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layer == run.PER_LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])


def test_self_time_subtracts_children():
    tr = tracing.Tracer.__new__(tracing.Tracer)
    tr.spans = [
        {"name": "p.run", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "a.f", "parent": 0, "start": 1.0, "end": 4.0},
        {"name": "b.g", "parent": 0, "start": 5.0, "end": 9.0},
    ]
    assert tr.self_times() == [3.0, 3.0, 4.0]


def test_stage_metrics_attributed_by_job_group(tmp_path):
    events = [
        {
            "Event": "SparkListenerJobStart",
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "g1"},
        },
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 1,
                "Number of Tasks": 4,
                "Accumulables": [
                    {"Name": "internal.metrics.executorCpuTime", "Value": 2e9},
                    {"Name": "internal.metrics.jvmGCTime", "Value": 500},
                    {"Name": "internal.metrics.diskBytesSpilled", "Value": 2**20},
                ],
            },
        },
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events))
    got = tracing.stage_metrics_by_group(str(tmp_path))["g1"]
    assert got == {
        "cpu_s": 2.0,
        "gc_s": 0.5,
        "shuffle_write_mb": 0.0,
        "spill_mb": 1.0,
        "tasks": 4,
        "jobs": 1,
    }


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, desc):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        self.groups.append(value)


def test_patched_shims_span_each_call_and_restore():
    module = types.SimpleNamespace(f=lambda x: x + 1, g=lambda x: x * 2)
    original = module.f
    tr = tracing.Tracer(types.SimpleNamespace(sparkContext=_FakeContext()), "r")
    with tr.patched([(module, "f", "m.f")]):
        with tr.span("m.root"):
            assert module.f(1) == 2
            assert module.g(1) == 2
    assert module.f is original
    assert [s["name"] for s in tr.spans] == ["m.root", "m.f"]
    assert tr.spans[1]["parent"] == 0
    assert tr.calls[0]["args"] == (1,) and tr.calls[0]["out"] == 2


def test_rss_of_this_process_is_positive():
    assert tracing.tree_rss_bytes(os.getpid()) > 0
