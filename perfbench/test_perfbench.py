"""Self-tests of the benchmark: seeded inputs, self-time arithmetic, and a
tiny smoke run of each workload.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from probes import Span, layer_self_times, self_times  # noqa: E402
from workloads import WORKLOADS, smooth_weighted_order  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _gen(path, seed):
    return gen.generate(str(path), seed, docs=300, events=2000, embeddings=100,
                        batches=((200, 3), (500, 4)))


def test_same_seed_same_files_other_seed_other_files(tmp_path):
    _gen(tmp_path / "a", 5)
    _gen(tmp_path / "b", 5)
    _gen(tmp_path / "c", 6)
    a, b, c = (_files(tmp_path / x) for x in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if k.endswith((".parquet", ".json", ".jsonl")))


def test_expected_counts_follow_pipeline_rules():
    recs = [
        {"post_id": "p2", "text": "Flu going around!"},
        {"post_id": "p1", "text": "flu going   around"},  # same fingerprint, lower id
        {"id": "s1", "text": "cough only here"},  # one secondary term: not relevant
        {"id": "s2", "text": "cough and fever"},  # two secondary terms
    ]
    assert gen.expected_counts(recs) == {"n_bronze": 4, "n_unique": 3, "n_relevant": 2}


def test_self_times_on_hand_built_tree():
    spans = [
        Span("request", 0.0, 10.0, None, "r"),
        Span("sources.read", 1.0, 4.0, 0, "r"),
        Span("domain.build", 2.0, 3.0, 1, "r"),
        Span("sinks.write", 4.0, 8.0, 0, "r"),
        Span("pipeline.gold", 8.0, 9.5, 0, "r"),
    ]
    assert self_times(spans) == pytest.approx([1.5, 2.0, 1.0, 4.0, 1.5])
    layers = layer_self_times(spans)["r"]
    assert layers == pytest.approx(
        {"client": 1.5, "sources": 2.0, "domain": 1.0, "sinks": 4.0, "pipeline": 1.5})
    assert sum(layers.values()) == pytest.approx(10.0)


def test_self_times_count_overlapping_children_once_and_clip():
    spans = [
        Span("request", 0.0, 10.0, None, "r"),
        Span("a.x", 1.0, 4.0, 0, "r"),
        Span("b.x", 3.0, 8.0, 0, "r"),
        Span("c.x", 9.0, 12.0, 0, "r"),  # runs past its parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 7.0 - 1.0)


def test_weighted_order_tracks_weights():
    w = {"a": 3, "b": 1}
    order = smooth_weighted_order(w, 40)
    assert order.count("a") == 30 and order.count("b") == 10
    assert "b" in order[:4]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_prints_every_metric(workload):
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", "1", "--small"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec["per_layer"]}
    table = "\n".join(lines[:-1])
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert f"\n{m['name']} " in "\n" + table, m["name"]
    assert "error_rate" in table and "n=" in table
