"""Benchmark-local tests (no Spark): seeded generators, span self time,
the tail-percentile rule and metric-name validity.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, layers, stats
from perfbench.trace import Tracer, self_time, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GENERATORS = {
    "crawl_seeds": lambda s: gen.crawl_seeds(s, 500, 50),
    "frontier_table": lambda s: gen.frontier_table(s, 2000, 500),
    "hub_documents": lambda s: gen.hub_documents(s, 600),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_gives_identical_bytes(name):
    make = GENERATORS[name]
    assert gen.to_bytes(make(7)) == gen.to_bytes(make(7))


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_different_seed_gives_different_bytes(name):
    make = GENERATORS[name]
    assert gen.to_bytes(make(7)) != gen.to_bytes(make(8))


def test_generators_are_zipf_skewed_and_well_formed():
    seeds = gen.crawl_seeds(3, 5000, 500)
    hosts = [u.split("/")[2].lower().split(":")[0] for u, _ in seeds]
    top = max(hosts.count(h) for h in set(hosts))
    assert top > 10 * len(hosts) / len(set(hosts))  # a hot host
    assert all(0 <= p < 10 for _, p in seeds)
    docs = gen.hub_documents(3, 100).to_pylist()
    # the first five ids of a 50-block are near-duplicates of each other
    assert docs[0]["text"].rsplit(" ", 1)[0] == docs[4]["text"].rsplit(" ", 1)[0]
    assert docs[0]["text"] != docs[4]["text"]
    assert {d["source"] for d in docs} == {f"src{i}" for i in range(20)}
    assert all(d["n_chars"] == len(d["text"]) for d in docs)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 5), (1, 2), (3, 4)]) == 5
    assert union_length([(1, 1), (2, 1)]) == 0


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(1, 3), (2, 4)]) == 7          # overlap counted once
    assert self_time(0, 10, [(1, 2), (5, 7)]) == 7
    assert self_time(0, 10, [(-5, 2), (8, 20)]) == 6        # clipped to the parent
    assert self_time(0, 10, [(0, 10), (3, 4)]) == 0


def test_tracer_records_parents_and_self_time():
    tr = Tracer("t")
    tr.round_id = 2
    with tr.span("root") as root:
        with tr.span("child") as child:
            with tr.span("grandchild"):
                pass
    assert child.parent == root.span_id and root.parent is None
    assert tr.named("grandchild")[0].parent == child.span_id
    assert {s.round_id for s in tr.spans} == {2}
    assert tr.self_time(root) == pytest.approx(root.duration - child.duration)
    assert json.dumps(tr.dump())


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    vals = list(range(1, 101))                               # 1..100
    assert stats.tail(vals) == (90.0, "p90")                 # 91..100 lie beyond
    assert stats.tail(list(range(1, 21))) == (10.0, "p50")
    v, label = stats.tail(list(range(1, 12)))
    assert (v, label) == (1.0, f"p{100 / 11:g}")
    assert sum(x > v for x in range(1, 12)) == 10
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, "max")       # too few: the maximum
    with pytest.raises(ValueError):
        stats.tail([])


def test_metric_names_are_valid():
    for good in ("setup_s", "crawl.round_self_s", "seen.definite_new_ratio", "p50-x", "9a"):
        assert stats.valid_metric_name(good), good
    for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "ünï"):
        assert not stats.valid_metric_name(bad), bad
    for name in layers.PER_LAYER:
        assert stats.valid_metric_name(name), name


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    from perfbench.run import E2E_UNITS
    from perfbench.workloads import WORKLOADS

    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_metric_name(n) for n in names)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
