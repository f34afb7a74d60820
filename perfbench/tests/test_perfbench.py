"""Tests of the benchmark's own arithmetic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import re

import pyarrow.parquet as pq
import pytest

from perfbench import gen_data, run
from perfbench.inputs import digest
from perfbench.probes import index_counters
from perfbench.spans import Tracer, self_time_by_name, self_times, subtree
from perfbench.stats import quartile_spread, tail_percentile
from perfbench.workloads import WORKLOADS, pass_orders

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


# -- tail percentile -------------------------------------------------------

def test_tail_omitted_below_twenty_samples():
    assert tail_percentile([1.0] * 19) is None
    assert tail_percentile([]) is None


def test_tail_keeps_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 101)]  # 1..100, shuffled below
    pct, value = tail_percentile(list(reversed(samples)))
    assert (pct, value) == (90.0, 90.0)
    assert sum(s > value for s in samples) == 10


def test_tail_at_twenty_samples_is_the_lower_median():
    pct, value = tail_percentile([float(i) for i in range(20)])
    assert pct == 50.0 and value == 9.0


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0.0
    assert quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(3.0 / 3.0)


# -- span self time --------------------------------------------------------

def _spans(*rows):
    t = Tracer()
    for name, start, end, parent in rows:
        t.add(name, start, end, parent)
    return t.spans


def test_self_time_subtracts_children():
    spans = _spans(("pass", 0.0, 10.0, None), ("build", 0.0, 4.0, 0),
                   ("action", 4.0, 9.0, 0))
    st = self_times(spans)
    assert st[0] == pytest.approx(1.0)
    assert st[1] == pytest.approx(4.0) and st[2] == pytest.approx(5.0)


def test_self_time_merges_overlaps_and_clips_children():
    # batches reported by a listener can overlap each other and overrun
    # their build span; covered time is counted once and only inside it
    spans = _spans(("build", 0.0, 10.0, None), ("stream_batch", 1.0, 3.0, 0),
                   ("stream_batch", 2.0, 5.0, 0), ("stream_batch", 9.0, 12.0, 0))
    assert self_times(spans)[0] == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_by_name_sums_across_spans():
    spans = _spans(("query", 0.0, 2.0, None), ("build", 0.0, 1.5, 0),
                   ("query", 2.0, 5.0, None), ("build", 2.0, 4.0, 2))
    by_name = self_time_by_name(spans)
    assert by_name == pytest.approx({"query": 1.5, "build": 3.5})
    assert sum(by_name.values()) == pytest.approx(5.0)  # the run's wall


def test_subtree_self_times_sum_to_its_root():
    spans = _spans(("pass", 0.0, 10.0, None), ("query", 0.0, 6.0, 0),
                   ("build", 0.0, 4.0, 1), ("pass", 10.0, 12.0, None),
                   ("query", 10.0, 11.0, 3))
    first = self_time_by_name(subtree(spans, 0))
    assert first == pytest.approx({"pass": 4.0, "query": 2.0, "build": 4.0})
    assert self_time_by_name(subtree(spans, 3)) == pytest.approx({"pass": 1.0, "query": 1.0})


def test_tracer_nests_and_shares_run_id():
    t = Tracer()
    with t.span("pass"):
        with t.span("query", query="q"):
            with t.span("build"):
                pass
    assert [s["parent"] for s in t.spans] == [None, 0, 1]
    assert {s["run_id"] for s in t.spans} == {t.run_id}
    assert all(s["end"] >= s["start"] for s in t.spans)


# -- seeded order ----------------------------------------------------------

def _orders(seed, passes=4):
    return list(itertools.islice(pass_orders(WORKLOADS["routing_mix"].queries, seed), passes))


def test_same_seed_same_orders():
    assert _orders(7) == _orders(7)


def test_different_seed_different_orders():
    assert _orders(7) != _orders(8)


def test_orders_permute_the_workload():
    for w in WORKLOADS.values():
        for order in itertools.islice(pass_orders(w.queries, 3), 3):
            assert sorted(order) == sorted(w.queries)


# -- printed metric names --------------------------------------------------

def _bench():
    with open(BENCHMARK_JSON) as fh:
        return json.load(fh)


def _fake_result():
    layers = dict.fromkeys(run.QUERY_LAYERS, 1.0)
    query = {"name": "q", "ok": True, "wall_s": 1.0, "layers": layers,
             "span_s": {"build": 0.5, "plan": 0.1, "action": 0.4}}

    def pass_(i, traced):
        return {"index": i, "kind": "cold" if i == 0 else "warm", "traced": traced,
                "wall_s": 2.0 + i, "queries": [query, query],
                "layers": dict.fromkeys(run.PASS_LAYERS, 1.0),
                "span_s": {"build": 1.0, "plan": 0.2, "action": 0.8}}

    setup = {"setup_s": 10.0, **dict.fromkeys(run.SETUP_LAYERS, 1.0)}
    return {"setup": setup, "peak_rss_mb": 100.0,
            "passes": [pass_(i, i % 2 == 0) for i in range(6)]}


def test_end_to_end_names_and_units_match_benchmark_json():
    metrics, _ = run.end_to_end(_fake_result())
    declared = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: run._unit(k) for k in metrics} == declared


def test_per_layer_names_and_units_match_benchmark_json():
    metrics = run.per_layer(_fake_result())
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: run._unit(k) for k in metrics} == declared


def test_benchmark_json_workloads_are_defined():
    assert [w["name"] for w in _bench()["workloads"]] == list(WORKLOADS)


# -- output digests and index counters -------------------------------------

def test_digest_ignores_row_and_column_order():
    a = digest(["b", "a"], [(1, "x"), (2, "y")])
    b = digest(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b and a[1] == 2


def test_digest_canonicalizes_floats():
    assert digest(["v"], [(-0.0,)]) == digest(["v"], [(0.0,)])
    assert digest(["v"], [(0.1 + 0.2,)]) == digest(["v"], [(0.3,)])
    assert digest(["v"], [(1.0,)]) != digest(["v"], [(1.001,)])


def test_index_counters_classify_published_tables():
    before = {"/i/a/_graft_meta.json": 10, "/i/a/part-0": 100}
    after = {**before,
             "/i/b/_graft_meta.json": 10, "/i/b/part-0": 50,
             "/i/a__d7/_graft_meta.json": 10,
             "/i/a__g1/_graft_meta.json": 10,
             "/i/c.build-12/_graft_meta.json": 10}
    got = index_counters(before, after)
    assert got["tables_built"] == 1
    assert got["deltas_published"] == 1
    assert got["generations_flipped"] == 1
    assert got["bytes_written_mb"] == pytest.approx(90 / (1024 * 1024))


# -- generated inputs --------------------------------------------------------

def _fixture_schemas() -> dict[str, dict[str, str]]:
    """``{table: {column: type}}`` from the tables of FIXTURES.md."""
    with open(os.path.join(run.ROOT, "FIXTURES.md")) as fh:
        text = fh.read()
    schemas, table = {}, None
    for line in text.splitlines():
        head = re.match(r"### (\w+) \(", line)
        if head:
            table = schemas.setdefault(head.group(1), {})
        elif line.startswith("## "):
            table = None
        elif table is not None and line.startswith("| ") and not line.startswith("| column"):
            column, kind = (c.strip() for c in line.strip("|").split("|")[:2])
            table[column] = kind.split()[0]
    return schemas


def test_generated_tables_have_the_fixture_schemas(tmp_path):
    gen_data.write_tables(str(tmp_path))
    want = _fixture_schemas()
    assert set(want) == set(gen_data.ROWS) | {"region", "nation"}
    for name, columns in want.items():
        schema = pq.read_schema(tmp_path / f"{name}.parquet")
        got = {f.name: re.sub(r"list<\w+: ", "list<", str(f.type)) for f in schema}
        assert got == columns, name
