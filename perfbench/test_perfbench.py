"""Self-tests for the benchmark's own logic; fast, no Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import gen, stats
from perfbench.trace import Span, union_length, self_times


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(seed: int, out: str) -> None:
    t = gen.star_schema(seed, scale=0.05, docs=60, vecs=40)
    gen.write_tables(gen.replicate(t, 2), os.path.join(out, "rep"))
    gen.write_tables(gen.shifted(t), os.path.join(out, "shift"))
    gen.lead_days(seed, os.path.join(out, "leads"), days=3, rows=200, every_kth=7)


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    _generate(5, str(tmp_path / "a"))
    _generate(5, str(tmp_path / "b"))
    _generate(6, str(tmp_path / "c"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_replicate_offsets_keep_joins_consistent():
    t = gen.star_schema(3, scale=0.02, docs=10, vecs=10)
    r = gen.replicate(t, 3)
    no, nc = t["orders"].num_rows, t["customer"].num_rows
    assert r["orders"].num_rows == 3 * no
    assert sorted(r["orders"]["o_orderkey"].to_pylist()) == list(range(3 * no))
    assert sorted(r["customer"]["c_custkey"].to_pylist()) == list(range(3 * nc))
    # copy i's orders point at copy i's customers, lineitems at copy i's orders
    for o, c in zip(r["orders"]["o_orderkey"].to_pylist(),
                    r["orders"]["o_custkey"].to_pylist()):
        assert o // no == c // nc
    assert r["nation"] is t["nation"]


def test_lead_days_plan_drift_dirt_and_relanding(tmp_path):
    leads = gen.lead_days(2, str(tmp_path), days=3, rows=100, every_kth=10)
    day1, day2 = leads.days[0], leads.days[1]
    assert [f.relanded for f in day1] == [False] * gen.N_TABLES
    assert sum(f.planted_nulls for f in day1) == 0
    relanded = [f for f in day2 if f.relanded]
    assert len(relanded) == 1 and relanded[0].name == relanded[0].table.upper() + ".csv"
    again = tmp_path / "day_02" / relanded[0].name
    orig = tmp_path / "day_01" / f"{relanded[0].table}.csv"
    assert again.read_bytes() == orig.read_bytes()
    header = (tmp_path / "day_02" / "leads_1.csv").read_text().splitlines()[0]
    assert '"utm_campaign"' in header and len(header.split(",")) == len(gen.LEAD_COLS)
    body = (tmp_path / "day_02" / "leads_1.csv").read_text()
    assert body.count("N/A") == day2[0].planted_nulls == 10
    assert leads.expected_rows == {f"leads_{j}": 300 for j in range(1, 5)}


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    value, p, beyond = stats.tail(xs)
    assert (p, beyond, value) == (75, 10, 30.0)
    value, p, beyond = stats.tail(xs * 5)  # 200: p95 leaves exactly 10
    assert (p, beyond) == (95, 10)
    value, p, beyond = stats.tail([float(i) for i in range(1, 200)])  # 199
    assert (p, beyond) == (90, 19)


def test_tail_falls_back_to_median_on_few_samples():
    value, p, beyond = stats.tail([3.0, 1.0, 2.0, 5.0])
    assert (value, p, beyond) == (2.0, 50, 2)


def test_sum_of_best_takes_each_ops_minimum():
    # a stall in pass 2 of op a and pass 1 of op b does not count
    assert stats.sum_of_best({"a": [1.0, 5.0, 1.5], "b": [9.0, 2.0, 2.5]}) == 3.0
    assert stats.sum_of_best({"a": [0.25]}) == 0.25


def test_nearest_rank():
    assert stats.nearest_rank([5.0, 1.0, 3.0], 50) == (3.0, 1)
    assert stats.nearest_rank([5.0, 1.0, 3.0], 100) == (5.0, 0)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (2.5, 4)]) == 4
    assert union_length([(0, 10)], 2, 5) == 3
    assert union_length([(0, 1), (4, 6)], 2, 5) == 1
    assert union_length([(0, 1)], 2, 5) == 0


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("op", 0.0, 10.0),
        Span("build", 1.0, 4.0, parent=0),
        Span("exec", 3.0, 8.0, parent=0),  # overlaps build by 1 s
        Span("inner", 5.0, 6.0, parent=2),
        Span("late", 9.0, 12.0, parent=0),  # runs past its parent
    ]
    got = self_times(spans)
    assert got == pytest.approx([10 - 8, 3, 4, 1, 3])


def test_tree_cpu_and_rss_probe_this_process():
    assert stats.tree_cpu_s() > 0
    assert stats.peak_rss_mb() > 1


def test_benchmark_json_matches_the_runner():
    import json

    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: w.why for name, w in run.make_workloads().items()}
    for key, defs in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: (m["unit"], m["better"]) for m in spec[key]} == defs
