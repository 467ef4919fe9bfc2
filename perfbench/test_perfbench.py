"""Tests of the benchmark's own code; no Spark needed.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys
import threading
import time

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import summary  # noqa: E402
from spans import Span, Tracer, covered, self_times  # noqa: E402
from workloads import (CORPUS_FAMILIES, RELATIONAL_FAMILIES,  # noqa: E402
                       WORKLOADS)


def _benchmark_json() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    for section, units in (("end_to_end", summary.END_TO_END),
                           ("per_layer", summary.PER_LAYER)):
        assert [(m["name"], m["unit"]) for m in spec[section]] \
            == list(units.items()), section
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_catalog_keys_follow_the_family_split():
    for name, families in (("catalog-relational", RELATIONAL_FAMILIES),
                           ("catalog-corpus", CORPUS_FAMILIES)):
        keys = WORKLOADS[name].keys
        assert keys and len(set(keys)) == len(keys)
        assert all(k.split("_", 1)[0] in families for k in keys), name


def test_result_line_prints_exactly_the_named_metrics():
    for units in (summary.END_TO_END, summary.PER_LAYER):
        values = {name: 1.5 for name in units}
        line = summary.result_line(True, 3, 0, values, units)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert list(line["metrics"]) == list(units)
        assert all(m["unit"] == units[n] for n, m in line["metrics"].items())


@pytest.mark.parametrize("n", [11, 12, 14, 16, 20, 33, 40, 99, 100, 101,
                               250, 1000])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n):
    xs = [float(i) for i in range(n)]
    value, pct = summary.tail(xs[::-1])
    assert sum(x > value for x in xs) >= 10
    # one percentile higher would leave fewer than ten beyond
    higher = xs[math.ceil((pct + 1) * n / 100) - 1]
    assert sum(x > higher for x in xs) < 10


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        summary.tail([1.0] * 10)


def _table(rows):
    return pa.table({
        "k": pa.array([r[0] for r in rows], pa.int64()),
        "v": pa.array([r[1] for r in rows], pa.float64()),
        "s": pa.array([r[2] for r in rows], pa.string()),
    })


ROWS = [(1, 0.5, "a"), (2, 1.25, "b"), (3, 2.0, "c"), (4, None, "d")]


def test_checker_accepts_reordered_rows_and_columns():
    expected = checks.arrow_result(_table(ROWS))
    shuffled = _table(ROWS[::-1]).select(["s", "v", "k"])
    assert checks.compare("q", checks.arrow_result(shuffled),
                          expected) is None


def test_checker_rejects_a_perturbed_row():
    expected = checks.arrow_result(_table(ROWS))
    bad = list(ROWS)
    bad[1] = (2, 1.2501, "b")
    err = checks.compare("q", checks.arrow_result(_table(bad)), expected)
    assert err is not None and "differ" in err


def test_checker_rejects_missing_row_and_renamed_column():
    expected = checks.arrow_result(_table(ROWS))
    assert "rows" in checks.compare(
        "q", checks.arrow_result(_table(ROWS[:3])), expected)
    renamed = _table(ROWS).rename_columns(["k", "w", "s"])
    assert "columns" in checks.compare(
        "q", checks.arrow_result(renamed), expected)


def test_integral_double_matches_bigint_and_naive_matches_utc():
    ints = pa.table({"x": pa.array([2, 3], pa.int64())})
    doubles = pa.table({"x": pa.array([2.0, 3.0], pa.float64())})
    assert checks.arrow_result(ints) == checks.arrow_result(doubles)
    naive = pa.table({"t": pa.array([0, 10**6], pa.timestamp("us"))})
    utc = pa.table({"t": pa.array([0, 10**6], pa.timestamp("us", "UTC"))})
    assert checks.arrow_result(naive) == checks.arrow_result(utc)


def test_zipf_check_rejects_wrong_count_and_checksum():
    fact = {0: 5, 1: 3, 2: 1}
    dim = {0: 1, 1: 1, 3: 1}
    expected = checks.zipf_cardinality(fact, dim)
    assert expected == 8
    sums: dict = {}
    assert checks.check_zipf("0.5", "repartition", 8, 77, expected,
                             sums) is None
    assert checks.check_zipf("0.5", "merge", 8, 77, expected, sums) is None
    assert "rows" in checks.check_zipf("0.5", "broadcast", 9, 77, expected,
                                       sums)
    assert "checksum" in checks.check_zipf("0.5", "advised", 8, 78,
                                           expected, sums)


def test_covered_merges_overlapping_intervals_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(1, 3), (2, 4), (6, 7)], 2.5, 6.5) == 2.0
    assert covered([], 0, 1) == 0


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "o"),
        Span(1, "construct", 1.0, 6.0, 0, "o"),
        # two overlapping writes from pool threads under construct
        Span(2, "sources.write", 2.0, 4.0, 1, "o"),
        Span(3, "sources.write", 3.0, 5.0, 1, "o"),
        Span(4, "execute", 6.0, 9.0, 0, "o"),
    ]
    got = self_times(spans)
    assert got == {0: 10.0 - 8.0, 1: 5.0 - 3.0, 2: 2.0, 3: 2.0, 4: 3.0}


def test_tracer_parents_pool_thread_spans_to_the_open_span():
    tracer = Tracer()
    tracer.active = True
    tracer.op = "p0o0"

    def write():
        with tracer.span("sources.write"):
            pass

    with tracer.span("construct") as outer:
        t = threading.Thread(target=write)
        with tracer.span("sources.load_table"):
            time.sleep(0.001)
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["sources.load_table"].parent == outer.id
    assert by_name["sources.write"].parent == outer.id
    assert all(s.op == "p0o0" for s in tracer.spans)


def test_inactive_tracer_records_nothing():
    tracer = Tracer()
    with tracer.span("op") as span:
        tracer.count_py4j()
    assert span is None and tracer.spans == [] and tracer.py4j_calls == 0
