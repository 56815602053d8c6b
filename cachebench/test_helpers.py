"""Unit tests for the benchmark runner's pure helpers (no JVM needed).

    python3 -m pytest cachebench/test_helpers.py -q
"""
from __future__ import annotations

import hashlib
import itertools
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, span  # noqa: E402


# -- percentiles ---------------------------------------------------------------

def test_percentile_interpolates_like_numpy():
    import numpy as np

    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    for p in (0, 10, 25, 50, 75, 90, 100):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


@pytest.mark.parametrize("n, expected_p", [
    (9, None),     # even the median has fewer than 10 samples beyond it
    (19, None),
    (20, 50),      # 20 * 0.5 = 10 beyond the median
    (39, 50),
    (40, 75),      # 40 * 0.25 = 10 beyond p75
    (99, 75),
    (100, 90),
    (999, 90),
    (1000, 99),
])
def test_tail_percentile_needs_ten_samples_beyond(n, expected_p):
    tail = stats.tail_percentile([float(i) for i in range(n)])
    assert (tail[0] if tail else None) == expected_p


def test_latency_summary_reports_count_median_and_supported_tail():
    summary = stats.latency_summary([float(i) for i in range(40)])
    assert summary["n"] == 40
    assert summary["p50"] == pytest.approx(19.5)
    assert "p75" in summary and "p90" not in summary
    assert stats.latency_summary([]) == {"n": 0}


# -- self time -----------------------------------------------------------------

def test_self_time_subtracts_children_and_counts_overlap_once():
    spans = [
        (1, "op.rerun", 0.0, 10.0, None, "op1"),
        (2, "core.cache_dataframe", 1.0, 5.0, 1, "op1"),
        (3, "fs.read_text", 2.0, 3.0, 2, "op1"),
        # two overlapping children from worker threads: union is [6, 9]
        (4, "fs.tree_size", 6.0, 8.0, 1, "op1"),
        (5, "fs.tree_size", 7.0, 9.0, 1, "op1"),
    ]
    selfs = stats.self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - 4.0 - 3.0)
    assert selfs[2] == pytest.approx(3.0)
    assert (selfs[3], selfs[4], selfs[5]) == pytest.approx((1.0, 2.0, 2.0))
    by_layer = stats.self_time_by_layer(spans)
    assert by_layer["op"] == pytest.approx(3.0)
    assert by_layer["core"] == pytest.approx(3.0)
    assert by_layer["fs"] == pytest.approx(1.0 + 2.0 + 2.0)
    # The fold accounts for every instant of the root exactly once.
    assert sum(stats.self_time_by_layer(spans[:3]).values()) == pytest.approx(10.0)


def test_covered_clips_to_interval():
    assert stats.covered((0.0, 10.0), [(-5.0, 2.0), (8.0, 20.0), (30.0, 40.0)]) == 4.0
    assert stats.covered((0.0, 10.0), []) == 0.0


def test_layer_names():
    assert stats.layer_of("plans.fingerprint.canonical_plan") == "plans.fingerprint"
    assert stats.layer_of("spark.q1_pricing_summary.exec") == "spark"
    assert stats.layer_of("core.read_cache_if_exist") == "core"


def test_tracer_nests_spans_and_tags_ops():
    tracer = Tracer()
    tracer.op_id = "loop-1"
    inner = tracer.wrap(lambda x: x * 2, "core.inner", lambda r: "hit")
    with span(tracer, "op.rerun"):
        assert inner(21) == 42
    with span(None, "ignored"):
        pass
    (sid_inner, name_inner, *_r1, parent, op), (sid_root, name_root, *_r2) = tracer.spans
    assert (name_inner, name_root, parent, op) == ("core.inner", "op.rerun", sid_root, "loop-1")
    assert tracer.outcomes == {sid_inner: "hit"}


# -- checksums -----------------------------------------------------------------

def _frame(rows):
    return pd.DataFrame(rows, columns=["k", "v", "x"])


ROWS = [("a", "1", 0.1), ("b", "2", 0.2), ("c", None, 0.3), ("a", "1", float("nan"))]


def test_checksum_ignores_row_order():
    expected = stats.frame_checksum(_frame(ROWS), ["x"])
    for perm in itertools.permutations(ROWS):
        assert stats.checksums_match(expected, stats.frame_checksum(_frame(list(perm)), ["x"]))


def test_checksum_detects_changed_missing_and_duplicated_rows():
    expected = stats.frame_checksum(_frame(ROWS), ["x"])
    changed = [("a", "1", 0.1), ("b", "3", 0.2)] + ROWS[2:]
    assert not stats.checksums_match(expected, stats.frame_checksum(_frame(changed), ["x"]))
    assert not stats.checksums_match(expected, stats.frame_checksum(_frame(ROWS[1:]), ["x"]))
    doubled = ROWS + ROWS[:1]
    assert not stats.checksums_match(expected, stats.frame_checksum(_frame(doubled), ["x"]))
    shifted = ROWS[:3] + [("a", "1", 0.4)]  # a NaN replaced by a number
    assert not stats.checksums_match(expected, stats.frame_checksum(_frame(shifted), ["x"]))


def test_checksum_tolerates_float_summation_order_only():
    base = stats.frame_checksum(_frame([("a", "1", 0.1), ("b", "2", 0.2)]), ["x"])
    near = stats.frame_checksum(_frame([("a", "1", 0.1 + 1e-15), ("b", "2", 0.2)]), ["x"])
    far = stats.frame_checksum(_frame([("a", "1", 0.1 + 1e-6), ("b", "2", 0.2)]), ["x"])
    assert stats.checksums_match(base, near)
    assert not stats.checksums_match(base, far)


def test_checksum_of_frame_without_exact_columns():
    frame = pd.DataFrame({"x": [1.0, 2.0]})
    assert stats.frame_checksum(frame, ["x"]) == (2, 0, ((3.0, 0),))


# -- seeded generators ---------------------------------------------------------

def test_zipf_stream_is_deterministic_per_seed_and_skewed():
    first = list(itertools.islice(stats.zipf_stream(7, 6), 2000))
    assert first == list(itertools.islice(stats.zipf_stream(7, 6), 2000))
    assert first != list(itertools.islice(stats.zipf_stream(8, 6), 2000))
    counts = [first.count(rank) for rank in range(6)]
    assert set(first) == set(range(6))
    assert counts == sorted(counts, reverse=True)


def test_zipf_stream_blocks_hold_the_zipf_mix():
    # Zipf(1.1) shares of 16 over 6 ranks: 6.9, 3.2, 2.1, 1.5, 1.2, 1.0
    draws = list(itertools.islice(stats.zipf_stream(3, 6), 64))
    for start in range(0, 64, 16):
        block = draws[start:start + 16]
        assert [block.count(rank) for rank in range(6)] == [7, 3, 2, 2, 1, 1]


def test_fresh_variants_are_distinct_and_deterministic():
    a = list(stats.fresh_variants(3, 500))
    assert a == list(stats.fresh_variants(3, 500))
    assert a != list(stats.fresh_variants(4, 500))
    assert sorted(a) == list(range(500))


# -- cached_time_ratio -----------------------------------------------------------

def _op(kind, name, ms, ok=True):
    return {"kind": kind, "name": name, "ms": ms, "ok": ok}


def test_cached_time_ratio_weights_each_plan_by_its_cached_ops():
    ops = [
        _op("rerun", "a", 10.0), _op("rerun", "a", 30.0), _op("rerun", "a", 20.0),
        _op("uncached", "a", 100.0),
        _op("rerun", "b", 50.0), _op("uncached", "b", 200.0), _op("uncached", "b", 300.0),
    ]
    # a: 3 ops, median 20 over 100; b: 1 op, 50 over median 250.
    assert workloads.cached_time_ratio(ops, ("rerun",)) == pytest.approx(
        (3 * 20 + 50) / (3 * 100 + 250)
    )


def test_cached_time_ratio_skips_failed_ops_and_unpaired_plans():
    ops = [
        _op("write", "a", 40.0), _op("uncached", "a", 20.0),
        _op("write", "b", 999.0, ok=False), _op("uncached", "b", 1.0),
        _op("write", "c", 5.0),
        _op("maint", None, 7.0),
    ]
    assert workloads.cached_time_ratio(ops, ("write",)) == pytest.approx(2.0)
    assert workloads.cached_time_ratio(ops[4:], ("write",)) == 0.0


def test_notebook_cycle_runs_every_entry_uncached_once():
    slots = workloads.UNCACHED_SLOTS
    assert sorted(slots.values()) == sorted(workloads.WORKING_SET)
    assert all(0 <= k < workloads.NOTEBOOK_CYCLE for k in slots)


def test_datagen_is_deterministic_per_seed(tmp_path):
    def digests(out, seed):
        rows = datagen.generate(str(out), seed, 0.001)
        return rows, {
            name: hashlib.md5((out / f"{name}.parquet").read_bytes()).hexdigest()
            for name in rows
        }

    rows_a, a = digests(tmp_path / "a", 5)
    rows_b, b = digests(tmp_path / "b", 5)
    _, c = digests(tmp_path / "c", 6)
    assert rows_a == rows_b and rows_a["lineitem"] == 6000
    assert a == b
    assert a["lineitem"] != c["lineitem"]
