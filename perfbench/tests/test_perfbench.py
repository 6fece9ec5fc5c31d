"""Self-tests of the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pytest

import gen
import layers
import run
import stats

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


@pytest.mark.parametrize("n", [1, 2, 5, 19, 20, 21, 30, 40, 57, 100, 1000])
def test_tail_never_below_p50_and_leaves_ten_beyond(n):
    rng = random.Random(n)
    for _ in range(50):
        xs = [rng.lognormvariate(0, 1) for _ in range(n)]
        # ties and a heavy outlier must not break the ordering either
        xs += [xs[0]] * (n // 3)
        q, value, beyond = stats.tail(xs)
        assert value >= stats.p50(xs)
        assert 50 <= q <= 100
        # the tail is the sample ranked just before the ``beyond`` largest
        assert sorted(xs)[len(xs) - beyond - 1] == value
        if len(xs) >= stats.MIN_TAIL_SAMPLES:
            assert beyond >= stats.TAIL_BEYOND


def test_tail_is_the_highest_qualifying_percentile():
    xs = list(range(100))
    q, value, beyond = stats.tail(xs)
    assert (q, value, beyond) == (90, 89, 10)
    # one percentile higher would leave fewer than ten beyond
    assert len(xs) - (q + 1) < stats.TAIL_BEYOND


def test_least_stolen_keeps_a_fixed_count_in_run_order():
    steal = [0.05, 0.0, 0.01, 0.3, 0.0, 0.02, 0.0, 0.001]
    timed = [{"i": i, "steal_frac": s} for i, s in enumerate(steal)]
    used = run.least_stolen(timed)
    assert len(used) == run.TIMED_PASSES
    # the most-stolen pass is the one left out
    assert [p["i"] for p in used] == [0, 1, 2, 4, 5, 6, 7]


def _same(a, b) -> bool:
    """Table equality in which NaN equals NaN."""
    if a.schema != b.schema or a.num_rows != b.num_rows:
        return False
    for x, y in zip(a.columns, b.columns):
        if x.type == "double":
            if not np.array_equal(x.to_numpy(), y.to_numpy(), equal_nan=True):
                return False
        elif not x.equals(y):
            return False
    return True


def test_long_array_same_seed_same_data():
    assert _same(gen.long_array(7, 20_000), gen.long_array(7, 20_000))


def test_long_array_other_seed_same_size_other_content():
    a, b = gen.long_array(7, 20_000), gen.long_array(8, 20_000)
    assert a.schema == b.schema and a.num_rows == b.num_rows
    assert not _same(a, b)
    # the shape the workload relies on holds for both seeds
    for t in (a, b):
        v = t["v"].to_numpy(zero_copy_only=False)
        assert abs(np.isnan(v).mean() - gen.BIG_NAN_FRAC) < 0.01
        assert t["k"].null_count > 0 and t["hk"].null_count > 0
        assert np.array_equal(t["id"].to_numpy(), np.arange(t.num_rows))


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_sf01_tables_seeded(name):
    make = gen.GENERATORS[name]
    a, b, c = make(3, 2000), make(3, 2000), make(4, 2000)
    assert _same(a, b)
    assert c.num_rows == a.num_rows and c.schema == a.schema
    assert not _same(a, c)


def _benchmark():
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def test_metric_names_use_allowed_characters():
    spec = _benchmark()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += list(layers.UNITS) + list(run.END_TO_END)
    for name in names:
        assert stats.NAME_RE.match(name), name
    assert len(set(m["name"] for m in spec["end_to_end"] + spec["per_layer"])) == len(
        spec["end_to_end"] + spec["per_layer"]
    )


def test_benchmark_json_matches_what_the_runs_print():
    spec = _benchmark()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
