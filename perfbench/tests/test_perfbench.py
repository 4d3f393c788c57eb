"""Tests of the benchmark itself (no Spark session needed):

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import inspect
import json
import subprocess
import sys
from collections import OrderedDict
from pathlib import Path

import pytest

from perfbench import datagen, polygon_serving as ps
from perfbench.common import digest
from perfbench.stats import min_samples_for, percentile

ROOT = Path(__file__).resolve().parents[2]
SECONDS = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
N_REQUESTS = round(ps.RATE_QPS * SECONDS)  # requests in one window


def _tables_equal(a, b) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_same_seed_same_registry_inputs():
    assert _tables_equal(datagen.tpch_tables(0.001, 5), datagen.tpch_tables(0.001, 5))


def test_other_seed_other_registry_inputs():
    a, b = datagen.tpch_tables(0.001, 5), datagen.tpch_tables(0.001, 6)
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["documents"].equals(b["documents"])


def test_registry_inputs_shape():
    t = datagen.tpch_tables(0.01, 1)
    assert t["lineitem"].num_rows == 60_000 and t["orders"].num_rows == 15_000
    texts = t["documents"].column("text").to_pylist()
    assert any(s.endswith(" dup") for s in texts)  # near-duplicates exist


def test_geo_inputs_follow_seed():
    def snapshot(seed):
        ds = datagen.geo_datasets(40, seed, 10_000.0)
        return [d.table for d in ds], datagen.query_polygons(10, seed, 10_000.0)

    (ta, pa_), (tb, pb), (tc, pc) = snapshot(3), snapshot(3), snapshot(4)
    assert all(x.equals(y) for x, y in zip(ta, tb)) and pa_ == pb
    assert not ta[0].equals(tc[0]) and pa_ != pc


def test_schedule_follows_seed():
    a = ps.schedule(1, 96, N_REQUESTS, SECONDS, 4)
    assert a == ps.schedule(1, 96, N_REQUESTS, SECONDS, 4)
    assert a != ps.schedule(2, 96, N_REQUESTS, SECONDS, 4)
    sched, hot = a
    assert sorted(hot) == list(range(96))
    assert len(sched) == N_REQUESTS and all(0 <= t < SECONDS for t, _ in sched)


def test_schedule_has_fixed_hit_miss_mix():
    for seed in range(1, 30):
        sched, hot = ps.schedule(seed, 96, N_REQUESTS, SECONDS, 4)
        hits = ps.lru_hits([k for _, k in sched], hot[:4], ps.PLAN_CACHE)
        assert len(sched) - hits == ps.MISSES >= min_samples_for(50)
        assert hits >= min_samples_for(50) and hits > len(sched) / 2


@pytest.mark.parametrize("pct,need", [(50, 20), (90, 100), (99, 1000)])
def test_percentile_needs_ten_samples_beyond(pct, need):
    assert min_samples_for(pct) == need
    values = list(range(need))
    assert percentile(values[:-1], pct) is None
    got = percentile(values, pct)
    assert got is not None
    assert sum(v > got for v in values) >= 10


def test_hit_is_same_object_as_before():
    last = {}
    a, b = object(), object()
    assert not ps.is_hit(last, "k", a)
    last["k"] = a
    assert ps.is_hit(last, "k", a)
    assert not ps.is_hit(last, "k", b)  # re-prepared after eviction


class _LruServer:
    """Stand-in for PolygonServer: one new object per prepared plan."""

    def __init__(self, max_plans):
        self.plans, self.max_plans = OrderedDict(), max_plans

    def query(self, poly, aggregation="objects"):
        key = (poly, aggregation)
        if key not in self.plans:
            self.plans[key] = object()
            if len(self.plans) > self.max_plans:
                self.plans.popitem(last=False)
        self.plans.move_to_end(key)
        return self.plans[key]


def test_serial_server_classifies_hits_and_misses():
    keys = [("p0", "objects"), ("p1", "objects"), ("p2", "objects")]
    srv = ps.SerialServer(_LruServer(max_plans=2), keys)
    seq = [srv.query(k)[1] for k in (0, 0, 1, 2, 0, 2)]
    assert seq == [False, True, False, False, False, True]


def test_key_pool_exceeds_plan_cache():
    from g_etl_spark.query import PolygonServer

    default = inspect.signature(PolygonServer.__init__).parameters["max_plans"].default
    assert ps.PLAN_CACHE == default
    pool = ps.key_pool(datagen.query_polygons(ps.POOL_POLYGONS, 1, ps.EXTENT_M))
    assert len(set(pool)) > ps.PLAN_CACHE


def test_warm_up_polygons_are_never_requested(tmp_path):
    inputs = ps.generate(tmp_path, 1)
    assert len(inputs.warm_polygons) == ps.WARM_POLYGONS
    assert not set(inputs.warm_polygons) & set(inputs.polygons)
    assert len(set(inputs.polygons)) == ps.POOL_POLYGONS


def test_zipf_draws_both_hot_and_cold_keys():
    sched, hot = ps.schedule(1, 96, N_REQUESTS, SECONDS, 4)
    drawn = [k for _, k in sched]
    assert drawn.count(hot[0]) > drawn.count(hot[-1])
    assert len(set(drawn)) > 20


def test_lru_hits_matches_plan_cache_policy():
    keys = [0, 0, 1, 2, 0, 2, 1, 1]
    srv = ps.SerialServer(_LruServer(max_plans=2), [(f"p{k}", "objects") for k in range(3)])
    measured = sum(srv.query(k)[1] for k in keys)
    assert ps.lru_hits(keys, [], 2) == measured == 3


def test_registry_window_lasts_min_rounds_and_seconds():
    from perfbench.registry import MIN_ROUNDS, keep_going

    assert MIN_ROUNDS >= 2  # every query has at least two timed runs
    assert keep_going(MIN_ROUNDS - 1, elapsed=100.0, seconds=24.0)
    assert keep_going(MIN_ROUNDS, elapsed=10.0, seconds=24.0)
    assert not keep_going(MIN_ROUNDS, elapsed=24.0, seconds=24.0)


def test_digest_ignores_order_and_last_float_bits():
    a = [(1, 0.1 + 0.2, [1, 2]), (2, 3.0, [])]
    b = [(2, 3.0, []), (1, 0.3, [1, 2])]
    assert digest(a) == digest(b)
    assert digest(a) != digest(a[:1])


def test_refuses_directory_without_engine(tmp_path):
    (tmp_path / "perfbench").mkdir()
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", "registry",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
