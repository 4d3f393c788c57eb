"""Workload ``polygon_serving``: dashboards calling the grid-indexed
polygon query, the reference's published query shape.

Set-up builds a warehouse with ``runner.PipelineRunner`` from four
seeded geo datasets staged as parquet, compacts its grid index
(``warehouse.compact_grid_index``, the serving layout) and opens a
``query.PolygonServer`` on it. The hottest keys are then served once
and each result is compared with an uncached ``query.query_polygon``;
last, the miss and hit paths are warmed, untimed.

Load is an open loop: Poisson arrivals at a fixed rate, each request
a (2x2 km polygon, aggregation) key drawn Zipf from a seeded pool
larger than the server's 64-plan cache, so plan-cache hits and misses
both occur. Latency is timed from each request's due time.

``PolygonServer`` is not thread-safe: its plan ``OrderedDict`` has no
lock and ``_prepare`` flips session-global confs, so ``.query()`` is
serialized behind one lock. Requests are served by WORKERS threads.
With nproc threads, a hit that overlapped a miss took 50-76 ms against
33-43 ms alone, and the share of overlapping hits moved the hit median
by a fifth between runs of one seed; one worker serves requests in
arrival order, so hit and miss service times are each measured alone
and queueing shows only in the latencies from due time.
"""

from __future__ import annotations

import os
import random
import threading
import time
from bisect import bisect
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from itertools import accumulate

from perfbench import datagen
from perfbench.common import Outcome, digest
from perfbench.stats import median, percentile

N_POLYGONS = 150  # geo inputs: 150 polygons, 1500 points, 75 + 75 lines/areas
EXTENT_M = 10_000.0  # packed into a 10x10 km square
POOL_POLYGONS = 48
AGGREGATIONS = ("objects", "stats")
PLAN_CACHE = 64  # PolygonServer(max_plans=...) default
ZIPF_S = 1.3
RATE_QPS = 5.0  # offered load; the request count is RATE_QPS x seconds
MISSES = 22  # plan-cache misses in every schedule (the rest are hits)
CHECK_KEYS = 4  # hottest keys, verified against uncached queries in set-up
WARM_POLYGONS = 4  # outside the pool: warm-up misses on a second server
WARM_REPEATS = 8  # untimed hits of each warm-up key
WARM_ROUNDS = 10  # untimed passes over the checked keys' plans in set-up
POST_CHECK_KEYS = 2  # keys first served in the window, verified after it
WORKERS = 1


@dataclass
class Inputs:
    datasets: list
    paths: dict[str, str]
    polygons: list[str]  # the key pool's polygons
    warm_polygons: list[str]  # set-up only, never requested


def generate(work, seed: int) -> Inputs:
    ds = datagen.geo_datasets(N_POLYGONS, seed, EXTENT_M)
    paths = datagen.write_geo(str(work / "geo"), ds)
    polys = datagen.query_polygons(POOL_POLYGONS + WARM_POLYGONS, seed, EXTENT_M)
    return Inputs(ds, paths, polys[:POOL_POLYGONS], polys[POOL_POLYGONS:])


def key_pool(polygons: list[str]) -> list[tuple[str, str]]:
    return [(p, agg) for p in polygons for agg in AGGREGATIONS]


def schedule(seed: int, n_keys: int, n_requests: int, seconds: float, primed: int):
    """Seeded open-loop schedule: ``n_requests`` (due second, key index)
    pairs. Arrivals are a Poisson process conditioned on its count
    (sorted uniform times); keys are Zipf(ZIPF_S) over a seeded
    permutation of the pool (``hot``, hottest first). Key sequences are
    redrawn until an LRU plan cache of PLAN_CACHE entries, primed with
    ``hot[:primed]``, misses exactly MISSES times: every seed then has
    the same hit/miss mix, so the all-request median always falls at
    the same rank among the hits, and both per-class medians rest on
    at least ten samples beyond them."""
    rng = random.Random(seed * 7919 + 1)
    hot = rng.sample(range(n_keys), n_keys)
    due = sorted(rng.uniform(0, seconds) for _ in range(n_requests))
    cum = list(accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(n_keys)))
    for _ in range(10_000):
        ranks = [min(bisect(cum, rng.random() * cum[-1]), n_keys - 1) for _ in due]
        keys = [hot[r] for r in ranks]
        if n_requests - lru_hits(keys, hot[:primed], PLAN_CACHE) == MISSES:
            return list(zip(due, keys)), hot
    raise ValueError(f"no key sequence with {MISSES} misses in {n_requests} requests")


def lru_hits(keys, primed, capacity: int) -> int:
    """Hits of an LRU cache of ``capacity`` entries over ``keys``."""
    cache = OrderedDict((k, None) for k in primed)
    hits = 0
    for k in keys:
        if k in cache:
            hits += 1
            cache.move_to_end(k)
        else:
            cache[k] = None
            if len(cache) > capacity:
                cache.popitem(last=False)
    return hits


def is_hit(last: dict, key, df) -> bool:
    """A plan-cache hit: ``.query()`` returned the very object it
    returned for this key before."""
    return key in last and last[key] is df


@dataclass
class Served:
    key: int
    due: float
    acquired: float  # when this request's .query() got the server lock
    end: float
    hit: bool
    lookup_ms: float
    collect_ms: float
    result: tuple[int, str] | None = None
    error: str | None = None


@dataclass
class SerialServer:
    """``PolygonServer`` behind one lock (see the module docstring)."""

    server: object
    keys: list[tuple[str, str]]
    lock: threading.Lock = field(default_factory=threading.Lock)
    last: dict = field(default_factory=dict)

    def query(self, k: int):
        """(plan, hit, time inside .query() in ms, lock acquired at)."""
        poly, agg = self.keys[k]
        with self.lock:
            t0 = time.perf_counter()
            df = self.server.query(poly, aggregation=agg)
            ms = (time.perf_counter() - t0) * 1000
            hit = is_hit(self.last, k, df)
            self.last[k] = df
        return df, hit, ms, t0


def _dir_stats(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def run(ctx, inputs: Inputs) -> Outcome:
    from g_etl_spark import export, query, warehouse as wh
    from g_etl_spark.config import DatasetConfig
    from g_etl_spark.runner import PipelineRunner

    spark, tr = ctx.spark, ctx.tracer
    out = Outcome()
    if tr.enabled:
        tr.wrap(query, "query_cells", "query.query_cells")
        tr.wrap(query, "query_polygon", "query.query_polygon")
        tr.wrap(query.PolygonServer, "_prepare", "query.prepare")
        tr.wrap(wh, "write_grid_stats", "warehouse.grid_stats")
        orig_run_dataset = PipelineRunner.run_dataset

        def run_dataset(self, cfg, force=False):
            with tr.span(f"runner.dataset_s.{cfg.id}"):
                return orig_run_dataset(self, cfg, force)

        tr.patch(PipelineRunner, "run_dataset", run_dataset)

    # -- set-up: refresh the warehouse, then open the server -----------
    whdir = str(ctx.work / "warehouse")
    cfgs = [
        DatasetConfig(
            id=d.id, plugin="parquet", pipeline=d.pipeline,
            url=inputs.paths[d.id], field_mapping=d.field_mapping,
        )
        for d in inputs.datasets
    ]
    results = PipelineRunner(spark, whdir).run(cfgs, force=True)
    index_rows = sum(r.rows for r in results)
    for r in results:
        out.check(r.status == "ok", f"runner {r.dataset_id}: {r.status} {r.error}")
    with tr.span("warehouse.compact"):
        wh.compact_grid_index(spark, whdir)

    keys = key_pool(inputs.polygons)
    sched, hot = schedule(
        ctx.seed, len(keys), round(RATE_QPS * ctx.seconds), ctx.seconds, CHECK_KEYS
    )
    srv = SerialServer(query.PolygonServer(spark, whdir, compact=True), keys)
    expected: dict[int, tuple[int, str]] = {}

    def uncached(k: int) -> tuple[int, str]:
        poly, agg = keys[k]
        return digest(query.query_polygon(spark, whdir, poly, aggregation=agg, compact=True).collect())

    def verify(k: int, served: tuple[int, str]) -> None:
        want = uncached(k)
        out.check(served == want and want[0] > 0, f"key {k}: served {served}, uncached {want}")

    for k in hot[:CHECK_KEYS]:
        df = srv.query(k)[0]
        expected[k] = digest(df.collect())
        verify(k, expected[k])
    # warm both paths: without this the first hits after the build
    # ran ~40% slower and the hit median drifted down through the
    # window. Misses warm up on a second server, so the measured
    # server's cache holds only the checked keys; passes over those in
    # priming order leave the LRU order the schedule assumed.
    warm = query.PolygonServer(spark, whdir, compact=True)
    for poly in inputs.warm_polygons:
        for agg in AGGREGATIONS:
            for _ in range(1 + WARM_REPEATS):
                warm.query(poly, aggregation=agg).collect()
    for _ in range(WARM_ROUNDS):
        for k in hot[:CHECK_KEYS]:
            srv.query(k)[0].collect()
    setup_s = time.perf_counter() - ctx.setup_t0

    # -- window: open loop ------------------------------------------------
    in_flight = 0
    flight_lock = threading.Lock()

    def serve(k: int, due: float) -> Served:
        nonlocal in_flight
        try:
            df, hit, lookup_ms, acquired = srv.query(k)
            c0 = time.perf_counter()
            rows = df.collect()
            end = time.perf_counter()
            return Served(k, due, acquired, end, hit, lookup_ms, (end - c0) * 1000, digest(rows))
        except Exception as e:  # noqa: BLE001 - counted as a failed request
            end = time.perf_counter()
            return Served(k, due, end, end, False, 0.0, 0.0, error=f"{type(e).__name__}: {e}")
        finally:
            with flight_lock:
                in_flight -= 1

    ctx.meter.start()
    lags, backlog_max, futures = [], 0, []
    with ThreadPoolExecutor(max_workers=WORKERS) as pool:
        w0 = time.perf_counter()
        for due, k in sched:
            wait = w0 + due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            lags.append((time.perf_counter() - w0 - due) * 1000)
            with flight_lock:
                in_flight += 1
                backlog_max = max(backlog_max, in_flight)
            futures.append(pool.submit(serve, k, w0 + due))
            ctx.meter.sample_rss()
        served = [f.result() for f in futures]
    out.window_s = time.perf_counter() - w0
    ctx.meter.stop()

    first_seen = []
    for s in served:
        if s.error is None and s.key not in expected:
            expected[s.key] = s.result
            first_seen.append(s.key)
        want = expected.get(s.key)
        out.check(
            s.error is None and s.result == want and want[0] > 0,
            f"key {s.key}: {s.error or f'got {s.result}, expected {want}'}",
        )
    for k in random.Random(ctx.seed).sample(first_seen, min(POST_CHECK_KEYS, len(first_seen))):
        verify(k, expected[k])

    ok = [s for s in served if not s.error]
    # service time: from taking the server lock to the last row;
    # latency: from the request's due time, queueing included
    hits = [(s.end - s.acquired) * 1000 for s in ok if s.hit]
    misses = [(s.end - s.acquired) * 1000 for s in ok if not s.hit]
    due_ms = [(s.end - s.due) * 1000 for s in ok]
    out.e2e = {
        "setup_s": setup_s,
        "light_ms": percentile(hits, 50),
        "heavy_ms": percentile(misses, 50),
    }
    for name, v in out.e2e.items():
        if not out.check(v is not None, f"{name}: fewer than ten samples beyond the median"):
            out.e2e[name] = float("nan")
    out.info = {
        "requests": len(served),
        "hits": len(hits),
        "misses": len(misses),
        "hit_p50_ms": out.e2e["light_ms"],
        "miss_p50_ms": out.e2e["heavy_ms"],
        "latency_p50_ms": percentile(due_ms, 50),
        "latency_p90_ms": percentile(due_ms, 90),
        "hit_latency_p50_ms": percentile([(s.end - s.due) * 1000 for s in ok if s.hit], 50),
        "miss_latency_p50_ms": percentile([(s.end - s.due) * 1000 for s in ok if not s.hit], 50),
        "index_rows": index_rows,
        "rate_qps": round(RATE_QPS, 3),
    }

    if tr.enabled:
        counts: dict[str, int] = {}
        rows = 0
        for k in hot[:CHECK_KEYS]:  # one pass of fixed, cached keys
            with tr.job_group(counts):
                df = srv.query(k)[0]
                rows += len(df.collect())
        with tr.span("export.csv"):
            export.export_csv(export.grouped_cells(spark, whdir), str(ctx.work / "export_csv"))
        plan_ms = []
        by_id = {s["id"]: s for s in tr.spans}
        for s in tr.spans:
            if s["name"] == "query.query_polygon" and s["parent"] in by_id:
                p = by_id[s["parent"]]
                if p["name"] == "query.prepare":
                    plan_ms.append((p["end"] - p["start"] - (s["end"] - s["start"])) * 1000)

        def med(name):
            return median(tr.ms[name]) if tr.ms[name] else 0.0

        layers = {
            "catalyst.plan_ms": median(plan_ms) if plan_ms else 0.0,
            "spark.exec_ms": median([s.collect_ms for s in ok if s.hit]) if hits else 0.0,
            "spark.jobs": counts.get("jobs", 0),
            "spark.stages": counts.get("stages", 0),
            "spark.tasks": counts.get("tasks", 0),
            "result.rows": rows,
            "query.cells_ms": med("query.query_cells"),
            "query.prepare_ms": med("query.prepare"),
            "query.lookup_ms": median([s.lookup_ms for s in ok if s.hit]) if hits else 0.0,
            "query.hit_ratio": len(hits) / len(ok) if ok else 0.0,
            "runner.index_rows": index_rows,
            "runner.errors": sum(r.status != "ok" for r in results),
            "warehouse.grid_stats_s": med("warehouse.grid_stats") / 1000,
            "warehouse.compact_s": med("warehouse.compact") / 1000,
            "export.csv_s": med("export.csv") / 1000,
            "generator.lag_ms": max(lags, default=0.0),
            "generator.backlog_max": backlog_max,
        }
        for d in inputs.datasets:
            layers[f"runner.dataset_s.{d.id}"] = med(f"runner.dataset_s.{d.id}") / 1000
        files = 0
        for schema in ("raw", "staging", "mart"):
            size, n = _dir_stats(os.path.join(whdir, schema))
            layers[f"warehouse.bytes.{schema}"] = size
            files += n
        layers["warehouse.files"] = files
        out.layers.update(layers)
    return out
