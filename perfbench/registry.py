"""Workload ``registry``: analysts running registry queries.

A closed loop with one client over seeded, shuffled rounds on seeded
sf0.1 tables; a round runs every query once, and the window lasts at
least ``--seconds`` and at least two rounds, so every query has at
least two timed runs. Each query is preceded by
``spark.catalog.clearCache()`` and timed from the call into the
registry function until its rows are collected. Set-up runs every
query once, two at a time: the first run of a query is 2-9x slower
than later ones.

Two classes:

- short: fixed per-query overhead dominates (plan build,
  ``tables.load`` schema inference, Catalyst, job launch);
- long: execution or the eager iterative loops dominate.

A gain in plan build or ``tables.load`` shows in the short class and
not the long one; a gain in shuffles or the iterative loops shows the
other way round.
"""

from __future__ import annotations

import random
import sys
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from statistics import fmean

from perfbench import datagen
from perfbench.common import Outcome, digest
from perfbench.stats import geomean

SF = 0.1
SHORT = ["q01", "q21", "q22", "q42", "q60", "q147"]
LONG = ["q52", "q170"]
WARM_THREADS = 2
MIN_ROUNDS = 2


def generate(work, seed: int) -> str:
    out = str(work / "tpch")
    datagen.write_tpch(out, SF, seed)
    return out


def _resolve(qs: dict) -> dict[str, str]:
    """Short id (``q01``) -> registered name (``q01_pricing_summary``)."""
    out = {}
    for qid in SHORT + LONG:
        names = [n for n in qs if n.split("_", 1)[0] == qid]
        if len(names) != 1:
            raise LookupError(f"registry has {len(names)} queries with id {qid}")
        out[qid] = names[0]
    return out


def keep_going(full_rounds: int, elapsed: float, seconds: float) -> bool:
    """The window lasts at least ``seconds`` and MIN_ROUNDS completed
    rounds."""
    return full_rounds < MIN_ROUNDS or elapsed < seconds


def run(ctx, sf_dir: str) -> Outcome:
    from g_etl_spark import tables
    from g_etl_spark.queries import queries

    spark, tr = ctx.spark, ctx.tracer
    out = Outcome()
    qs = queries()
    names = _resolve(qs)
    if tr.enabled:
        mods = [m for n, m in sys.modules.items() if n.startswith("g_etl_spark") and m]
        tr.wrap_everywhere(tables.load, "tables.load", mods)

    per_q: dict[str, dict] = {q: defaultdict(list) for q in names}
    counts: dict[str, dict[str, dict[str, int]]] = {q: {} for q in names}

    def one(qid: str, timed: bool) -> tuple[float, list]:
        if timed:
            spark.catalog.clearCache()
        rec = per_q[qid]
        n_load = tr.calls["tables.load"]
        ms_load = sum(tr.ms["tables.load"])
        build_c: dict[str, int] = {}
        exec_c: dict[str, int] = {}
        t0 = time.perf_counter()
        with tr.job_group(build_c):
            df = qs[names[qid]](spark, sf_dir)
        t1 = time.perf_counter()
        with tr.job_group(exec_c):
            if tr.enabled:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            rows = df.collect()
        t3 = time.perf_counter()
        if timed and tr.enabled:
            rec["build_ms"].append((t1 - t0) * 1000)
            rec["plan_ms"].append((t2 - t1) * 1000)
            rec["exec_ms"].append((t3 - t2) * 1000)
            rec["load_ms"].append(sum(tr.ms["tables.load"]) - ms_load)
            counts[qid].setdefault(
                "first",
                {
                    "load_calls": tr.calls["tables.load"] - n_load,
                    "build_jobs": build_c.get("jobs", 0),
                    **exec_c,
                    "rows": len(rows),
                },
            )
        return (t3 - t0) * 1000, rows

    # set-up: one untimed run of every query, which also fixes the
    # expected result of each. Two at a time: this only warms the JVM,
    # codegen and Python workers, and halves the set-up wall time. A
    # second warm pass does not fit a run's budget (README.md).
    def warm(qid: str):
        try:
            _, rows = one(qid, timed=False)
        except Exception as e:  # noqa: BLE001 - its timed runs fail too
            return None, f"{qid}: warm-up {type(e).__name__}: {e}"
        return digest(rows), None if rows else f"{qid}: empty result in warm-up"

    rng = random.Random(ctx.seed)
    order = rng.sample(list(names), len(names))
    with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
        expected = dict(zip(order, pool.map(warm, order)))
    for qid, (want, err) in list(expected.items()):
        expected[qid] = want
        out.check(err is None, err)
    spark.catalog.clearCache()
    setup_s = time.perf_counter() - ctx.setup_t0

    lat: dict[str, list[float]] = defaultdict(list)
    ctx.meter.start()
    w0 = time.perf_counter()
    full_rounds = 0
    while True:
        for qid in rng.sample(list(names), len(names)):
            if not keep_going(full_rounds, time.perf_counter() - w0, ctx.seconds):
                break
            try:
                ms, rows = one(qid, timed=True)
            except Exception as e:  # noqa: BLE001 - count and go on
                out.check(False, f"{qid}: {type(e).__name__}: {e}")
                continue
            ctx.meter.sample_rss()
            got = digest(rows)
            if out.check(rows and got == expected[qid], f"{qid}: got {got}, expected {expected[qid]}"):
                lat[qid].append(ms)
        else:
            full_rounds += 1
            if keep_going(full_rounds, time.perf_counter() - w0, ctx.seconds):
                continue
        break
    window_s = time.perf_counter() - w0
    out.window_s = window_s
    ctx.meter.stop()

    # geomean over queries of each query's geomean: no percentile of a
    # handful of runs, and every query weighs the same in its class
    per_q_gm = {q: geomean(v) for q, v in lat.items() if v}
    short = [per_q_gm[q] for q in SHORT if q in per_q_gm]
    long_ = [per_q_gm[q] for q in LONG if q in per_q_gm]
    if not out.check(
        len(short) == len(SHORT) and len(long_) == len(LONG), "a query has no correct timed run"
    ):
        short = short or [float("nan")]
        long_ = long_ or [float("nan")]
    out.e2e = {
        "setup_s": setup_s,
        "light_ms": geomean(short),
        "heavy_ms": geomean(long_),
    }
    out.info = {
        "short_geomean_ms": round(out.e2e["light_ms"], 1),
        "long_geomean_ms": round(out.e2e["heavy_ms"], 1),
        "queries_per_s": round(sum(map(len, lat.values())) / window_s, 4),
        "full_rounds": full_rounds,
        "per_query_runs_ms": {q: [round(x) for x in v] for q, v in sorted(lat.items())},
    }

    if tr.enabled:
        def gm(cls, key):
            vals = [geomean(per_q[q][key]) for q in cls if per_q[q][key]]
            return geomean(vals) if vals else 0.0

        def total(key):
            return sum(c.get("first", {}).get(key, 0) for c in counts.values())

        out.layers.update(
            {
                "tables.load_calls": total("load_calls"),
                "tables.load_ms": sum(
                    fmean(per_q[q]["load_ms"]) for q in names if per_q[q]["load_ms"]
                ),
                "short.build_ms": gm(SHORT, "build_ms"),
                "long.build_ms": gm(LONG, "build_ms"),
                "spark.build_jobs": total("build_jobs"),
                "catalyst.plan_ms": gm(SHORT + LONG, "plan_ms"),
                "spark.exec_ms": gm(SHORT + LONG, "exec_ms"),
                "spark.jobs": total("jobs"),
                "spark.stages": total("stages"),
                "spark.tasks": total("tasks"),
                "result.rows": total("rows"),
            }
        )
    return out
