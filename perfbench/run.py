"""Benchmark entry point.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Each invocation is
one fresh process: it stages the workload's seeded inputs under
``.perfbench/``, starts the engine's Spark session on ``local[nproc]``,
sets the workload up, measures for ``--seconds`` seconds, checks every
result, stops Spark and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (see perfbench/README.md). A
human-readable report, with host noise and provenance, goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench import host  # noqa: E402
from perfbench.common import E2E, LAYERS, Context, Outcome  # noqa: E402

WORKLOADS = ("registry", "polygon_serving")


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _check_checkout(root: Path) -> None:
    """Refuse to run without the engine's sources: a directory holding
    only the benchmark has nothing to measure."""
    if not (root / "g_etl_spark" / "__init__.py").is_file():
        _fail(f"no g_etl_spark package under {root}; run from the repository root")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        _fail("pyspark is not importable")


def _session_env(root: Path, work: Path, cpus: int) -> None:
    """Pin the engine session to this host, from the outside: the
    engine defaults to local[32] and a 16g driver."""
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    for d in ("tmp", "spark-local", "ckpt", "spark-warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            # the pandas UDF workers import the engine: without this
            # every runner dataset fails with ModuleNotFoundError
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(root), os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, mem_mb // 4))}m",
            "SPARK_GRAFT_CHECKPOINT_DIR": str(work / "ckpt"),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(work / "tmp"),
            # keep the JVM's temp files and perf-data file out of /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--conf spark.sql.warehouse.dir={work / 'spark-warehouse'} "
                "pyspark-shell"
            ),
        }
    )


def _start_spark():
    from g_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    _reap_descendants()


def _reap_descendants() -> None:
    me = os.getpid()
    deadline = time.monotonic() + 15
    while True:
        left = [p for p in host.tree_pids() if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 15
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def _report(args, ctx: Context, out: Outcome, extra: dict) -> None:
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace}", file=sys.stderr)
    for k, v in {**extra, **out.info}.items():
        print(f"#   {k}: {v}", file=sys.stderr)
    for name, unit in E2E.items():
        print(f"#   e2e {name}: {out.e2e.get(name)} {unit}", file=sys.stderr)
    if ctx.tracer.enabled:
        for name, unit in LAYERS.items():
            print(f"#   layer {name}: {out.layers.get(name, 0)} {unit}", file=sys.stderr)
    for e in out.errors[:10]:
        print(f"#   FAILED: {e}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # run the cleanup below (stop Spark, remove the work dir) on SIGTERM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    root = Path.cwd()
    _check_checkout(root)
    cpus = host.nproc()
    work = root / ".perfbench" / f"work-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _session_env(root, work, cpus)

    from perfbench import polygon_serving, registry
    from perfbench.trace import Tracer

    module = {"registry": registry, "polygon_serving": polygon_serving}[args.workload]
    spark = None
    try:
        t0 = time.perf_counter()
        inputs = module.generate(work, args.seed)
        gen_s = time.perf_counter() - t0

        setup_t0 = time.perf_counter()
        spark, start_s = _start_spark()
        tracer = Tracer(spark, enabled=bool(args.trace))
        meter = host.HostMeter()
        ctx = Context(spark, tracer, meter, work, args.seed, args.seconds, setup_t0)
        out = module.run(ctx, inputs)
        out.layers["session.start_s"] = start_s
        out.layers.update(meter.metrics())
        out.layers["trace.overhead_pct"] = (
            100.0 * tracer.overhead_s / out.window_s if out.window_s else 0.0
        )
        tracer.restore()
        import pyspark

        extra = {
            "commit": host.commit(str(root)),
            "source_digest": host.source_digest(str(root)),
            "nproc": cpus,
            "spark": pyspark.__version__,
            "inputs_s": round(gen_s, 3),
            "window_s": round(out.window_s, 3),
            **{k: round(v, 3) for k, v in out.layers.items() if k.startswith("host.")},
        }
        _report(args, ctx, out, extra)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values, units = out.layers, LAYERS
    else:
        values, units = out.e2e, E2E
    # a metric a failed run could not measure is null, never NaN
    metrics = {
        n: {"value": None if math.isnan(values.get(n, 0)) else values.get(n, 0), "unit": u}
        for n, u in units.items()
    }
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
