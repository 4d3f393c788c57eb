"""SparkSession factory with scale-oriented defaults.

Centralizes the engine's Spark configuration so tests, bench, and the
driver entry point all run with the same semantics:

- AQE on (runtime coalescing + skew-join splitting — the 100 TB story
  for skewed grid cells and join keys).
- Arrow on (vectorized pandas UDF / toPandas transfer).
- ANSI off: permissive casts match the reference engine's
  ``TRY_CAST``-heavy SQL (DuckDB NULL-on-failure semantics).
- Session timezone UTC so timestamps hash identically to the
  DuckDB oracle (naive timestamps in the parquet testdata).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "g_etl_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Many distinct generated classes (one per query) exhaust the
        # default 240m JIT code cache mid-session; hot interpreted
        # loops then deoptimize catastrophically.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # FAIR scheduling: concurrent queries (multi-tenant / the
        # bench's concurrency section) share executor slots instead of
        # head-of-line-blocking behind a long job.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    # reliable checkpoint dir for iterative operators (operators/
    # graph.py truncates lineage every round): on a cluster point
    # this at shared storage; locally a temp dir is equivalent.
    try:
        if spark.sparkContext.getCheckpointDir() is None:
            spark.sparkContext.setCheckpointDir(
                os.environ.get(
                    "SPARK_GRAFT_CHECKPOINT_DIR",
                    os.path.join(tempfile.gettempdir(), "g_etl_spark_ckpt"),
                )
            )
    except Exception:
        pass
    return spark


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set runtime SQL confs for the body of a ``with`` block.

    On exit each key gets its previous value back, or is unset if it
    had none, also when the body raises: a scoped override never leaks
    into the session's later queries.
    """
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
