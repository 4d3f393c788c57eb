"""The streaming run harness (streaming/pipeline.stream_run): state
partitions sized fail-open, and every run scoped to a child session
that leaves the caller's confs and the temp area as it found them."""

from __future__ import annotations

import glob
import os
import tempfile
import threading

import pyspark.sql.functions as F
import pytest
from pyspark.sql import SparkSession

from g_etl_spark.queries import queries as load_queries
from g_etl_spark.streaming import pipeline as sp
from test_plans import SF_DIR

PARTS = "spark.sql.shuffle.partitions"
POLICY = "spark.sql.streaming.multipleWatermarkPolicy"


def _run_partitions(spark, size_path: str) -> int:
    with sp.stream_run(spark, size_path, "sizing") as run:
        return int(run.spark.conf.get(PARTS))


def _jvm_active(spark):
    return SparkSession._get_j_spark_session_class(spark._jvm).getActiveSession()


def _g_etl_temp_entries() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "g_etl_*")))


@pytest.mark.parametrize(
    "size_path",
    [
        f"{SF_DIR}_missing/events.parquet",  # missing local path
        "s3a://no-such-bucket/sf1/events.parquet",  # no s3a filesystem installed
    ],
)
def test_unknown_source_size_gets_ambient_partitions(spark, size_path):
    ambient = int(spark.conf.get(PARTS))
    assert ambient > 1  # otherwise fail-open and fail-closed look alike
    assert sp.source_bytes(spark, size_path) is None
    assert _run_partitions(spark, size_path) == ambient


def test_small_events_source_derives_down_to_one_partition(spark):
    assert sp.source_bytes(spark, f"{SF_DIR}/events.parquet") > 0
    assert _run_partitions(spark, f"{SF_DIR}/events.parquet") == 1


def test_stream_run_never_writes_the_caller_session(spark):
    """A batch query keeps running on the caller's session for the
    whole of q439 (derived partitions + max watermark policy on its
    run); the caller's confs must read their pre-run values at every
    sample, and the active session must be the one from before the
    run (Python data sources resolve through it). Then a
    run whose stream build raises must remove its temp dirs and still
    leave the caller's confs alone."""
    before = (spark.conf.get(PARTS), spark.conf.get(POLICY))
    active = (SparkSession.getActiveSession(), _jvm_active(spark))
    seen: list[tuple[str, str]] = []
    done = threading.Event()

    def batch_load():
        while not done.is_set():
            spark.range(2000).groupBy(F.col("id") % 7).count().collect()
            seen.append((spark.conf.get(PARTS), spark.conf.get(POLICY)))

    t = threading.Thread(target=batch_load)
    t.start()
    try:
        rows = load_queries()["q439_stream_watermark_max_policy"](
            spark, SF_DIR
        ).collect()
    finally:
        done.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert rows
    assert len(seen) >= 2
    assert set(seen) == {before}
    assert SparkSession.getActiveSession() is active[0]
    assert _jvm_active(spark).equals(active[1])

    temp_before = _g_etl_temp_entries()
    with pytest.raises(Exception, match="no_such_column"):
        with sp.stream_run(
            spark, f"{SF_DIR}/events.parquet", "failing", {POLICY: "max"}
        ) as run:
            chunk = spark.range(5).withColumn("ts", F.current_timestamp())
            src = run.stage(chunk, "src")
            run.start(run.read(src, "id long, ts timestamp").select("no_such_column"))
    assert _g_etl_temp_entries() == temp_before
    assert (spark.conf.get(PARTS), spark.conf.get(POLICY)) == before
