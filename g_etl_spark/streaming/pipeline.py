"""Streaming ingest + rollup (beyond-reference extension, SURVEY §1.1).

Entry points:

- ``streaming_staging_transform``: file-source readStream → the SAME
  staging/normalize stages as batch (stages.py is stateless per-row,
  so the code is shared verbatim) → parquet sink with checkpoint.
  At scale this is the continuous-ingest shape: each micro-batch is
  an append of new raw files.

- ``streaming_event_rollup``: watermarked sliding-window aggregation
  over the events stream — daily counts per event_type tolerating
  late data (the streaming analogue of q11_events_daily; runnable
  against the events testdata via a rate/file source in tests).

- ``stream_run``: the run harness every bounded (availableNow) stream
  run goes through — one scoped child session, owned temp dirs, one
  start-and-wait with a timeout.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager
from typing import Iterator

import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

_STREAM_TIMEOUT_S = 300
_STREAM_PART_BYTES = 64 << 20  # ~64 MB of source per state partition


def read_parquet_stream(
    spark: SparkSession, path: str, schema=None, max_files_per_trigger: int = 10
) -> DataFrame:
    reader = (
        spark.readStream.format("parquet")
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(path)
    # withWatermark rejects TIMESTAMP_NTZ; normalize an event-time
    # `ts` column exactly as the batch reader does (tables.py).
    from g_etl_spark.tables import normalize_event_ts

    return normalize_event_ts(df)


def source_bytes(spark: SparkSession, path: str) -> int | None:
    """Total bytes under ``path`` through the Hadoop FileSystem API, so
    local, HDFS and object-store paths size alike; None when the size
    cannot be read (missing path, no filesystem for the scheme)."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(jpath).getLength())
    except Py4JJavaError:
        return None


def stream_partitions(spark: SparkSession, src_bytes: int | None) -> int:
    """Scale-adaptive shuffle/state partition count for a stream run
    (guide §2.2 fewer-larger partitions, §6 small-files).

    Every stateful streaming operator creates one state-store
    instance PER shuffle partition PER micro-batch (delta + commit
    files through the checkpoint file manager), so partition count is
    pure fixed overhead when the source is small: at the ambient 32
    the state-commit I/O dominated the availableNow runs (measured
    sf0.001: q401 46 s → 12 s, q386 20 s → 8 s at 4 partitions).
    Derive the count from the source bytes (~64 MB per partition,
    floor 1) and NEVER raise it above the ambient session setting —
    on a cluster the ambient (cluster-sized) value wins untouched, so
    this is derive-down only. An unknown size (``None``) fails open
    to the ambient setting, never to 1. Results are partition-count
    independent (the streaming family is oracle-hash-gated;
    watermarks advance between micro-batches globally, never
    per-partition).
    """
    ambient = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if src_bytes is None:
        return ambient
    return max(1, min(ambient, src_bytes // _STREAM_PART_BYTES + 1))


class StreamRun:
    """One bounded stream run: a child session, its temp dirs, and
    availableNow restarts against one checkpoint (see ``stream_run``)."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self._dirs: dict[str, str] = {}

    def dir(self, tag: str) -> str:
        """The run's temp dir for ``tag`` (created on first use, removed
        when the run exits)."""
        if tag not in self._dirs:
            self._dirs[tag] = tempfile.mkdtemp(prefix=f"g_etl_{self.name}_{tag}_")
        return self._dirs[tag]

    def stage(self, df: DataFrame, tag: str) -> str:
        """Append ``df`` as one parquet file to the ``tag`` source dir
        (one arrival chunk); returns the dir."""
        df.coalesce(1).write.mode("append").parquet(self.dir(tag))
        return self.dir(tag)

    def read(self, path: str, schema) -> DataFrame:
        """File-source stream over staged parquet, on the run session;
        every file present at start is taken in one micro-batch."""
        return read_parquet_stream(
            self.spark, path, schema=schema, max_files_per_trigger=10_000
        )

    def start(
        self, df: DataFrame, mode: str = "append", memory: bool = False
    ) -> StreamingQuery:
        """Run ``df`` (built on ``self.spark``) to completion with
        trigger=availableNow against the run's checkpoint, into the
        run's parquet sink dir — or, with ``memory``, into an in-memory
        table ``self.spark.table(self.name)``. Returns the finished
        query (``lastProgress``/``recentProgress`` stay readable).

        A run that does not finish within _STREAM_TIMEOUT_S is stopped
        and raises: a partial sink must never masquerade as the
        complete result."""
        w = (
            df.writeStream.outputMode(mode)
            .option("checkpointLocation", self.dir("ckpt"))
            .trigger(availableNow=True)
        )
        if memory:
            w = w.format("memory").queryName(self.name)
        else:
            w = w.format("parquet").option("path", self.dir("sink"))
        q = w.start()
        if not q.awaitTermination(_STREAM_TIMEOUT_S):
            q.stop()
            q.awaitTermination(30)
            raise RuntimeError(
                f"stream {self.name} did not finish within {_STREAM_TIMEOUT_S}s"
            )
        return q

    def close(self) -> None:
        """Stop any query still running and remove the run's dirs."""
        for q in self.spark.streams.active:
            q.stop()
        for d in self._dirs.values():
            shutil.rmtree(d, ignore_errors=True)


@contextmanager
def stream_run(
    spark: SparkSession, size_path: str, name: str, confs: dict | None = None
) -> Iterator[StreamRun]:
    """Scope one stream run (or restart loop) to a child session.

    The child is a clone of ``spark`` — it inherits the caller's
    runtime confs (``newSession()`` would not) — with the state
    partition count derived once from ``size_path``
    (``stream_partitions``) plus ``confs`` applied to it alone, so
    the caller's session is never written and a concurrent batch
    query on it never sees the run's settings. The active session is
    restored on exit: calls such as ``createDataFrame`` on the child
    make it the active one, and Python data sources are looked up in
    the active session. Every temp dir the run hands out is removed
    on exit, also when the run raises; results must be read (or
    checkpointed) inside the block, except a memory sink, which lives
    on in the child session.
    """
    jsession = SparkSession._get_j_spark_session_class(spark._jvm)
    active = (SparkSession._activeSession, jsession.getActiveSession())
    child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    parts = stream_partitions(spark, source_bytes(spark, size_path))
    for key, value in {"spark.sql.shuffle.partitions": parts, **(confs or {})}.items():
        child.conf.set(key, str(value))
    run = StreamRun(child, name)
    try:
        yield run
    finally:
        run.close()
        SparkSession._activeSession = active[0]
        if active[1].isDefined():
            jsession.setActiveSession(active[1].get())
        else:
            jsession.clearActiveSession()


def streaming_event_rollup(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Watermarked windowed rollup: late rows older than the watermark
    are dropped; state is bounded (the 100 TB streaming requirement).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.date_format(F.col("day.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
            F.round("total_value", 2).alias("total_value"),
        )
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact-dedup: keep the first arrival per key, with
    state bounded by the event-time watermark
    (``dropDuplicatesWithinWatermark``) — the streaming counterpart
    of operators/dedup.exact_dedup.

    Semantics: duplicates arriving within the watermark interval of
    the first occurrence are dropped; state for a key is reaped once
    the watermark passes it, so a duplicate arriving LATER than the
    watermark re-emits. That trade (bounded state vs perfect global
    dedup) is the only one that survives 100 TB/day streams — an
    unbounded `dropDuplicates` grows state forever. Exactly-once
    retention beyond the watermark belongs to the batch compaction
    pass (exact_dedup over the sink).
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def streaming_followup_join(
    events: DataFrame,
    first_type: str = "click",
    then_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join: per user, pair each ``first_type``
    event with ``then_type`` events that follow within ``within``
    (conversion attribution). Both sides carry event-time watermarks
    and the join condition time-bounds both directions, so Spark can
    reap join state once the watermark passes — the bounded-state
    requirement for joining two unbounded streams.

    Scale: state per key is O(events inside the watermark window);
    the join shuffles both streams on user_id once. The equivalent
    batch shape is the bucketed range join (queries q37).
    """
    a = (
        events.filter(F.col("event_type") == first_type)
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("first_id"),
            F.col("ts").alias("first_ts"),
        )
        .withWatermark("first_ts", watermark)
    )
    b = (
        events.filter(F.col("event_type") == then_type)
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("then_id"),
            F.col("ts").alias("then_ts"),
        )
        .withWatermark("then_ts", watermark)
    )
    return a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("then_ts") > F.col("first_ts"))
        & (F.col("then_ts") <= F.col("first_ts") + F.expr(f"interval {within}")),
        "inner",
    ).select(
        F.col("a_user").alias("user_id"), "first_id", "then_id", "first_ts", "then_ts"
    )


def start_incremental_grid_ingest(
    raw_stream: DataFrame,
    warehouse_dir: str,
    dataset_id: str,
    checkpoint: str,
    field_mapping: dict,
    index=None,
    refresh_stats: bool = True,
    available_now: bool = False,
) -> StreamingQuery:
    """Continuous grid-index ingest: file-source stream → foreachBatch
    running the SAME batch stage chain (staging_transform → normalize
    → explode_cells) → idempotent append to mart/{id}_grid → grid
    stats refresh.

    Exactly-once contract: foreachBatch is at-least-once on failure
    replay, so each micro-batch writes into its own ``_batch_id=N``
    partition with dynamic partition-overwrite — a replayed batch
    OVERWRITES its own partition instead of duplicating rows. Restart
    from the checkpoint therefore converges to exactly the batch
    result (tests/test_export_streaming.py kills and resumes mid-run
    to pin this).

    Scale: each micro-batch is an independent append job (no state);
    the stats refresh is INCREMENTAL — only cell_prefix partitions
    the batch touched are recomputed and dynamically overwritten
    (warehouse.refresh_grid_stats_incremental), so refresh cost
    follows batch locality, not warehouse size.
    """
    from g_etl_spark import stages, warehouse as wh

    out_path = wh.table_path(warehouse_dir, "mart", dataset_id + wh.GRID_SUFFIX)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        staged = stages.staging_transform(
            stages.normalize_geometry_column(batch_df), index=index
        )
        exploded = stages.explode_cells(stages.normalize(staged, field_mapping))
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                exploded.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("compression", "zstd")
                .partitionBy("_batch_id")
                .parquet(out_path)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        if refresh_stats:
            # incremental: only the cell_prefix partitions this batch
            # touched are recomputed (O(touched region), not O(index))
            wh.refresh_grid_stats_incremental(spark, warehouse_dir, exploded)

    writer = raw_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` (the escape hatch for semantics Spark's
    built-in windows can't express — a session closes after
    ``gap_minutes`` of inactivity, emitting one row per closed
    session).

    State per user is (session_start, last_seen, n_events) — bounded;
    stale state is reaped via GroupStateTimeout.EventTimeTimeout when
    the watermark passes last_seen + gap.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    output_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("session_start", LongType()),  # epoch micros
            StructField("last_seen", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        closed = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                closed.append((user_id, start, last, n))
                state.remove()
        else:
            ts_us = []
            for pdf in pdf_iter:
                ts_us.extend(
                    int(t.value // 1000) for t in pd.to_datetime(pdf["ts"])
                )
            ts_us.sort()
            if state.exists:
                start, last, n = state.get
            else:
                start, last, n = None, None, 0
            for t in ts_us:
                if last is None:
                    start, last, n = t, t, 1
                elif t - last > gap_us:
                    closed.append((user_id, start, last, n))
                    start, last, n = t, t, 1
                else:
                    last, n = t, n + 1
            if last is not None:
                state.update((start, last, n))
                state.setTimeoutTimestamp(last // 1000 + gap_minutes * 60 * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                    "n_events": [c[3] for c in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_sessionize_labeled(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """``streaming_sessionize`` with the EMISSION PATH exposed: each
    closed session carries ``via`` = 'data' (a later event of the
    same user exceeded the gap inside a data batch) or 'timeout'
    (the EventTimeTimeout fired — the watermark passed last_seen +
    gap while the group had no new data). The label is the state-TTL
    audit surface: it distinguishes sessions evicted by the reaper
    from sessions closed by arrival, which is exactly the state-size
    vs emission-latency contract a production job tunes
    (gap vs watermark delay).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    output_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("via", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("session_start", LongType()),  # epoch micros
            StructField("last_seen", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        closed = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                closed.append((user_id, start, last, n, "timeout"))
                state.remove()
        else:
            ts_us = []
            for pdf in pdf_iter:
                ts_us.extend(
                    int(t.value // 1000) for t in pd.to_datetime(pdf["ts"])
                )
            ts_us.sort()
            if state.exists:
                start, last, n = state.get
            else:
                start, last, n = None, None, 0
            for t in ts_us:
                if last is None:
                    start, last, n = t, t, 1
                elif t - last > gap_us:
                    closed.append((user_id, start, last, n, "data"))
                    start, last, n = t, t, 1
                else:
                    last, n = t, n + 1
            if last is not None:
                state.update((start, last, n))
                state.setTimeoutTimestamp(last // 1000 + gap_minutes * 60 * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                    "n_events": [c[3] for c in closed],
                    "via": [c[4] for c in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
