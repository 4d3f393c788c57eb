"""Streaming ⇄ batch equivalence queries (driver-oracle coverage for
the Structured Streaming family, VERDICT r2 "Next round" #5).

Each query actually RUNS a structured-streaming pipeline
(readStream → transform → sink, trigger=availableNow) over the events
testdata staged into a temp source directory, then returns the sink
contents as a DataFrame. The DuckDB oracle is the batch-equivalent
SQL, so streaming correctness gets a full hash-compared CORRECTNESS
row instead of pytest-only coverage.

Every run goes through one harness, ``streaming/pipeline.stream_run``:
a run's staging, stream and read-back execute on a child session
cloned from the caller (state partitions derived once from the events
source size, fail-open to the ambient setting; q439's watermark policy
rides the same scope), so the caller's session confs are never
written. The harness owns the source, checkpoint and sink dirs and
removes them on exit; each start waits at most 300 s and raises on
timeout. Two run shapes use it:

- single run into a memory sink (``_run_stream``: q91-q93, q139,
  q171, q271) — the whole source is one micro-batch;
- chunked restarts (q222, q370, q386, q401/q416, q412, q426/q439,
  q431, q436) — arrival chunks staged one at a time, each an
  availableNow restart against the run's durable checkpoint and
  parquet sink, so watermarks advance and state is reaped BETWEEN
  batches. Results are read back from the sink and checkpointed
  before the harness removes its dirs.

Determinism notes:
- a single-run source is ONE parquet file (coalesce(1)) so availableNow
  processes everything in a single micro-batch — the watermark starts
  at -inf and nothing is ever late-dropped, making the streaming
  result exactly the batch result;
- timestamps are emitted as epoch micros (unix_micros / epoch_us) so
  both engines hash identical integers.

Reference scope: the reference engine is batch-only (DuckDB ETL); the
streaming family is a beyond-reference extension (SURVEY §1.1) whose
batch shapes are q11 (rollup), q50 (dedup), q37/q90 (time joins).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from g_etl_spark.queries import register
from g_etl_spark.streaming import pipeline as sp
from g_etl_spark.tables import load


def _events_run(
    spark: SparkSession, sf_dir: str, name: str, confs: dict | None = None
):
    """The family's harness scope: every run sizes its state
    partitions off the events source it stages from."""
    return sp.stream_run(spark, f"{sf_dir}/events.parquet", name, confs)


def _run_stream(
    spark: SparkSession, sf_dir: str, source_df: DataFrame, build, mode: str
) -> DataFrame:
    """Stage `source_df` as a single-file stream source, run the
    streaming transform `build(stream_df)` into a memory sink with
    trigger=availableNow, and return the sink table (on the run's
    session)."""
    with _events_run(spark, sf_dir, "stream_equiv") as run:
        src = run.stage(source_df, "src")
        run.start(build(run.read(src, source_df.schema)), mode, memory=True)
    # the memory sink holds the rows driver-side after the query ends;
    # bounded by the aggregated/deduped result size, not the stream.
    return run.spark.table(run.name)


@register(
    "q91_stream_rollup_equiv",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           event_type,
           count(*)                 AS n,
           round(sum(value), 2)     AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q91_stream_rollup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed streaming rollup == batch daily rollup.

    Runs streaming_event_rollup (withWatermark + window agg,
    streaming/pipeline.py) over the staged events stream; complete
    mode emits the final aggregate. Scale: state is one row per
    (day, event_type) inside the watermark horizon — bounded.
    """
    events = load(spark, sf_dir, "events")
    out = _run_stream(spark, sf_dir, events, sp.streaming_event_rollup, "complete")
    return out.orderBy("day", "event_type")


@register(
    "q92_stream_dedup_equiv",
    oracle="""
    SELECT event_id, user_id, event_type,
           epoch_us(ts)    AS ts_us,
           round(value, 3) AS value
    FROM events
    ORDER BY event_id
    """,
)
def q92_stream_dedup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermark-bounded exact dedup == batch DISTINCT.

    Plants duplicates (every 10th event re-appended) and runs
    streaming_dedup (dropDuplicatesWithinWatermark on event_id): each
    key emits exactly its first arrival, so the result is the original
    event set. Scale: state per key is reaped once the watermark
    passes it (the only dedup that survives unbounded streams).
    """
    events = load(spark, sf_dir, "events")
    corpus = events.unionByName(events.filter(F.col("event_id") % 10 == 0))
    out = _run_stream(
        spark,
        sf_dir,
        corpus,
        lambda s: sp.streaming_dedup(s, ["event_id"], watermark="1 day"),
        "append",
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 3).alias("value"),
    ).orderBy("event_id")


@register(
    "q93_stream_join_equiv",
    oracle="""
    SELECT a.user_id,
           a.event_id   AS first_id,
           b.event_id   AS then_id,
           epoch_us(a.ts) AS first_us,
           epoch_us(b.ts) AS then_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 HOUR
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    ORDER BY first_id, then_id
    """,
)
def q93_stream_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded join == batch range join.

    Runs streaming_followup_join (click → purchase within 1h per
    user, watermarks both sides): with everything in one micro-batch,
    the emitted matches are exactly the batch join (batch shape:
    q37/q90). Scale: join state is bounded by the watermark horizon
    and reaped as it advances.
    """
    events = load(spark, sf_dir, "events")
    out = _run_stream(spark, sf_dir, events, sp.streaming_followup_join, "append")
    return out.select(
        "user_id",
        "first_id",
        "then_id",
        F.unix_micros("first_ts").alias("first_us"),
        F.unix_micros("then_ts").alias("then_us"),
    ).orderBy("first_id", "then_id")


@register(
    "q139_stream_session_equiv",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
    ),
    agg AS (
        SELECT user_id, session_id,
               epoch_us(min(ts)) AS start_us,
               epoch_us(max(ts)) AS end_us,
               count(*)          AS n_events
        FROM sess GROUP BY user_id, session_id
    ),
    last AS (SELECT user_id, max(session_id) AS mx FROM agg GROUP BY user_id),
    wm AS (SELECT epoch_us(max(ts)) // 1000 - 3600000 AS wm_ms FROM events)
    SELECT a.user_id, a.start_us, a.end_us, a.n_events
    FROM agg a JOIN last l ON a.user_id = l.user_id
    WHERE a.session_id < l.mx
       OR a.end_us // 1000 + 1800000 < (SELECT wm_ms FROM wm)
    ORDER BY a.user_id, a.start_us
    """,
)
def q139_stream_session_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator under the oracle gate:
    per-user sessionization via applyInPandasWithState
    (streaming/pipeline.streaming_sessionize — the API for semantics
    built-in streaming windows can't express), equivalent to batch
    sessionization minus each user's still-open trailing session.

    Emission contract the oracle states exactly: a session emits
    when a LATER event closes it (gap exceeded within the data
    batch), OR when its EventTimeTimeout fires in the final
    watermark-advance micro-batch availableNow runs after the data
    batch — i.e. last_seen_ms + 30 min < max_event_ms − 1 h (strict,
    matching FlatMapGroupsWithState's timeout check at millisecond
    resolution). Each user's trailing session inside that horizon
    stays in state — precisely what a forever-running stream
    exhibits at any instant. The compare therefore verifies the
    session algebra AND both emission boundaries.

    Scale: state per user is one (start, last_seen, n) triple,
    reaped by EventTimeTimeout when the watermark passes last_seen
    + gap — bounded regardless of stream length; the Arrow batch
    path is the same applyInPandas machinery as q129's packer.
    """
    events = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    out = _run_stream(
        spark,
        sf_dir,
        events,
        lambda s: sp.streaming_sessionize(s, gap_minutes=30, watermark="1 hour"),
        "append",
    )
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
    ).orderBy("user_id", "start_us")


@register(
    "q171_stream_hll_registers",
    oracle="""
    WITH hashed AS (
        SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
               ((user_id * 2654435761) % 2147483647) % 256 AS bucket,
               (user_id * 104729 + 12345) % 2147483647 AS h2
        FROM events
    )
    SELECT di, bucket,
           max(least(CAST(CASE WHEN h2 = 0 THEN 32
                          ELSE log2(h2 & (-h2)) + 1 END AS BIGINT), 40)) AS rho
    FROM hashed GROUP BY di, bucket
    ORDER BY di, bucket
    """,
)
def q171_stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialization of the daily HLL register state: a
    REAL readStream pipeline (availableNow) aggregates the SAME
    integer-exact (day, bucket) → max(rho) registers that q113
    estimates from and q169 rolling-merges — gated against the batch
    oracle on the register state itself. This closes the sketch
    story: max() is the merge, so the streaming aggregate IS the
    incremental sketch maintenance a standing pipeline runs (new
    events only ever raise registers; outputMode=complete emits the
    whole tiny state).

    Scale: streaming state is |days|×256 small ints — the textbook
    bounded-state aggregation (no watermark needed: the state never
    grows past the day count, unlike per-key session state q139
    reaps by timeout). Downstream, q169's window merge answers any
    trailing-window distinct off this state without re-reading
    events.
    """
    e = load(spark, sf_dir, "events").select("ts", "user_id")

    def build(stream: DataFrame) -> DataFrame:
        from g_etl_spark.queries.sketches import _RHO_SQL

        di = F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        rho = F.expr(_RHO_SQL)
        return (
            stream.select(
                di.cast("long").alias("di"),
                F.expr("((user_id * 2654435761) % 2147483647) % 256").alias(
                    "bucket"
                ),
                F.expr("(user_id * 104729 + 12345) % 2147483647").alias("h2"),
            )
            .groupBy("di", "bucket")
            .agg(F.max(rho).alias("rho"))
        )

    out = _run_stream(spark, sf_dir, e, build, "complete")
    return out.orderBy("di", "bucket")


_WMDROP_JIT_US = 600_000_000  # 10 min of jitter per (event_id % 797) unit
_WMDROP_DELAY_US = 2 * 3600 * 1_000_000  # withWatermark("ts", "2 hours")
_WMDROP_WIN_US = 6 * 3600 * 1_000_000  # 6-hour tumbling windows
_WMDROP_CHUNKS = 4


@register(
    "q222_stream_watermark_drops",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, epoch_us(ts) AS ts_us,
               epoch_us(ts) + (event_id % 797) * {_WMDROP_JIT_US} AS ak
        FROM events
    ),
    chunked AS (
        SELECT event_id, ts_us,
               ntile({_WMDROP_CHUNKS}) OVER (ORDER BY ak, event_id) AS k
        FROM ev
    ),
    wm AS MATERIALIZED (
        -- watermark AFTER chunk k = cummax(max event time) - delay
        SELECT k,
               max(mx) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                   - {_WMDROP_DELAY_US} AS wm_after
        FROM (SELECT k, max(ts_us) AS mx FROM chunked GROUP BY k)
    ),
    kept AS (
        -- a row in chunk k is processed against the watermark after
        -- chunk k-1; its window must still be open
        SELECT c.ts_us - c.ts_us % {_WMDROP_WIN_US} AS win_start_us
        FROM chunked c
        LEFT JOIN wm ON wm.k = c.k - 1
        WHERE wm.wm_after IS NULL
           OR (c.ts_us - c.ts_us % {_WMDROP_WIN_US}) + {_WMDROP_WIN_US}
              > wm.wm_after
    ),
    final_wm AS (SELECT wm_after FROM wm WHERE k = {_WMDROP_CHUNKS})
    SELECT win_start_us, CAST(count(*) AS BIGINT) AS n
    FROM kept
    WHERE win_start_us + {_WMDROP_WIN_US} <= (SELECT wm_after FROM final_wm)
    GROUP BY win_start_us
    ORDER BY win_start_us
    """,
)
def q222_stream_watermark_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multi-micro-batch watermark semantics, hash-gated: events
    arrive out of event-time order (arrival = ts + per-event jitter
    up to ~5.5 days (event_id % 797 x 10 min)), staged as 4 arrival chunks; each chunk is one
    availableNow restart against a persistent checkpoint + parquet
    sink, so the watermark genuinely advances BETWEEN batches and
    genuinely DROPS late rows from closed 6-hour windows (the one
    streaming behavior q91-q93/q139/q171 could not exhibit — their
    single-batch staging never closes a window mid-stream). The
    oracle simulates the engine's contract exactly: watermark after
    chunk k = cummax(event time) - 2h; a chunk-k row survives iff
    its window end is still above the post-(k-1) watermark; only
    windows the final watermark has passed are emitted (append
    mode). Jitter and window bounds are integer micros; watermark
    values are event-time micros minus a constant, so no comparison
    ever lands on a float or a tie.

    Scale: the ntile(4) chunk staging is a GLOBAL window — fine
    here because staging is the TEST HARNESS (in production the
    arrival chunks are the ingest files themselves, no sort
    anywhere); the operator under test is the streaming pipeline.
    Otherwise this is the production shape itself — file-source
    restarts with a durable checkpoint, bounded window state (the
    watermark reaps it), parquet sink. State at any moment is
    |open windows| x |keys|, not corpus; the restart loop proves the
    recovery path the single-run queries can't.
    """
    with _events_run(spark, sf_dir, "wmdrop") as run:
        events = load(run.spark, sf_dir, "events").select("event_id", "ts")
        ak = F.unix_micros("ts") + (F.col("event_id") % 797) * _WMDROP_JIT_US
        chunked = events.withColumn(
            "k",
            F.ntile(_WMDROP_CHUNKS).over(Window.orderBy(ak.asc(), F.col("event_id"))),
        )
        for k in range(1, _WMDROP_CHUNKS + 1):
            src = run.stage(
                chunked.where(F.col("k") == k).select("event_id", "ts"), "src"
            )
            run.start(
                run.read(src, events.schema)
                .withWatermark("ts", "2 hours")
                .groupBy(F.window("ts", "6 hours").alias("w"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
        out = run.spark.read.parquet(run.dir("sink")).select(
            F.unix_micros("w.start").alias("win_start_us"),
            F.col("n").cast("long").alias("n"),
        )
        return out.orderBy("win_start_us").localCheckpoint(eager=True)


@register(
    "q271_stream_static_enrich",
    oracle="""
    WITH ev AS (
        SELECT CASE WHEN user_id % 10 < 7 THEN 0
                    ELSE CAST(user_id % 25 AS INTEGER) END AS nk,
               value
        FROM events
    )
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(ev.value), 2) AS total_value
    FROM ev JOIN nation n ON ev.nk = n.n_nationkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
)
def q271_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join == batch join: the canonical
    Structured Streaming pattern the family still lacked — a
    streaming fact joined per micro-batch to a STATIC dimension
    (nation, rebroadcast each batch, no state), then a complete-mode
    rollup. This is how a production stream attaches reference data
    (country tables, product catalogs) without stream-stream state;
    q93 covers the stateful stream-stream case.

    Scale: the static side is broadcast per micro-batch (dim-sized,
    no watermark, no state store growth); streaming state is only
    the |dims| aggregate rows. The planted 70%-hot key (the q254
    skew) rides through the broadcast join untouched — broadcast
    joins are skew-immune, which is WHY the enrichment pattern
    prefers them.
    """
    events = load(spark, sf_dir, "events")

    def build(stream):
        dim = load(stream.sparkSession, sf_dir, "nation").select(
            F.col("n_nationkey").alias("nk"), "n_name"
        )
        ev = stream.select(
            F.when(F.col("user_id") % 10 < 7, F.lit(0))
            .otherwise((F.col("user_id") % 25).cast("int"))
            .alias("nk"),
            "value",
        )
        return (
            ev.join(F.broadcast(dim), "nk")
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )

    out = _run_stream(spark, sf_dir, events, build, "complete")
    return out.orderBy("n_name")


_FANIN_CHUNKS = 4
_FANIN_WIN_US = 6 * 3600 * 1_000_000          # 6-hour tumbling windows
_FANIN_JIT_A_US = 60_000_000                  # clicks: ≤88 min jitter
_FANIN_JIT_B_US = 600_000_000                 # purchases: ≤5.5 days jitter
_FANIN_DELAY_A_US = 3600 * 1_000_000          # withWatermark 1 hour
_FANIN_DELAY_B_US = 12 * 3600 * 1_000_000     # withWatermark 12 hours


@register(
    "q370_stream_union_watermarks",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, event_type AS source, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'click'
                    THEN epoch_us(ts) + (event_id % 89) * {_FANIN_JIT_A_US}
                    ELSE epoch_us(ts) + (event_id % 797) * {_FANIN_JIT_B_US}
               END AS ak,
               CASE WHEN event_type = 'click'
                    THEN {_FANIN_DELAY_A_US} ELSE {_FANIN_DELAY_B_US}
               END AS delay
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    chunked AS (
        SELECT event_id, source, ts_us, delay,
               ntile({_FANIN_CHUNKS}) OVER (PARTITION BY source
                                            ORDER BY ak, event_id) AS k
        FROM ev
    ),
    srcwm AS MATERIALIZED (
        -- per-source watermark after chunk k: cummax(event time seen
        -- by THAT source's watermark node) - its own delay
        SELECT source, k,
               max(mx) OVER (PARTITION BY source
                             ORDER BY k ROWS UNBOUNDED PRECEDING)
                   - any_value(delay) AS wm_src
        FROM (SELECT source, k, max(ts_us) AS mx, any_value(delay) AS delay
              FROM chunked GROUP BY source, k)
        GROUP BY source, k, delay, mx
    ),
    gwm AS MATERIALIZED (
        -- the union's GLOBAL watermark = min over source nodes
        -- (spark.sql.streaming.multipleWatermarkPolicy = min default)
        SELECT k, min(wm_src) AS wm_after FROM srcwm GROUP BY k
    ),
    kept AS (
        SELECT c.source, c.ts_us - c.ts_us % {_FANIN_WIN_US} AS win_start_us
        FROM chunked c
        LEFT JOIN gwm ON gwm.k = c.k - 1
        WHERE gwm.wm_after IS NULL
           OR (c.ts_us - c.ts_us % {_FANIN_WIN_US}) + {_FANIN_WIN_US}
              > gwm.wm_after
    ),
    final_wm AS (SELECT wm_after FROM gwm WHERE k = {_FANIN_CHUNKS}),
    kept_counts AS (
        SELECT win_start_us, source, CAST(count(*) AS BIGINT) AS n_kept
        FROM kept
        WHERE win_start_us + {_FANIN_WIN_US} <= (SELECT wm_after FROM final_wm)
        GROUP BY win_start_us, source
    ),
    arrived AS (
        SELECT ts_us - ts_us % {_FANIN_WIN_US} AS win_start_us, source,
               CAST(count(*) AS BIGINT) AS n_arrived
        FROM ev GROUP BY 1, 2
    )
    SELECT k.win_start_us, k.source, k.n_kept, a.n_arrived,
           a.n_arrived - k.n_kept AS n_dropped
    FROM kept_counts k JOIN arrived a USING (win_start_us, source)
    ORDER BY win_start_us, source
    """,
)
def q370_stream_union_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE WATERMARK FAN-IN, hash-gated (r10 verdict #6): two
    file-source streams with genuinely different lateness profiles —
    clicks nearly in-order (≤88 min jitter, 1-hour watermark) and
    purchases wildly out-of-order (≤5.5 days jitter, 12-hour
    watermark) — each carrying its OWN withWatermark, unioned
    (unionByName) into one 6-hour windowed per-source rollup. This is
    the real multi-topic ingest shape: Spark tracks one watermark per
    source node and gates the union's stateful agg on their MINIMUM
    (multipleWatermarkPolicy=min, the default), so the laggy source
    holds windows open for the prompt one — exactly what the oracle
    simulates chunk-by-chunk (per-source cummax − per-source delay,
    global = min, rows judged against the post-previous-chunk global
    watermark, only globally-closed windows emitted). Four arrival
    chunks PER SOURCE run as availableNow restarts against one
    durable checkpoint (q222's recovery loop, now with two sources
    advancing independently); the output also carries the late-row
    accounting in-band: n_arrived (batch truth) vs n_kept (stream
    sink) vs n_dropped per (window, source).

    Scale: state is |open windows| × |sources| — and the min policy
    makes the LAGGIEST source the state bound, which is the actual
    capacity lesson of multi-topic fan-in (a 5-day-late topic holds
    5 days of windows for everyone; fixing it means per-source jobs
    or a dropped-lateness SLA, q217's audit). Staging windows are
    per-source ntiles (harness-only, the q222 exemption — production
    chunks are the ingest files themselves).
    """
    with _events_run(spark, sf_dir, "fanin") as run:
        events = load(run.spark, sf_dir, "events").filter(
            F.col("event_type").isin("click", "purchase")
        )
        chunked = _fanin_chunked(events)
        for k in range(1, _FANIN_CHUNKS + 1):
            _fanin_restart(run, chunked, k)
        kept = run.spark.read.parquet(run.dir("sink")).select(
            F.unix_micros("w.start").alias("win_start_us"),
            "source",
            F.col("n_kept").cast("long").alias("n_kept"),
        )
        arrived = events.groupBy(
            (
                F.unix_micros("ts") - F.unix_micros("ts") % _FANIN_WIN_US
            ).alias("win_start_us"),
            F.col("event_type").alias("source"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n_arrived"))
        out = (
            kept.join(arrived, ["win_start_us", "source"])
            .select(
                "win_start_us",
                "source",
                "n_kept",
                "n_arrived",
                (F.col("n_arrived") - F.col("n_kept")).alias("n_dropped"),
            )
            .orderBy("win_start_us", "source")
        )
        return out.localCheckpoint(eager=True)


_TTL_CHUNKS = 4
_TTL_GAP_MIN = 1440            # session gap: 24 h
_TTL_GAP_MS = _TTL_GAP_MIN * 60 * 1000
_TTL_GAP_US = _TTL_GAP_MS * 1000
_TTL_DELAY_MS = 6 * 3600 * 1000  # watermark delay: 6 h


@register(
    "q386_stream_state_ttl_audit",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us FROM events
    ),
    chunked AS (
        SELECT user_id, event_id, ts_us,
               ntile({_TTL_CHUNKS}) OVER (ORDER BY ts, event_id) AS k
        FROM ev
    ),
    wm AS (
        SELECT k,
               max(mx) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) // 1000
                   - {_TTL_DELAY_MS} AS wm_ms
        FROM (SELECT k, max(ts_us) AS mx FROM chunked GROUP BY k)
    ),
    gaps AS (
        SELECT user_id, ts_us, event_id, k,
               CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w > {_TTL_GAP_US}
                    THEN 1 ELSE 0 END AS new_session
        FROM chunked
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
        SELECT user_id, ts_us, k,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts_us, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
    ),
    agg AS (
        SELECT user_id, sid,
               min(ts_us) AS start_us, max(ts_us) AS end_us,
               CAST(count(*) AS BIGINT) AS n_events,
               min(k) AS c_first
        FROM sess GROUP BY user_id, sid
    ),
    nxt AS (
        SELECT *,
               lead(c_first) OVER (PARTITION BY user_id ORDER BY sid)
                   AS c_next
        FROM agg
    ),
    kto AS (
        SELECT n.user_id, n.sid, min(wm.k) AS k_to
        FROM nxt n JOIN wm
          ON n.end_us // 1000 + {_TTL_GAP_MS} < wm.wm_ms
        GROUP BY n.user_id, n.sid
    )
    SELECT n.user_id, n.start_us, n.end_us, n.n_events,
           CASE WHEN n.c_next IS NOT NULL
                     AND (k.k_to IS NULL OR n.c_next <= k.k_to)
                THEN 'data' ELSE 'timeout' END AS via
    FROM nxt n
    LEFT JOIN kto k ON k.user_id = n.user_id AND k.sid = n.sid
    WHERE n.c_next IS NOT NULL OR k.k_to IS NOT NULL
    ORDER BY n.user_id, n.start_us
    """,
)
def q386_stream_state_ttl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-TTL SEMANTICS AUDIT for applyInPandasWithState
    (NEXT.md round-11 item): per-user 24 h-gap sessionization with a
    6 h watermark runs over FOUR ts-ordered arrival chunks
    (availableNow restarts against one durable checkpoint, q370's
    recovery loop), and every emitted session is LABELED with its
    eviction path — 'data' when a later event of the same user
    closed it inside a data batch, 'timeout' when the
    EventTimeTimeout reaper fired because the watermark passed
    last_seen + gap while the group sat idle. The oracle replays
    Spark's exact timeout algebra chunk-by-chunk: wm_after(k) =
    cummax(event-time ms) − 6 h; a session times out at the first
    k with end_ms + gap_ms < wm_after(k) (strict, ms resolution —
    the q139 contract) and is 'data'-closed instead iff its user's
    next event arrives in a chunk ≤ that k (a group with data in
    the batch is never timed out — Spark checks timeouts against
    the batch-START watermark, so the previous run's no-data sweep
    is the only eviction point between chunks). Trailing sessions
    inside the final watermark horizon stay in state and are
    correctly absent from both sides.

    Why it matters at 100 TB: 'timeout'-path volume IS the state
    reaper's throughput — a job whose sessions mostly close by
    timeout (sparse users) holds |active users| state entries for
    gap + delay long, and this audit measures that mix exactly;
    ts-ordered chunks also pin the setTimeoutTimestamp > watermark
    invariant (an out-of-order restart would throw — the staging
    order is part of the contract). State per user stays one
    (start, last, n) triple; the Arrow batch path is q139's.
    """
    with _events_run(spark, sf_dir, "ttl") as run:
        events = load(run.spark, sf_dir, "events").select(
            "user_id", "ts", "event_id"
        )
        chunked = events.select(
            "user_id", "ts", "event_id",
            F.ntile(_TTL_CHUNKS)
            .over(Window.orderBy(F.col("ts").asc(), F.col("event_id").asc()))
            .alias("k"),
        )
        schema = "user_id long, ts timestamp, event_id long"
        for k in range(1, _TTL_CHUNKS + 1):
            src = run.stage(
                chunked.where(F.col("k") == k).select("user_id", "ts", "event_id"),
                "src",
            )
            run.start(
                sp.streaming_sessionize_labeled(
                    run.read(src, schema),
                    gap_minutes=_TTL_GAP_MIN,
                    watermark="6 hours",
                )
            )
        out = run.spark.read.parquet(run.dir("sink")).select(
            "user_id",
            F.unix_micros("session_start").alias("start_us"),
            F.unix_micros("session_end").alias("end_us"),
            F.col("n_events").cast("long").alias("n_events"),
            "via",
        ).orderBy("user_id", "start_us")
        return out.localCheckpoint(eager=True)


_SSJ_CHUNKS = 4
_SSJ_W_US = 6 * 3600 * 1_000_000            # join window: purchase ≤ 6 h after click
_SSJ_JIT_C_US = 60_000_000                  # clicks: ≤88 min arrival jitter
_SSJ_JIT_P_US = 600_000_000                 # purchases: ≤5.5 days arrival jitter
_SSJ_DELAY_C_MS = 3600 * 1000               # click watermark 1 h
_SSJ_DELAY_P_MS = 12 * 3600 * 1000          # purchase watermark 12 h


def _ssj_run(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """q401/q416's shared run: click ⋈ purchase (same user, purchase
    ≤ 6 h after click) as a stream-stream ``how`` join over four
    jittered arrival chunks per side, one availableNow restart per
    chunk against the run's checkpoint."""
    with _events_run(spark, sf_dir, f"ssj_{how}") as run:
        events = load(run.spark, sf_dir, "events").filter(
            F.col("event_type").isin("click", "purchase")
        )
        jit = F.when(
            F.col("event_type") == "click",
            (F.col("event_id") % 89) * _SSJ_JIT_C_US,
        ).otherwise((F.col("event_id") % 797) * _SSJ_JIT_P_US)
        ak = F.unix_micros("ts") + jit
        chunked = events.select(
            "event_id", "user_id", "event_type", "ts",
            F.ntile(_SSJ_CHUNKS)
            .over(Window.partitionBy("event_type").orderBy(ak.asc(), "event_id"))
            .alias("k"),
        )
        schema = "event_id long, user_id long, ts timestamp"
        for k in range(1, _SSJ_CHUNKS + 1):
            for etype in ("click", "purchase"):
                run.stage(
                    chunked.where(
                        (F.col("k") == k) & (F.col("event_type") == etype)
                    ).select("event_id", "user_id", "ts"),
                    etype,
                )
            cs = (
                run.read(run.dir("click"), schema)
                .withWatermark("ts", "1 hour")
                .select(
                    F.col("event_id").alias("cid"),
                    F.col("user_id").alias("cuid"),
                    F.col("ts").alias("cts"),
                )
            )
            ps = (
                run.read(run.dir("purchase"), schema)
                .withWatermark("ts", "12 hours")
                .select(
                    F.col("event_id").alias("pid"),
                    F.col("user_id").alias("puid"),
                    F.col("ts").alias("pts"),
                )
            )
            run.start(
                cs.join(
                    ps,
                    F.expr(
                        "cuid = puid AND pts >= cts"
                        " AND pts <= cts + interval 6 hours"
                    ),
                    how,
                )
            )
        out = run.spark.read.parquet(run.dir("sink")).select(
            "cid",
            "pid",
            F.unix_micros("cts").alias("cts_us"),
            F.unix_micros("pts").alias("pts_us"),
        ).orderBy("cid", "pid")
        return out.localCheckpoint(eager=True)


@register(
    "q401_stream_stream_join_eviction",
    oracle=f"""
    WITH c AS (
        SELECT event_id AS cid, user_id, epoch_us(ts) AS cts,
               epoch_us(ts) + (event_id % 89) * {_SSJ_JIT_C_US} AS ak
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT event_id AS pid, user_id, epoch_us(ts) AS pts,
               epoch_us(ts) + (event_id % 797) * {_SSJ_JIT_P_US} AS ak
        FROM events WHERE event_type = 'purchase'
    ),
    ck AS (
        SELECT cid, user_id, cts,
               ntile({_SSJ_CHUNKS}) OVER (ORDER BY ak, cid) AS k
        FROM c
    ),
    pk AS (
        SELECT pid, user_id, pts,
               ntile({_SSJ_CHUNKS}) OVER (ORDER BY ak, pid) AS k
        FROM p
    ),
    cwm AS (
        SELECT k, max(mx) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                   // 1000 - {_SSJ_DELAY_C_MS} AS wm
        FROM (SELECT k, max(cts) AS mx FROM ck GROUP BY k)
    ),
    pwm AS (
        SELECT k, max(mx) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                   // 1000 - {_SSJ_DELAY_P_MS} AS wm
        FROM (SELECT k, max(pts) AS mx FROM pk GROUP BY k)
    ),
    gwm AS (
        SELECT cwm.k, least(cwm.wm, pwm.wm) AS wm
        FROM cwm JOIN pwm USING (k)
    ),
    pairs AS (
        SELECT ck.cid, pk.pid, ck.cts, pk.pts,
               greatest(ck.k, pk.k) AS kmax
        FROM ck JOIN pk USING (user_id)
        WHERE pk.pts >= ck.cts AND pk.pts <= ck.cts + {_SSJ_W_US}
    )
    SELECT pr.cid, pr.pid, pr.cts AS cts_us, pr.pts AS pts_us
    FROM pairs pr
    LEFT JOIN gwm ON gwm.k = pr.kmax - 1
    WHERE gwm.wm IS NULL
       OR (pr.cts + {_SSJ_W_US} >= gwm.wm * 1000
           AND pr.pts >= gwm.wm * 1000)
    ORDER BY cid, pid
    """,
)
def q401_stream_stream_join_eviction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM JOIN with mid-stream state eviction, hash-gated —
    the missing cell of the streaming matrix (q93 proved the join in
    ONE batch where nothing evicts; q370 proved multi-source
    watermark fan-in for AGGREGATION; this runs click⋈purchase
    [same user, purchase ≤6 h after click] across four jittered
    arrival chunks per side with REAL state reaping between them).
    Clicks arrive nearly in-order (1 h watermark), purchases up to
    5.5 days late (12 h watermark); the durable-checkpoint
    availableNow restart loop advances the GLOBAL watermark
    (min over both sides) between chunks, so late rows get dropped
    at the gate and old click state is evicted before its partner
    arrives — matches genuinely lost, not simulated.

    The oracle states the eviction algebra this distills to: a
    candidate pair (c, p) survives iff BOTH sides clear the global
    watermark as of the later row's arrival chunk —
    cts + W ≥ wm·1000 (click state not yet reaped: no purchase in
    [cts, cts+W] can come once wm passes cts+W — the same bound the
    late-input filter applies) and pts ≥ wm·1000 (purchase side's
    own bound, since a matching click can be as late as pts). One
    inequality pair replaces the whole per-batch state machine
    because late-filter-at-arrival and eviction-before-arrival
    both reduce to the wm at kmax−1 (wm is monotone) — validated
    against live Spark behavior on a hand-built 4-chunk fixture
    before wiring the oracle.

    Scale: join state is bounded by the watermark horizon per side
    (clicks: W + 1 h of events; purchases: 12 h) — the laggiest
    side's delay, not the stream length; the staging ntile is
    harness-only (q222's exemption).
    """
    return _ssj_run(spark, sf_dir, "inner")


_DDW_TILES = 3                          # original thirds -> chunks 1,3,5
_DDW_SHIFT_US = 2 * 3600 * 1_000_000    # retry re-sent 2 h later (event time)
_DDW_DELAY_MS = 30 * 60 * 1000          # dedup watermark delay 30 min


@register(
    "q412_dedup_within_watermark",
    oracle=f"""
    WITH base AS (
        SELECT event_id, epoch_us(ts) AS ts_us,
               ntile({_DDW_TILES}) OVER (ORDER BY ts, event_id) AS tile
        FROM events WHERE event_type = 'signup'
    ),
    arrivals AS (
        SELECT event_id, ts_us, 2 * tile - 1 AS k, 0 AS is_retry
        FROM base
        UNION ALL
        SELECT event_id, ts_us + {_DDW_SHIFT_US}, 2 * tile, 1
        FROM base
    ),
    wm AS (
        SELECT k, max(mx) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                   // 1000 - {_DDW_DELAY_MS} AS wm_ms
        FROM (SELECT k, max(ts_us) AS mx FROM arrivals GROUP BY k)
    ),
    j AS (
        SELECT b.event_id, b.ts_us AS o_ts, b.ts_us + {_DDW_SHIFT_US} AS r_ts,
               ow.wm_ms AS wm_o, rw.wm_ms AS wm_r
        FROM base b
        LEFT JOIN wm ow ON ow.k = 2 * b.tile - 2
        LEFT JOIN wm rw ON rw.k = 2 * b.tile - 1
    ),
    lab AS (
        SELECT event_id, o_ts, r_ts,
               (wm_o IS NULL OR o_ts >= wm_o * 1000) AS o_ok,
               r_ts >= wm_r * 1000 AS r_not_late,
               wm_r * 1000 <= o_ts + {_DDW_DELAY_MS} * 1000 AS o_state_alive
        FROM j
    )
    SELECT event_id, o_ts AS ts_us, CAST(0 AS BIGINT) AS is_retry
    FROM lab WHERE o_ok
    UNION ALL
    SELECT event_id, r_ts, 1
    FROM lab
    WHERE r_not_late AND (NOT o_ok OR NOT o_state_alive)
    ORDER BY event_id, ts_us
    """,
)
def q412_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark SEMANTICS AUDIT — the streaming
    dedup API q92's plain dropDuplicates (infinite state) does NOT
    cover: state per key lives only `delay` past the FIRST
    occurrence's event time, so a retry re-sent later than that
    horizon is re-emitted (at-least-once ingest's visible seam).
    Every signup event is re-sent once with event time +2 h,
    arriving two chunks after its original (six ts-ordered
    availableNow restarts, one durable checkpoint; delay 30 min <
    shift 2 h so all three outcomes occur). The oracle states the
    full rule, probed against live Spark on a hand fixture first:
    an arrival is LATE-dropped when its event time sits below the
    batch-start watermark (originals can be late too — the earlier
    retry chunk pushes the watermark above the next original
    third's oldest rows, and then the RETRY becomes the key's first
    occurrence); a non-late second occurrence is dup-dropped iff
    the watermark hasn't passed first_ts + delay, else re-emitted.
    Keys are staged to never repeat within one chunk — within-batch
    dedup keeps the ARRIVAL-order first (probe-verified), which is
    partition-order-dependent and therefore deliberately excluded
    from the gated contract.

    Scale: dedup state is |keys in the delay horizon| — bounded by
    ingest rate × delay, not stream length (the whole point vs
    q92); the staging ntile is harness-only (q222's exemption).
    """
    with _events_run(spark, sf_dir, "ddw") as run:
        base = (
            load(run.spark, sf_dir, "events")
            .filter(F.col("event_type") == "signup")
            .select(
                "event_id", "ts",
                F.ntile(_DDW_TILES)
                .over(Window.orderBy("ts", "event_id"))
                .alias("tile"),
            )
        )
        for k in range(1, 2 * _DDW_TILES + 1):
            tile = (k + 1) // 2
            is_retry = k % 2 == 0
            chunk = base.filter(F.col("tile") == tile).select(
                "event_id",
                (
                    F.col("ts")
                    + F.expr(f"interval {_DDW_SHIFT_US // 1_000_000} seconds")
                    if is_retry
                    else F.col("ts")
                ).alias("ts"),
            )
            src = run.stage(chunk, "src")
            run.start(
                run.read(src, "event_id long, ts timestamp")
                .withWatermark("ts", "30 minutes")
                .dropDuplicatesWithinWatermark(["event_id"])
            )
        out = run.spark.read.parquet(run.dir("sink"))
        orig_ts = base.select(
            "event_id", F.unix_micros("ts").alias("o_ts")
        )
        res = (
            out.select("event_id", F.unix_micros("ts").alias("ts_us"))
            .join(orig_ts, "event_id")
            .select(
                "event_id",
                "ts_us",
                (F.col("ts_us") != F.col("o_ts"))
                .cast("long")
                .alias("is_retry"),
            )
            .orderBy("event_id", "ts_us")
        )
        return res.localCheckpoint(eager=True)


@register(
    "q416_stream_left_outer_timing",
    oracle=f"""
    WITH c AS (
        SELECT event_id AS cid, user_id, epoch_us(ts) AS cts,
               epoch_us(ts) + (event_id % 89) * {_SSJ_JIT_C_US} AS ak
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT event_id AS pid, user_id, epoch_us(ts) AS pts,
               epoch_us(ts) + (event_id % 797) * {_SSJ_JIT_P_US} AS ak
        FROM events WHERE event_type = 'purchase'
    ),
    ck AS (
        SELECT cid, user_id, cts,
               ntile({_SSJ_CHUNKS}) OVER (ORDER BY ak, cid) AS k
        FROM c
    ),
    pk AS (
        SELECT pid, user_id, pts,
               ntile({_SSJ_CHUNKS}) OVER (ORDER BY ak, pid) AS k
        FROM p
    ),
    cwm AS (
        SELECT k, max(mx) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                   // 1000 - {_SSJ_DELAY_C_MS} AS wm
        FROM (SELECT k, max(cts) AS mx FROM ck GROUP BY k)
    ),
    pwm AS (
        SELECT k, max(mx) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                   // 1000 - {_SSJ_DELAY_P_MS} AS wm
        FROM (SELECT k, max(pts) AS mx FROM pk GROUP BY k)
    ),
    gwm AS (
        SELECT cwm.k, least(cwm.wm, pwm.wm) AS wm
        FROM cwm JOIN pwm USING (k)
    ),
    matches AS (
        SELECT ck.cid, pk.pid, ck.cts, pk.pts
        FROM ck JOIN pk USING (user_id)
        LEFT JOIN gwm ON gwm.k = greatest(ck.k, pk.k) - 1
        WHERE pk.pts >= ck.cts AND pk.pts <= ck.cts + {_SSJ_W_US}
          AND (gwm.wm IS NULL
               OR (ck.cts + {_SSJ_W_US} >= gwm.wm * 1000
                   AND pk.pts >= gwm.wm * 1000))
    ),
    accepted_clicks AS (
        -- the OUTER side's late filter is stricter than the inner
        -- join's state bound: a click arriving with cts below the
        -- batch-start watermark is dropped silently (no state, no
        -- NULL row) even though cts+W would still clear it
        -- (empirically pinned: click 5069 at sf0.01)
        SELECT ck.cid, ck.cts FROM ck
        LEFT JOIN gwm ON gwm.k = ck.k - 1
        WHERE gwm.wm IS NULL
           OR (ck.cts >= gwm.wm * 1000
               AND ck.cts + {_SSJ_W_US} >= gwm.wm * 1000)
    ),
    final_wm AS (SELECT wm FROM gwm WHERE k = {_SSJ_CHUNKS})
    SELECT cid, CAST(NULL AS BIGINT) AS pid, cts AS cts_us,
           CAST(NULL AS BIGINT) AS pts_us
    FROM accepted_clicks ac
    WHERE ac.cid NOT IN (SELECT cid FROM matches)
      AND ac.cts + {_SSJ_W_US} < (SELECT wm FROM final_wm) * 1000
    UNION ALL
    SELECT cid, pid, cts, pts FROM matches
    ORDER BY cid, pid
    """,
)
def q416_stream_left_outer_timing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER join NULL-EMISSION timing — the
    outer-join half of q401's eviction algebra: a click with no
    surviving match emits its NULL row only when the reaper EVICTS
    its state (global watermark passes cts + window), never while
    the state could still match — so trailing clicks inside the
    final watermark horizon are correctly ABSENT from the sink (the
    eventually-consistent seam every streaming outer join ships:
    'no match yet' is indistinguishable from 'still waiting' until
    the horizon passes). Inner matches follow q401's validated pair
    rule verbatim; a NULL row requires the click to have been
    ACCEPTED at arrival — and the OUTER side's late filter is
    empirically STRICTER than the inner join's: a click arriving
    below the batch-start watermark (cts < wm) is dropped silently
    even when its match window still clears it (cts + W ≥ wm), so
    it produces neither state nor a NULL row (pinned by the sf0.01
    fixture's click 5069; the inner q401 path keeps such rows) —
    plus NO emitted match anywhere, and the FINAL watermark past
    cts + W. The fixture
    drops real matches mid-stream (q401), so some NULL rows here
    are clicks whose true partner was evicted — the
    outer-join-visible face of those losses.

    Scale: identical state economics to q401 (horizon-bounded both
    sides); the NULL-row set adds no state, only the eviction-time
    emission.
    """
    return _ssj_run(spark, sf_dir, "left_outer")


def _progress_wm_us(q) -> int:
    """Engine-reported watermark of a finished run's last progress,
    in µs (ms-granular — watermarks are ms in the engine; 0 when the
    watermark never advanced). Shared by q426/q431/q439."""
    from datetime import datetime, timezone

    lp = q.lastProgress
    iso = (lp or {}).get("eventTime", {}).get("watermark")
    if not iso:
        return 0
    dt = datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    )
    return int(dt.timestamp() * 1000) * 1000


def _fanin_chunked(events):
    """q370/q426/q431/q439's shared per-source arrival chunking."""
    ak = F.unix_micros("ts") + F.when(
        F.col("event_type") == "click",
        (F.col("event_id") % 89) * _FANIN_JIT_A_US,
    ).otherwise((F.col("event_id") % 797) * _FANIN_JIT_B_US)
    return events.select(
        "event_id", "event_type", "ts",
        F.ntile(_FANIN_CHUNKS)
        .over(
            Window.partitionBy("event_type").orderBy(
                ak.asc(), F.col("event_id")
            )
        )
        .alias("k"),
    )


def _fanin_restart(run: sp.StreamRun, chunked: DataFrame, k: int):
    """Stage chunk k's files for both sources and run one
    availableNow restart of the fan-in union rollup against the
    run's checkpoint; returns the finished StreamingQuery (q426
    reads its watermark, q431 its state metrics)."""
    schema = "event_id long, ts timestamp"
    for etype in ("click", "purchase"):
        run.stage(
            chunked.where(
                (F.col("k") == k) & (F.col("event_type") == etype)
            ).select("event_id", "ts"),
            etype,
        )
    sa = (
        run.read(run.dir("click"), schema)
        .withWatermark("ts", "1 hour")
        .withColumn("source", F.lit("click"))
    )
    sb = (
        run.read(run.dir("purchase"), schema)
        .withWatermark("ts", "12 hours")
        .withColumn("source", F.lit("purchase"))
    )
    return run.start(
        sa.unionByName(sb)
        .groupBy(F.window("ts", "6 hours").alias("w"), "source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


def _watermark_trajectory(
    spark: SparkSession, sf_dir: str, policy: str
) -> DataFrame:
    """q426/q439's shared body: the fan-in restarts under
    multipleWatermarkPolicy ``policy`` (scoped to the run), with each
    (window, source) tagged by the restart that flushed it and the
    watermark that restart committed."""
    confs = {"spark.sql.streaming.multipleWatermarkPolicy": policy}
    with _events_run(spark, sf_dir, f"traj_{policy}", confs) as run:
        events = load(run.spark, sf_dir, "events").filter(
            F.col("event_type").isin("click", "purchase")
        )
        chunked = _fanin_chunked(events)
        sink = run.dir("sink")
        wm_after: dict[int, int] = {}
        emitted_at: dict[tuple[int, str], int] = {}
        seen: set[tuple[int, str]] = set()
        for k in range(1, _FANIN_CHUNKS + 1):
            wm_after[k] = _progress_wm_us(_fanin_restart(run, chunked, k))
            cur = {
                (r["ws"], r["source"])
                for r in run.spark.read.parquet(sink)
                .select(F.unix_micros("w.start").alias("ws"), "source")
                .collect()  # bounded: |timeline windows| × |sources|
            }
            for key in cur - seen:
                emitted_at[key] = k
            seen = cur
        emap = run.spark.createDataFrame(
            [
                (ws, source, k, wm_after[k])
                for (ws, source), k in sorted(emitted_at.items())
            ],
            "win_start_us long, source string, emitted_at_restart long,"
            " wm_committed_us long",
        )
        kept = run.spark.read.parquet(sink).select(
            F.unix_micros("w.start").alias("win_start_us"),
            "source",
            F.col("n_kept").cast("long").alias("n_kept"),
        )
        out = (
            kept.join(F.broadcast(emap), ["win_start_us", "source"])
            .select(
                "win_start_us",
                "source",
                "n_kept",
                "emitted_at_restart",
                "wm_committed_us",
            )
            .orderBy("win_start_us", "source")
        )
        return out.localCheckpoint(eager=True)


# ---- q426: the watermark TRAJECTORY itself, hash-gated -----------------
_TRAJ_DELAY_A_MS = 3_600_000          # clicks: 1-hour watermark
_TRAJ_DELAY_B_MS = 43_200_000         # purchases: 12-hour watermark


@register(
    "q426_stream_watermark_trajectory",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, event_type AS source, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'click'
                    THEN epoch_us(ts) + (event_id % 89) * {_FANIN_JIT_A_US}
                    ELSE epoch_us(ts) + (event_id % 797) * {_FANIN_JIT_B_US}
               END AS ak,
               CASE WHEN event_type = 'click'
                    THEN {_TRAJ_DELAY_A_MS} ELSE {_TRAJ_DELAY_B_MS}
               END AS dms
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    chunked AS (
        SELECT event_id, source, ts_us, dms,
               ntile({_FANIN_CHUNKS}) OVER (PARTITION BY source
                                            ORDER BY ak, event_id) AS k
        FROM ev
    ),
    per AS (
        SELECT source, k, max(ts_us) AS mx, any_value(dms) AS dms
        FROM chunked GROUP BY source, k
    ),
    srcwm AS (
        SELECT source, k,
               max(mx) OVER (PARTITION BY source ORDER BY k
                             ROWS UNBOUNDED PRECEDING) // 1000 - dms
                   AS wm_ms
        FROM per
    ),
    gwm AS (SELECT k, min(wm_ms) AS wm_ms FROM srcwm GROUP BY k),
    kept AS (
        SELECT c.source, c.ts_us - c.ts_us % {_FANIN_WIN_US} AS win_start_us
        FROM chunked c LEFT JOIN gwm ON gwm.k = c.k - 1
        WHERE gwm.wm_ms IS NULL
           OR (c.ts_us - c.ts_us % {_FANIN_WIN_US}) + {_FANIN_WIN_US}
              > gwm.wm_ms * 1000
    ),
    closed AS (
        SELECT win_start_us, source, CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY 1, 2
    ),
    emit AS (
        SELECT w.win_start_us, min(gwm.k) AS emitted_at
        FROM (SELECT DISTINCT win_start_us FROM kept) w
        JOIN gwm ON w.win_start_us + {_FANIN_WIN_US} <= gwm.wm_ms * 1000
        GROUP BY w.win_start_us
    )
    SELECT c.win_start_us, c.source, c.n_kept,
           CAST(e.emitted_at AS BIGINT) AS emitted_at_restart,
           CAST(g.wm_ms * 1000 AS BIGINT) AS wm_committed_us
    FROM closed c
    JOIN emit e USING (win_start_us)
    JOIN gwm g ON g.k = e.emitted_at
    ORDER BY c.win_start_us, c.source
    """,
)
def q426_stream_watermark_trajectory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The GLOBAL WATERMARK TRAJECTORY itself, hash-gated (r11
    verdict item #7): q370 gates what the fan-in union KEEPS; this
    gates WHEN — per availableNow restart, the engine's actual
    committed watermark (read from the final StreamingQueryProgress)
    and the restart at which each window flushed, both predicted
    exactly by the min-policy simulation: per source,
    wm_src(k) = cummax(event time)//1ms − its own delay (watermarks
    are millisecond-granular in the engine — the simulation runs in
    the ms domain for exactly that reason); global = MIN over source
    nodes (multipleWatermarkPolicy=min default); a window flushes at
    the first restart whose committed watermark passes its end. The
    probe run that pinned these semantics (r12 notes): the flush
    batch of restart k emits under the watermark COMMITTED by k's
    own data — while the LATE filter for k's rows judges against
    restart k−1's committed value (the SCALE_NOTES r11
    instrumentation note, now oracle-encoded). Unequal deltas
    (1 h vs 12 h) keep the min switching sources mid-run — restart 3
    is click-limited on this fixture, 1/2/4 purchase-limited — so
    the gate covers both regimes of the policy.

    Scale: identical state economics to q370 (the laggiest source
    bounds open-window state). The per-restart sink diff and
    progress read are driver-side but bounded: |6-hour windows in
    the event timeline| × |sources| keys and one ISO timestamp per
    restart — timeline-grain, corpus-independent (the |days|-rollup
    boundedness class).
    """
    return _watermark_trajectory(spark, sf_dir, "min")


# ---- q431: state-store capacity, engine-reported vs simulated ----------
@register(
    "q431_stream_state_capacity",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, event_type AS source, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'click'
                    THEN epoch_us(ts) + (event_id % 89) * {_FANIN_JIT_A_US}
                    ELSE epoch_us(ts) + (event_id % 797) * {_FANIN_JIT_B_US}
               END AS ak,
               CASE WHEN event_type = 'click'
                    THEN {_TRAJ_DELAY_A_MS} ELSE {_TRAJ_DELAY_B_MS}
               END AS dms
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    chunked AS (
        SELECT event_id, source, ts_us, dms,
               ntile({_FANIN_CHUNKS}) OVER (PARTITION BY source
                                            ORDER BY ak, event_id) AS k
        FROM ev
    ),
    per AS (
        SELECT source, k, max(ts_us) AS mx, any_value(dms) AS dms
        FROM chunked GROUP BY source, k
    ),
    srcwm AS (
        SELECT source, k,
               max(mx) OVER (PARTITION BY source ORDER BY k
                             ROWS UNBOUNDED PRECEDING) // 1000 - dms
                   AS wm_ms
        FROM per
    ),
    gwm AS (SELECT k, min(wm_ms) AS wm_ms FROM srcwm GROUP BY k),
    accepted AS (
        SELECT c.source, c.k,
               c.ts_us - c.ts_us % {_FANIN_WIN_US} AS ws
        FROM chunked c LEFT JOIN gwm ON gwm.k = c.k - 1
        WHERE gwm.wm_ms IS NULL
           OR (c.ts_us - c.ts_us % {_FANIN_WIN_US}) + {_FANIN_WIN_US}
              > gwm.wm_ms * 1000
    ),
    cells AS (
        SELECT source, ws, min(k) AS k_min
        FROM accepted GROUP BY source, ws
    ),
    restarts AS (
        SELECT unnest(range(1, {_FANIN_CHUNKS} + 1)) AS k
    ),
    wmb AS (
        SELECT r.k, g.wm_ms,
               coalesce(gp.wm_ms, -1000000000000000) AS wm_prev
        FROM restarts r
        JOIN gwm g ON g.k = r.k
        LEFT JOIN gwm gp ON gp.k = r.k - 1
    ),
    stats AS (
        SELECT w.k,
               CAST(w.wm_ms * 1000 AS BIGINT) AS wm_committed_us,
               CAST(count(*) FILTER (c.k_min <= w.k
                    AND c.ws + {_FANIN_WIN_US} > w.wm_prev * 1000)
                    AS BIGINT) AS peak_cells,
               CAST(count(*) FILTER (c.k_min <= w.k
                    AND c.ws + {_FANIN_WIN_US} <= w.wm_ms * 1000
                    AND c.ws + {_FANIN_WIN_US} > w.wm_prev * 1000)
                    AS BIGINT) AS flushed_cells,
               CAST(count(*) FILTER (c.k_min <= w.k
                    AND c.ws + {_FANIN_WIN_US} > w.wm_ms * 1000)
                    AS BIGINT) AS open_cells
        FROM wmb w CROSS JOIN cells c
        GROUP BY w.k, w.wm_ms, w.wm_prev
    )
    SELECT CAST(k AS BIGINT) AS restart, wm_committed_us,
           peak_cells, flushed_cells, open_cells
    FROM stats ORDER BY restart
    """,
)
def q431_stream_state_capacity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STATE-STORE CAPACITY, engine-reported vs predicted — the
    q217/q426 composition the r12 roadmap sketched: for each
    availableNow restart of the two-source fan-in union, the
    engine's OWN StateOperatorProgress numbers (numRowsTotal of the
    data batch = peak state, Σ numRowsRemoved = cells evicted,
    final numRowsTotal = cells left open) are hash-gated against
    the pure-batch simulation: a (window, source) cell is in state
    iff some chunk ≤ k row survived the late filter (window end
    above the PREVIOUS restart's committed watermark — q426's
    timing pin) and it hasn't flushed (window end above restart
    k's own committed watermark). peak = open(k−1 boundary) +
    chunk-k arrivals; flushed + open = peak, an identity both
    engines must agree on cell-by-cell. This is the capacity
    planner's number: open_cells × bytes/cell is the state store a
    100 TB deployment provisions, and the min-policy makes the
    LAGGIEST source set it (the purchase stream's 12-h delay holds
    clicks' windows open here).

    Scale: the simulation is timeline-grain (cells =
    |6-h windows| × |sources|); the engine side reads four
    progress dicts — no extra state, no extra pass. Driver
    materialization is the bounded 4-row metrics list (the q426
    boundedness class).
    """
    with _events_run(spark, sf_dir, "cap") as run:
        events = load(run.spark, sf_dir, "events").filter(
            F.col("event_type").isin("click", "purchase")
        )
        chunked = _fanin_chunked(events)
        metrics = []
        for k in range(1, _FANIN_CHUNKS + 1):
            q = _fanin_restart(run, chunked, k)
            prog = q.recentProgress
            rows_tot = [
                (p.get("stateOperators") or [{}])[0].get("numRowsTotal", 0)
                for p in prog
            ]
            removed = sum(
                (p.get("stateOperators") or [{}])[0].get(
                    "numRowsRemoved", 0
                )
                for p in prog
            )
            metrics.append(
                (
                    k,
                    _progress_wm_us(q),
                    max(rows_tot) if rows_tot else 0,
                    removed,
                    rows_tot[-1] if rows_tot else 0,
                )
            )
    return spark.createDataFrame(
        metrics,
        "restart long, wm_committed_us long, peak_cells long,"
        " flushed_cells long, open_cells long",
    ).orderBy("restart").localCheckpoint(eager=True)


# ---- q436: Python streaming source, paginated backfill -----------------
_Q436_ROWS = 2000
_Q436_PAGE = 500


@register(
    "q436_python_stream_source",
    oracle=f"""
    WITH gen AS (
        SELECT i AS id,
               CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 8)
                         AS UBIGINT) % 1000 AS BIGINT) AS v,
               'cat' || CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR)),
                                                 1, 8)
                                  AS UBIGINT) % 7 AS VARCHAR) AS cat
        FROM (SELECT unnest(range(0, {_Q436_ROWS})) AS i)
    )
    SELECT cat,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS sum_v,
           CAST(count(DISTINCT id) AS BIGINT) AS n_distinct_ids
    FROM gen
    GROUP BY cat
    ORDER BY cat
    """,
)
def q436_python_stream_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PYTHON STREAMING SOURCE, paginated backfill, hash-gated —
    the third face of the `pyspark.sql.datasource` surface (q434
    batch scan, q435 sink): a SimpleDataSourceStreamReader serves
    the deterministic generator one PAGE per read() with a
    dict-offset cursor; PythonMicroBatchStream doesn't implement
    AvailableNow, so each trigger(availableNow) restart falls back
    to single-batch execution (engine-logged) and drains exactly
    one page against the shared checkpoint — four restarts backfill
    the full {_Q436_ROWS}-row range — and the
    sink rollup (including count(DISTINCT id), which doubles on any
    replayed page) must hash-match DuckDB replaying the generator
    arithmetic over range(). This is the REST-backfill shape every
    API connector needs: the cursor lives in the checkpoint, crash
    recovery replays readBetweenOffsets for the in-flight page, and
    exactly-once falls out of the offset protocol rather than
    application dedup.

    Scale: page size is the backend's; pages stream through without
    accumulating state (no watermark, no agg in-flight — the rollup
    here is on the SINK, post-hoc). The gate runs the full
    4-restart cycle every time.
    """
    from g_etl_spark.sources import pygen

    with _events_run(spark, sf_dir, "pages") as run:
        pygen.register_stream(run.spark)
        # serial restart loop: _Q436_ROWS // _Q436_PAGE restarts × 300 s
        # timeout each = 20 min worst-case driver wall at the shipped
        # page count of 4 IF the stream wedges (it raises, never hangs
        # past that). Keep the page count low — each added page adds a
        # full restart + another 300 s worst-case to this bound.
        for _ in range(_Q436_ROWS // _Q436_PAGE):
            run.start(
                run.spark.readStream.format("g_etl_pages")
                .option("rows", _Q436_ROWS)
                .option("page", _Q436_PAGE)
                .load()
            )
        out = (
            run.spark.read.parquet(run.dir("sink"))
            .groupBy("cat")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("v").cast("long").alias("sum_v"),
                F.countDistinct("id").cast("long").alias("n_distinct_ids"),
            )
            .orderBy("cat")
        )
        return out.localCheckpoint(eager=True)


# ---- q439: the MAX multipleWatermarkPolicy trajectory ------------------
@register(
    "q439_stream_watermark_max_policy",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, event_type AS source, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'click'
                    THEN epoch_us(ts) + (event_id % 89) * {_FANIN_JIT_A_US}
                    ELSE epoch_us(ts) + (event_id % 797) * {_FANIN_JIT_B_US}
               END AS ak,
               CASE WHEN event_type = 'click'
                    THEN {_TRAJ_DELAY_A_MS} ELSE {_TRAJ_DELAY_B_MS}
               END AS dms
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    chunked AS (
        SELECT event_id, source, ts_us, dms,
               ntile({_FANIN_CHUNKS}) OVER (PARTITION BY source
                                            ORDER BY ak, event_id) AS k
        FROM ev
    ),
    per AS (
        SELECT source, k, max(ts_us) AS mx, any_value(dms) AS dms
        FROM chunked GROUP BY source, k
    ),
    srcwm AS (
        SELECT source, k,
               max(mx) OVER (PARTITION BY source ORDER BY k
                             ROWS UNBOUNDED PRECEDING) // 1000 - dms
                   AS wm_ms
        FROM per
    ),
    gwm AS (SELECT k, max(wm_ms) AS wm_ms FROM srcwm GROUP BY k),
    kept AS (
        SELECT c.source, c.ts_us - c.ts_us % {_FANIN_WIN_US} AS win_start_us
        FROM chunked c LEFT JOIN gwm ON gwm.k = c.k - 1
        WHERE gwm.wm_ms IS NULL
           OR (c.ts_us - c.ts_us % {_FANIN_WIN_US}) + {_FANIN_WIN_US}
              > gwm.wm_ms * 1000
    ),
    closed AS (
        SELECT win_start_us, source, CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY 1, 2
    ),
    emit AS (
        SELECT w.win_start_us, min(gwm.k) AS emitted_at
        FROM (SELECT DISTINCT win_start_us FROM kept) w
        JOIN gwm ON w.win_start_us + {_FANIN_WIN_US} <= gwm.wm_ms * 1000
        GROUP BY w.win_start_us
    )
    SELECT c.win_start_us, c.source, c.n_kept,
           CAST(e.emitted_at AS BIGINT) AS emitted_at_restart,
           CAST(g.wm_ms * 1000 AS BIGINT) AS wm_committed_us
    FROM closed c
    JOIN emit e USING (win_start_us)
    JOIN gwm g ON g.k = e.emitted_at
    ORDER BY c.win_start_us, c.source
    """,
)
def q439_stream_watermark_max_policy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MAX multipleWatermarkPolicy trajectory — q426's twin with
    the non-default policy the fan-in union can opt into
    (spark.sql.streaming.multipleWatermarkPolicy=max, set on the
    run's child session only): the global watermark tracks the
    FASTEST source node, so the laggy purchase stream's late rows
    are DROPPED instead of holding every window open — the
    throughput-over-completeness trade, and the policy's cost shows
    up directly in this gate's n_kept vs q426's (same corpus, same
    windows, fewer rows kept and earlier flush restarts). The
    simulation flips exactly one aggregate (min → max over source
    watermarks); everything else — the ms domain, the k−1 late
    filter, the own-k flush — carries over, which is itself the
    semantic pin: the policy changes WHICH watermark, never WHEN
    it's applied.

    Scale: state is bounded by the FASTEST source's horizon under
    max (vs the laggiest under min — the q431 capacity argument
    inverted); the gate runs the full 4-restart cycle with the conf
    scoped to the run's session, never the caller's.
    """
    return _watermark_trajectory(spark, sf_dir, "max")


# ---- q446: state-capacity ADVISOR from the watermark trajectory --------
_Q446_BYTES_PER_KEY = 144  # window-agg state row: 2 ts bounds + source
#                            + count + store metadata (sizing constant,
#                            the per-key cost q431's engine numbers
#                            bound from above at this operator shape)


@register(
    "q446_stream_state_capacity_advisor",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, event_type AS source, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'click'
                    THEN epoch_us(ts) + (event_id % 89) * {_FANIN_JIT_A_US}
                    ELSE epoch_us(ts) + (event_id % 797) * {_FANIN_JIT_B_US}
               END AS ak,
               CASE WHEN event_type = 'click'
                    THEN {_TRAJ_DELAY_A_MS} ELSE {_TRAJ_DELAY_B_MS}
               END AS dms
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    chunked AS (
        SELECT event_id, source, ts_us, dms,
               ntile({_FANIN_CHUNKS}) OVER (PARTITION BY source
                                            ORDER BY ak, event_id) AS k
        FROM ev
    ),
    per AS (
        SELECT source, k, max(ts_us) AS mx, any_value(dms) AS dms
        FROM chunked GROUP BY source, k
    ),
    srcwm AS (
        SELECT source, k,
               max(mx) OVER (PARTITION BY source ORDER BY k
                             ROWS UNBOUNDED PRECEDING) // 1000 - dms
                   AS wm_ms
        FROM per
    ),
    gwm AS (SELECT k, min(wm_ms) AS wm_ms FROM srcwm GROUP BY k),
    kept AS (
        SELECT c.source, c.k,
               c.ts_us - c.ts_us % {_FANIN_WIN_US} AS win_start_us
        FROM chunked c LEFT JOIN gwm ON gwm.k = c.k - 1
        WHERE gwm.wm_ms IS NULL
           OR (c.ts_us - c.ts_us % {_FANIN_WIN_US}) + {_FANIN_WIN_US}
              > gwm.wm_ms * 1000
    ),
    winlife AS (
        SELECT w.source, w.win_start_us, w.first_k,
               (SELECT min(g.k) FROM gwm g
                WHERE w.win_start_us + {_FANIN_WIN_US} <= g.wm_ms * 1000)
                   AS flush_k
        FROM (SELECT source, win_start_us, min(k) AS first_k
              FROM kept GROUP BY source, win_start_us) w
    ),
    skel AS (
        SELECT r.k, s.source
        FROM (SELECT unnest(range(1, {_FANIN_CHUNKS} + 1)) AS k) r,
             (SELECT unnest(['click', 'purchase']) AS source) s
    ),
    cap AS (
        SELECT sk.k, sk.source,
               CAST(count(wl.win_start_us) FILTER (
                   wl.first_k <= sk.k
                   AND (wl.flush_k IS NULL OR wl.flush_k > sk.k))
                   AS BIGINT) AS open_windows,
               CAST(count(wl.win_start_us) FILTER (wl.first_k = sk.k)
                   AS BIGINT) AS admitted_windows,
               CAST(count(wl.win_start_us) FILTER (wl.flush_k = sk.k)
                   AS BIGINT) AS evicted_windows
        FROM skel sk
        LEFT JOIN winlife wl ON wl.source = sk.source
        GROUP BY sk.k, sk.source
    ),
    tot AS (
        SELECT k, CAST(sum(open_windows) AS BIGINT) AS total_open
        FROM cap GROUP BY k
    )
    SELECT cap.k AS restart, cap.source,
           CAST(gwm.wm_ms * 1000 AS BIGINT) AS wm_committed_us,
           cap.open_windows, cap.admitted_windows, cap.evicted_windows,
           CAST(cap.open_windows * {_Q446_BYTES_PER_KEY} AS BIGINT)
               AS est_state_bytes,
           CAST(round(1000.0 * cap.open_windows
                      / greatest(tot.total_open, 1)) AS BIGINT)
               AS state_share_milli,
           tot.total_open = (SELECT max(total_open) FROM tot)
               AS is_peak_restart
    FROM cap JOIN gwm ON gwm.k = cap.k JOIN tot ON tot.k = cap.k
    ORDER BY restart, source
    """,
)
def q446_stream_state_capacity_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STATE-CAPACITY ADVISOR from the watermark trajectory — the
    q217 shape applied to the fan-in union (the r12 NEXT.md
    candidate): q426 hash-gated that the min-policy ms-domain
    simulation reproduces the ENGINE's committed watermark per
    restart, and q431 that simulated state counts match the engine's
    StateOperatorProgress; this advisor runs the SAME validated
    model PURELY AS BATCH ARITHMETIC and prices the capacity plan a
    deployment needs BEFORE running the stream: per restart and
    source, the open-window state rows (admitted when their first
    surviving arrival lands, evicted when the committed watermark
    passes the window end, judged against the PREVIOUS restart's
    watermark exactly as the engine does), the byte estimate at
    {_Q446_BYTES_PER_KEY} B/key, each source's share of the store,
    and the peak restart — the number an executor-memory plan and a
    RocksDB-vs-heap store choice are made from. The laggy 12-hour
    purchase source dominating the store is the capacity story the
    (1 h, 12 h) delta split creates.

    Scale: a one-pass rollup to (source × chunk) then window-grain
    life intervals — the |timeline windows| × |sources| grain of
    q426, no streaming run, no corpus-sized state. At 100 TB this is
    exactly the cheap pre-flight that sizes the expensive always-on
    job.
    """
    events = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    chunked = _fanin_chunked(events).select(
        F.col("event_type").alias("source"),
        F.unix_micros("ts").alias("ts_us"),
        F.when(
            F.col("event_type") == "click", F.lit(_TRAJ_DELAY_A_MS)
        ).otherwise(F.lit(_TRAJ_DELAY_B_MS)).alias("dms"),
        "k",
    )
    per = chunked.groupBy("source", "k").agg(
        F.max("ts_us").alias("mx"), F.first("dms").alias("dms")
    )
    wsrc = Window.partitionBy("source").orderBy("k").rowsBetween(
        Window.unboundedPreceding, 0
    )
    srcwm = per.select(
        "source",
        "k",
        F.expr("max(mx)").over(wsrc).alias("cmx_us"),
        "dms",
    ).select(
        "source",
        "k",
        # integer division, matching the oracle's `// 1000` exactly
        # (a double /1000 + cast can truncate across an integer
        # boundary the other way at µs magnitudes)
        F.expr("cmx_us div 1000 - dms").alias("wm_ms"),
    )
    gwm = srcwm.groupBy("k").agg(F.min("wm_ms").alias("wm_ms"))
    gprev = gwm.select((F.col("k") + 1).alias("k"), F.col("wm_ms").alias("wm_prev_ms"))
    win_us = F.lit(_FANIN_WIN_US)
    kept = (
        chunked.join(F.broadcast(gprev), "k", "left")
        .withColumn(
            "win_start_us", F.col("ts_us") - F.col("ts_us") % win_us
        )
        .where(
            F.col("wm_prev_ms").isNull()
            | (
                F.col("win_start_us") + win_us
                > F.col("wm_prev_ms") * 1000
            )
        )
        .select("source", "k", "win_start_us")
    )
    firstk = kept.groupBy("source", "win_start_us").agg(
        F.min("k").alias("first_k")
    )
    # flush restart: min k whose committed watermark passes window end
    flush = (
        firstk.crossJoin(F.broadcast(gwm))
        .where(
            F.col("win_start_us") + win_us <= F.col("wm_ms") * 1000
        )
        .groupBy("source", "win_start_us")
        .agg(F.min("k").alias("flush_k"))
    )
    winlife = firstk.join(flush, ["source", "win_start_us"], "left")
    skel = (
        spark.range(1, _FANIN_CHUNKS + 1)
        .select(F.col("id").cast("int").alias("restart"))
        .crossJoin(
            spark.createDataFrame(
                [("click",), ("purchase",)], "source string"
            )
        )
    )
    cap = (
        skel.join(F.broadcast(winlife), "source", "left")
        .groupBy("restart", "source")
        .agg(
            F.count(
                F.when(
                    (F.col("first_k") <= F.col("restart"))
                    & (
                        F.col("flush_k").isNull()
                        | (F.col("flush_k") > F.col("restart"))
                    ),
                    1,
                )
            ).cast("long").alias("open_windows"),
            F.count(
                F.when(F.col("first_k") == F.col("restart"), 1)
            ).cast("long").alias("admitted_windows"),
            F.count(
                F.when(F.col("flush_k") == F.col("restart"), 1)
            ).cast("long").alias("evicted_windows"),
        )
    )
    tot = cap.groupBy("restart").agg(
        F.sum("open_windows").cast("long").alias("total_open")
    )
    peak = tot.agg(F.max("total_open").alias("peak_open"))
    return (
        cap.join(
            F.broadcast(gwm.select(F.col("k").alias("restart"), "wm_ms")),
            "restart",
        )
        .join(F.broadcast(tot), "restart")
        .crossJoin(F.broadcast(peak))
        .select(
            F.col("restart").cast("long").alias("restart"),
            "source",
            (F.col("wm_ms") * 1000).cast("long").alias("wm_committed_us"),
            "open_windows",
            "admitted_windows",
            "evicted_windows",
            (F.col("open_windows") * _Q446_BYTES_PER_KEY)
            .cast("long")
            .alias("est_state_bytes"),
            F.round(
                1000.0
                * F.col("open_windows")
                / F.greatest(F.col("total_open"), F.lit(1))
            ).cast("long").alias("state_share_milli"),
            (F.col("total_open") == F.col("peak_open")).alias(
                "is_peak_restart"
            ),
        )
        .orderBy("restart", "source")
    )

# ---- q458: watermark-delay frontier (state vs completeness) -------------
_Q458_GRID_MS = (3_600_000, 10_800_000, 21_600_000, 43_200_000,
                 86_400_000)  # candidate purchase-source delays


@register(
    "q458_watermark_delay_frontier",
    oracle=f"""
    WITH ev AS MATERIALIZED (
        SELECT event_id, event_type AS source, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'click'
                    THEN epoch_us(ts) + (event_id % 89) * {_FANIN_JIT_A_US}
                    ELSE epoch_us(ts) + (event_id % 797) * {_FANIN_JIT_B_US}
               END AS ak
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    chunked AS MATERIALIZED (
        SELECT event_id, source, ts_us,
               ntile({_FANIN_CHUNKS}) OVER (PARTITION BY source
                                            ORDER BY ak, event_id) AS k
        FROM ev
    ),
    per AS MATERIALIZED (
        SELECT source, k, max(ts_us) AS mx
        FROM chunked GROUP BY source, k
    ),
    cmx AS MATERIALIZED (
        SELECT source, k,
               max(mx) OVER (PARTITION BY source ORDER BY k
                             ROWS UNBOUNDED PRECEDING) // 1000 AS cm_ms
        FROM per
    ),
    grid AS (SELECT unnest({list(_Q458_GRID_MS)}) AS delay_ms),
    gwm AS MATERIALIZED (
        -- min policy per candidate delay: click keeps its shipped
        -- {_TRAJ_DELAY_A_MS} ms bound; the grid sizes the laggy source
        SELECT g.delay_ms, c.k,
               min(c.cm_ms - CASE WHEN c.source = 'click'
                                  THEN {_TRAJ_DELAY_A_MS}
                                  ELSE g.delay_ms END) AS wm_ms
        FROM cmx c CROSS JOIN grid g
        GROUP BY g.delay_ms, c.k
    ),
    judged AS MATERIALIZED (
        SELECT g.delay_ms, c.source, c.k,
               c.ts_us - c.ts_us % {_FANIN_WIN_US} AS win_start_us,
               (gw.wm_ms IS NOT NULL
                AND (c.ts_us - c.ts_us % {_FANIN_WIN_US})
                    + {_FANIN_WIN_US} <= gw.wm_ms * 1000) AS dropped
        FROM chunked c
        CROSS JOIN grid g
        LEFT JOIN gwm gw ON gw.delay_ms = g.delay_ms AND gw.k = c.k - 1
    ),
    winlife AS MATERIALIZED (
        SELECT w.delay_ms, w.source, w.win_start_us, w.first_k,
               (SELECT min(g2.k) FROM gwm g2
                WHERE g2.delay_ms = w.delay_ms
                  AND w.win_start_us + {_FANIN_WIN_US}
                      <= g2.wm_ms * 1000) AS flush_k
        FROM (SELECT delay_ms, source, win_start_us, min(k) AS first_k
              FROM judged WHERE NOT dropped
              GROUP BY delay_ms, source, win_start_us) w
    ),
    cap AS MATERIALIZED (
        SELECT wl.delay_ms, r.k,
               CAST(count(*) FILTER (
                   wl.first_k <= r.k
                   AND (wl.flush_k IS NULL OR wl.flush_k > r.k))
                   AS BIGINT) AS open_w
        FROM winlife wl,
             (SELECT unnest(range(1, {_FANIN_CHUNKS} + 1)) AS k) r
        GROUP BY wl.delay_ms, r.k
    ),
    peak AS (
        -- argmax, not min-with-ignored-ORDER-BY: smallest restart
        -- attaining the per-delay max open count (mirrors the Spark
        -- windowed filter exactly)
        SELECT delay_ms, CAST(mx AS BIGINT) AS peak_open,
               CAST(min(k) AS BIGINT) AS peak_restart
        FROM (SELECT delay_ms, k, open_w,
                     max(open_w) OVER (PARTITION BY delay_ms) AS mx
              FROM cap)
        WHERE open_w = mx
        GROUP BY delay_ms, mx
    ),
    drops AS (
        SELECT delay_ms,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped
        FROM judged GROUP BY delay_ms
    )
    SELECT CAST(d.delay_ms AS BIGINT) AS delay_ms,
           p.peak_open AS peak_open_windows, p.peak_restart,
           CAST(p.peak_open * {_Q446_BYTES_PER_KEY} AS BIGINT)
               AS est_peak_state_bytes,
           d.n_rows, d.n_dropped,
           CAST(round(1000.0 * d.n_dropped / d.n_rows) AS BIGINT)
               AS drop_milli
    FROM drops d JOIN peak p USING (delay_ms)
    ORDER BY delay_ms
    """,
)
def q458_watermark_delay_frontier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WATERMARK-DELAY frontier — the sizing sweep BEFORE q446's
    capacity plan: the laggy purchase source's withWatermark bound
    swept over a 1h→24h grid under the engine-validated min-policy
    simulation (q426 gated the trajectory, q431 the state counts —
    this reads the same model at five candidate delays), emitting
    per delay the PEAK open-window state (and its restart + byte
    estimate) against the completeness cost (rows the late filter
    drops, judged per restart against the previous committed
    watermark — the engine's exact timing). The frontier is the
    whole decision: a short bound shrinks the store AND drops real
    data; this table shows both numbers for every candidate, so the
    delay is picked off measurements instead of folklore. The
    shipped 12 h bound's row reproduces q446's plan exactly.

    Scale: the per-source arrival cummax is computed ONCE
    (delay-independent); the grid multiplies only the |chunks|-grain
    rollup and a map-side judgment pass over the chunk rows
    (|grid|× map fan-out, the q452 device) — window lifetimes and
    peaks stay at (delay × timeline-window) grain.
    """
    events = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    chunked = _fanin_chunked(events).select(
        F.col("event_type").alias("source"),
        F.unix_micros("ts").alias("ts_us"),
        "k",
    )
    per = chunked.groupBy("source", "k").agg(F.max("ts_us").alias("mx"))
    wsrc = Window.partitionBy("source").orderBy("k").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cmx = per.select(
        "source", "k",
        F.expr("max(mx)").over(wsrc).alias("cmx_us"),
    ).select("source", "k", F.expr("cmx_us div 1000").alias("cm_ms"))
    grid = spark.createDataFrame(
        [(int(x),) for x in _Q458_GRID_MS], "delay_ms long"
    )
    gwm = (
        cmx.crossJoin(F.broadcast(grid))
        .select(
            "delay_ms",
            "k",
            (
                F.col("cm_ms")
                - F.when(
                    F.col("source") == "click", F.lit(_TRAJ_DELAY_A_MS)
                ).otherwise(F.col("delay_ms"))
            ).alias("wm_src"),
        )
        .groupBy("delay_ms", "k")
        .agg(F.min("wm_src").alias("wm_ms"))
    )
    gwm = gwm.localCheckpoint(eager=True)  # |grid|×|chunks| rows
    gprev = gwm.select(
        "delay_ms", (F.col("k") + 1).alias("k"),
        F.col("wm_ms").alias("wm_prev_ms"),
    )
    win_us = F.lit(_FANIN_WIN_US)
    judged = (
        chunked.crossJoin(F.broadcast(grid))
        .join(F.broadcast(gprev), ["delay_ms", "k"], "left")
        .select(
            "delay_ms",
            "source",
            "k",
            (F.col("ts_us") - F.col("ts_us") % win_us).alias(
                "win_start_us"
            ),
            (
                F.col("wm_prev_ms").isNotNull()
                & (
                    F.col("ts_us") - F.col("ts_us") % win_us + win_us
                    <= F.col("wm_prev_ms") * 1000
                )
            ).alias("dropped"),
        )
    )
    firstk = (
        judged.where(~F.col("dropped"))
        .groupBy("delay_ms", "source", "win_start_us")
        .agg(F.min("k").alias("first_k"))
    )
    flush = (
        firstk.join(
            F.broadcast(gwm.select("delay_ms", "k", "wm_ms")),
            "delay_ms",
        )
        .where(F.col("win_start_us") + win_us <= F.col("wm_ms") * 1000)
        .groupBy("delay_ms", "source", "win_start_us")
        .agg(F.min("k").alias("flush_k"))
    )
    winlife = firstk.join(
        flush, ["delay_ms", "source", "win_start_us"], "left"
    )
    restarts = spark.range(1, _FANIN_CHUNKS + 1).select(
        F.col("id").alias("rk")
    )
    cap = (
        winlife.crossJoin(F.broadcast(restarts))
        .where(
            (F.col("first_k") <= F.col("rk"))
            & (F.col("flush_k").isNull() | (F.col("flush_k") > F.col("rk")))
        )
        .groupBy("delay_ms", "rk")
        .agg(F.count(F.lit(1)).cast("long").alias("open_w"))
    )
    # peak restart: smallest k attaining the max open count per delay
    wmax = Window.partitionBy("delay_ms")
    peak = (
        cap.withColumn("mx", F.max("open_w").over(wmax))
        .where(F.col("open_w") == F.col("mx"))
        .groupBy("delay_ms")
        .agg(
            F.first("mx").cast("long").alias("peak_open"),
            F.min("rk").cast("long").alias("peak_restart"),
        )
    )
    drops = judged.groupBy("delay_ms").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
    )
    return (
        drops.join(peak, "delay_ms")
        .select(
            "delay_ms",
            F.col("peak_open").alias("peak_open_windows"),
            "peak_restart",
            (F.col("peak_open") * _Q446_BYTES_PER_KEY)
            .cast("long")
            .alias("est_peak_state_bytes"),
            "n_rows",
            "n_dropped",
            F.round(1000.0 * F.col("n_dropped") / F.col("n_rows"))
            .cast("long")
            .alias("drop_milli"),
        )
        .orderBy("delay_ms")
    )


# ---- q461: watermark-delay frontier under the MAX policy -----------------
@register(
    "q461_watermark_frontier_max_policy",
    oracle=f"""
    WITH ev AS MATERIALIZED (
        SELECT event_id, event_type AS source, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'click'
                    THEN epoch_us(ts) + (event_id % 89) * {_FANIN_JIT_A_US}
                    ELSE epoch_us(ts) + (event_id % 797) * {_FANIN_JIT_B_US}
               END AS ak
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    chunked AS MATERIALIZED (
        SELECT event_id, source, ts_us,
               ntile({_FANIN_CHUNKS}) OVER (PARTITION BY source
                                            ORDER BY ak, event_id) AS k
        FROM ev
    ),
    per AS MATERIALIZED (
        SELECT source, k, max(ts_us) AS mx
        FROM chunked GROUP BY source, k
    ),
    cmx AS MATERIALIZED (
        SELECT source, k,
               max(mx) OVER (PARTITION BY source ORDER BY k
                             ROWS UNBOUNDED PRECEDING) // 1000 AS cm_ms
        FROM per
    ),
    grid AS (SELECT unnest({list(_Q458_GRID_MS)}) AS delay_ms),
    gwm AS MATERIALIZED (
        -- MAX policy per candidate delay: the global watermark tracks
        -- the FASTEST source node (q439's conf), so the laggy
        -- purchase bound binds only while its watermark EXCEEDS the
        -- click one
        SELECT g.delay_ms, c.k,
               max(c.cm_ms - CASE WHEN c.source = 'click'
                                  THEN {_TRAJ_DELAY_A_MS}
                                  ELSE g.delay_ms END) AS wm_ms
        FROM cmx c CROSS JOIN grid g
        GROUP BY g.delay_ms, c.k
    ),
    judged AS MATERIALIZED (
        SELECT g.delay_ms, c.source, c.k,
               c.ts_us - c.ts_us % {_FANIN_WIN_US} AS win_start_us,
               (gw.wm_ms IS NOT NULL
                AND (c.ts_us - c.ts_us % {_FANIN_WIN_US})
                    + {_FANIN_WIN_US} <= gw.wm_ms * 1000) AS dropped
        FROM chunked c
        CROSS JOIN grid g
        LEFT JOIN gwm gw ON gw.delay_ms = g.delay_ms AND gw.k = c.k - 1
    ),
    winlife AS MATERIALIZED (
        SELECT w.delay_ms, w.source, w.win_start_us, w.first_k,
               (SELECT min(g2.k) FROM gwm g2
                WHERE g2.delay_ms = w.delay_ms
                  AND w.win_start_us + {_FANIN_WIN_US}
                      <= g2.wm_ms * 1000) AS flush_k
        FROM (SELECT delay_ms, source, win_start_us, min(k) AS first_k
              FROM judged WHERE NOT dropped
              GROUP BY delay_ms, source, win_start_us) w
    ),
    cap AS MATERIALIZED (
        SELECT wl.delay_ms, r.k,
               CAST(count(*) FILTER (
                   wl.first_k <= r.k
                   AND (wl.flush_k IS NULL OR wl.flush_k > r.k))
                   AS BIGINT) AS open_w
        FROM winlife wl,
             (SELECT unnest(range(1, {_FANIN_CHUNKS} + 1)) AS k) r
        GROUP BY wl.delay_ms, r.k
    ),
    peak AS (
        SELECT delay_ms, CAST(mx AS BIGINT) AS peak_open,
               CAST(min(k) AS BIGINT) AS peak_restart
        FROM (SELECT delay_ms, k, open_w,
                     max(open_w) OVER (PARTITION BY delay_ms) AS mx
              FROM cap)
        WHERE open_w = mx
        GROUP BY delay_ms, mx
    ),
    drops AS (
        SELECT delay_ms,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped
        FROM judged GROUP BY delay_ms
    ),
    fin AS (
        SELECT delay_ms, CAST(wm_ms AS BIGINT) AS final_wm_ms
        FROM gwm WHERE k = {_FANIN_CHUNKS}
    )
    SELECT CAST(d.delay_ms AS BIGINT) AS delay_ms,
           p.peak_open AS peak_open_windows, p.peak_restart,
           CAST(p.peak_open * {_Q446_BYTES_PER_KEY} AS BIGINT)
               AS est_peak_state_bytes,
           d.n_rows, d.n_dropped,
           CAST(round(1000.0 * d.n_dropped / d.n_rows) AS BIGINT)
               AS drop_milli,
           f.final_wm_ms
    FROM drops d JOIN peak p USING (delay_ms) JOIN fin f USING (delay_ms)
    ORDER BY delay_ms
    """,
)
def q461_watermark_frontier_max_policy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WATERMARK-DELAY frontier under the MAX multipleWatermarkPolicy
    — q458's policy twin (r13 verdict item #3, q439's trajectory as
    a sweep): the same 1h→24h purchase-delay grid, but the global
    watermark is the MAX over source watermarks (the engine conf
    q439 gates), so the laggy source's bound binds only while its
    watermark EXCEEDS the click one. The trade INVERTS at the
    crossover: under min (q458) a longer purchase delay buys
    completeness and pays state; under max, SHORTENING the purchase
    delay past the crossover changes nothing (click binds — the
    frontier rows go flat, final_wm_ms pinned to the click
    watermark), while lengthening it past the crossover re-binds the
    laggy source and starts dropping MORE click-side rows — the
    multi-source sizing decision reads BOTH frontiers side by side:
    q458 prices the min policy's state, this table shows where max
    stops being the cheap-state option and starts being the
    data-loss option. Per delay the row also carries the final
    committed watermark (final_wm_ms) — the quantity q439's real
    engine restarts commit, which the consistency test pins.

    Scale: identical to q458 — per-source cummax once,
    |grid|×|chunks| map fan-out, window lifetimes at
    (delay × timeline-window) grain; the policy changes ONE
    aggregate (min → max over source watermarks), never when it's
    applied (q439's semantic pin, now sweep-wide).
    """
    events = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    chunked = _fanin_chunked(events).select(
        F.col("event_type").alias("source"),
        F.unix_micros("ts").alias("ts_us"),
        "k",
    )
    per = chunked.groupBy("source", "k").agg(F.max("ts_us").alias("mx"))
    wsrc = Window.partitionBy("source").orderBy("k").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cmx = per.select(
        "source", "k",
        F.expr("max(mx)").over(wsrc).alias("cmx_us"),
    ).select("source", "k", F.expr("cmx_us div 1000").alias("cm_ms"))
    grid = spark.createDataFrame(
        [(int(x),) for x in _Q458_GRID_MS], "delay_ms long"
    )
    gwm = (
        cmx.crossJoin(F.broadcast(grid))
        .select(
            "delay_ms",
            "k",
            (
                F.col("cm_ms")
                - F.when(
                    F.col("source") == "click", F.lit(_TRAJ_DELAY_A_MS)
                ).otherwise(F.col("delay_ms"))
            ).alias("wm_src"),
        )
        .groupBy("delay_ms", "k")
        .agg(F.max("wm_src").alias("wm_ms"))
    )
    gwm = gwm.localCheckpoint(eager=True)  # |grid|×|chunks| rows
    gprev = gwm.select(
        "delay_ms", (F.col("k") + 1).alias("k"),
        F.col("wm_ms").alias("wm_prev_ms"),
    )
    win_us = F.lit(_FANIN_WIN_US)
    judged = (
        chunked.crossJoin(F.broadcast(grid))
        .join(F.broadcast(gprev), ["delay_ms", "k"], "left")
        .select(
            "delay_ms",
            "source",
            "k",
            (F.col("ts_us") - F.col("ts_us") % win_us).alias(
                "win_start_us"
            ),
            (
                F.col("wm_prev_ms").isNotNull()
                & (
                    F.col("ts_us") - F.col("ts_us") % win_us + win_us
                    <= F.col("wm_prev_ms") * 1000
                )
            ).alias("dropped"),
        )
    )
    firstk = (
        judged.where(~F.col("dropped"))
        .groupBy("delay_ms", "source", "win_start_us")
        .agg(F.min("k").alias("first_k"))
    )
    flush = (
        firstk.join(
            F.broadcast(gwm.select("delay_ms", "k", "wm_ms")),
            "delay_ms",
        )
        .where(F.col("win_start_us") + win_us <= F.col("wm_ms") * 1000)
        .groupBy("delay_ms", "source", "win_start_us")
        .agg(F.min("k").alias("flush_k"))
    )
    winlife = firstk.join(
        flush, ["delay_ms", "source", "win_start_us"], "left"
    )
    restarts = spark.range(1, _FANIN_CHUNKS + 1).select(
        F.col("id").alias("rk")
    )
    cap = (
        winlife.crossJoin(F.broadcast(restarts))
        .where(
            (F.col("first_k") <= F.col("rk"))
            & (F.col("flush_k").isNull() | (F.col("flush_k") > F.col("rk")))
        )
        .groupBy("delay_ms", "rk")
        .agg(F.count(F.lit(1)).cast("long").alias("open_w"))
    )
    wmax = Window.partitionBy("delay_ms")
    peak = (
        cap.withColumn("mx", F.max("open_w").over(wmax))
        .where(F.col("open_w") == F.col("mx"))
        .groupBy("delay_ms")
        .agg(
            F.first("mx").cast("long").alias("peak_open"),
            F.min("rk").cast("long").alias("peak_restart"),
        )
    )
    drops = judged.groupBy("delay_ms").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
    )
    fin = gwm.where(F.col("k") == _FANIN_CHUNKS).select(
        "delay_ms", F.col("wm_ms").cast("long").alias("final_wm_ms")
    )
    return (
        drops.join(peak, "delay_ms")
        .join(F.broadcast(fin), "delay_ms")
        .select(
            "delay_ms",
            F.col("peak_open").alias("peak_open_windows"),
            "peak_restart",
            (F.col("peak_open") * _Q446_BYTES_PER_KEY)
            .cast("long")
            .alias("est_peak_state_bytes"),
            "n_rows",
            "n_dropped",
            F.round(1000.0 * F.col("n_dropped") / F.col("n_rows"))
            .cast("long")
            .alias("drop_milli"),
            "final_wm_ms",
        )
        .orderBy("delay_ms")
    )
