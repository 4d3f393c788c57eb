"""Export sinks + streaming rollup tests."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from g_etl_spark import export
from g_etl_spark.streaming import pipeline as sp


@pytest.fixture(scope="module")
def cells_df(spark):
    from g_etl_spark.functions import grid

    cells = [
        (grid.latlng_to_cell(59.3 + i * 0.01, 18.0 + i * 0.01, 12), f"ds{i % 2}",
         "sks", "klass", "a.b", 5 - i % 3)
        for i in range(20)
    ]
    return spark.createDataFrame(
        cells,
        "grid_cell long, dataset_id string, leverantor string, klass string, "
        "classification string, count long",
    )


def test_export_csv(cells_df, tmp_path):
    out = str(tmp_path / "cells_csv")
    export.export_csv(cells_df, out)
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert files
    header = open(os.path.join(out, files[0])).readline().strip().split(",")
    assert "hex_id" in header and "count" in header  # Kepler convention


def test_export_geojson(cells_df, tmp_path):
    out = str(tmp_path / "cells.geojson")
    export.export_geojson(cells_df, out)
    fc = json.load(open(out))
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) == 20
    f0 = fc["features"][0]
    assert f0["geometry"]["type"] == "Polygon"
    assert "hex_id" in f0["properties"]


def test_export_html(cells_df, tmp_path):
    out = str(tmp_path / "map.html")
    export.export_html_map(cells_df, out)
    html = open(out).read()
    assert "<svg" in html and "ds0" in html and "ds1" in html


def test_export_gpkg_raises_without_gdal(cells_df, tmp_path):
    with pytest.raises(ImportError):
        export.export_gpkg(cells_df, str(tmp_path / "x.gpkg"))


def test_export_gpkg_with_fake_pyogrio(cells_df, tmp_path, monkeypatch):
    """Exercise the GDAL write branch with an injected fake pyogrio:
    the rows→WKB conversion, field assembly, and the raw.write call
    all run for real; only the final GDAL I/O is faked."""
    from g_etl_spark.functions import geo

    calls = []

    class FakeRaw:
        @staticmethod
        def write(path, geometry=None, field_data=None, fields=None, **kw):
            calls.append(
                {"path": path, "geometry": geometry, "field_data": field_data,
                 "fields": fields, **kw}
            )

    class FakePyogrio:
        raw = FakeRaw

    monkeypatch.setattr(export, "_load_pyogrio", lambda: FakePyogrio)

    out = str(tmp_path / "cells.gpkg")
    assert export.export_gpkg(cells_df, out) == out
    (call,) = calls
    assert call["path"] == out and call["driver"] == "GPKG"
    assert call["crs"] == "EPSG:4326" and call["geometry_type"] == "Polygon"
    assert len(call["geometry"]) == 20
    g0 = geo.from_wkb(bytes(call["geometry"][0]))
    assert g0[0] == "Polygon" and len(g0[1][0]) == 5  # closed ring
    assert "hex_id" in call["fields"] and "count" in call["fields"]
    idx = list(call["fields"]).index("count")
    assert sorted(call["field_data"][idx]) == sorted(
        r["count"] for r in cells_df.collect()
    )

    export.export_flatgeobuf(cells_df, str(tmp_path / "cells.fgb"))
    assert calls[-1]["driver"] == "FlatGeobuf"


def test_export_html_escapes_markup(spark, tmp_path):
    """Data containing markup must not corrupt or script the HTML."""
    from g_etl_spark.functions import grid

    df = spark.createDataFrame(
        [(grid.latlng_to_cell(59.3, 18.0, 12), '</title><script>alert(1)</script>', 1)],
        "grid_cell long, dataset_id string, count long",
    )
    out = str(tmp_path / "evil.html")
    export.export_html_map(df, out)
    content = open(out).read()
    assert "<script>alert(1)</script>" not in content
    assert "&lt;script&gt;" in content


def test_json_export_byte_compat_with_reference_format(spark):
    """The exported `_h3_cells` / `_json_data` JSON must be byte-
    identical to what the reference's DuckDB macros emit
    (003_db_makros.sql:64-83,117-118; 004 template :38-39): cells as
    to_json(list-of-strings), row json as to_json(row) with the geom
    key regex-stripped, nulls INCLUDED. Hash equality on a fixed
    fixture covering unicode, quotes, backslashes, nulls, ints and
    doubles."""
    import duckdb

    from g_etl_spark.functions import core, grid as G

    rows = [
        (1, 'skog "gammal"', 12.5, None, "POINT (1 2)",
         [G.latlng_to_cell(59.3, 18.0, 12), G.latlng_to_cell(59.4, 18.1, 12)]),
        (2, "åäö Ärt\\backe", 0.25, "typ2", "POINT (3 4)",
         [G.latlng_to_cell(60.0, 15.0, 12)]),
        (3, None, 7.0, "", "POINT (5 6)", []),
    ]
    df = spark.createDataFrame(
        rows, "fid int, namn string, area double, typ string, geom string, cells array<long>"
    )
    got = df.select(
        "fid",
        core.json_data(
            {"fid": F.col("fid"), "namn": F.col("namn"), "area": F.col("area"),
             "typ": F.col("typ")},
            include_nulls=True,
        ).alias("json_data"),
        export.cells_to_json(F.col("cells")).alias("h3_cells"),
    ).collect()

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(
            "(%d, %s, %s, %s, %s, %s)"
            % (
                fid,
                "NULL" if namn is None else "'" + namn.replace("'", "''").replace("\\", "\\") + "'",
                repr(area),
                "NULL" if typ is None else f"'{typ}'",
                f"'{wkt}'",
                "[" + ",".join(f"'{G.cell_str_py(c)}'" for c in cells) + "]::VARCHAR[]",
            )
            for fid, namn, area, typ, wkt, cells in rows
        )
        + ") v(fid, namn, area, typ, geom, cells)"
    )
    # the literal reference macros: to_json(s) + g_json_without_geom
    # regex-strip (003:117-118), to_json(cells)::VARCHAR (003:64-83)
    ref = con.sql(
        """
        SELECT fid,
               regexp_replace(
                   to_json(struct_pack(fid := fid, namn := namn, area := area,
                                       typ := typ, geom := geom))::VARCHAR,
                   ',"geom":"[^"]*"', '') AS json_data,
               to_json(cells)::VARCHAR AS h3_cells
        FROM t ORDER BY fid
        """
    ).fetchall()

    import hashlib

    for (got_row, ref_row) in zip(sorted(got, key=lambda r: r.fid), ref):
        assert got_row.fid == ref_row[0]
        for got_s, ref_s, label in (
            (got_row.json_data, ref_row[1], "json_data"),
            (got_row.h3_cells, ref_row[2], "h3_cells"),
        ):
            assert hashlib.md5(got_s.encode()).hexdigest() == hashlib.md5(
                ref_s.encode()
            ).hexdigest(), f"{label} byte mismatch: {got_s!r} != {ref_s!r}"


def test_streaming_rollup_matches_batch(spark):
    """The watermarked streaming rollup over the events testdata must
    equal the equivalent batch aggregation (availableNow processes
    everything, so late-drop never triggers)."""
    from g_etl_spark.tables import load

    events = load(spark, "/root/testdata/sf0.001", "events")
    with sp.stream_run(spark, events.inputFiles()[0], "rollup_test") as run:
        src = run.stage(events, "src")
        rollup = sp.streaming_event_rollup(run.read(src, events.schema))
        run.start(rollup, "complete", memory=True)

    got = {
        (r.day, r.event_type): (r.n, round(r.total_value, 2))
        for r in run.spark.sql("SELECT * FROM rollup_test").collect()
    }
    batch = {
        (r.day, r.event_type): (r.n, round(r.total_value, 2))
        for r in (
            events.groupBy(
                F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
            .collect()
        )
    }
    assert got == batch


def test_streaming_staging_transform(spark, tmp_path):
    """The batch staging transform lifts onto readStream unchanged
    (stateless per-row): file stream -> staging_transform -> parquet
    sink; output contract matches batch."""
    from g_etl_spark import stages
    from tests import conftest as fx

    raw = spark.createDataFrame(fx.point_rows(20), fx.POINT_SCHEMA)
    src = str(tmp_path / "raw_stream")
    raw.write.parquet(src)

    stream = (
        spark.readStream.schema(raw.schema).parquet(src)
    )
    staged = stages.staging_transform(stages.normalize_geometry_column(stream))
    assert staged.isStreaming
    out = str(tmp_path / "staged_out")
    q = (
        staged.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    result = spark.read.parquet(out)
    assert result.count() == 20
    assert "_grid_cells" in result.columns and "_geom_md5" in result.columns


def test_streaming_grid_ingest_restart_and_idempotence(spark, tmp_path):
    """foreachBatch incremental grid ingest: stop the stream with data
    still pending, restart from the checkpoint, and the final index +
    stats must equal the batch run; a full replay with a fresh
    checkpoint must not duplicate rows (per-batch partition
    overwrite)."""
    from g_etl_spark import stages, warehouse as wh
    from tests import conftest as fx

    mapping = {"source_id_column": "$NVRID", "klass": "naturminne", "leverantor": "nvv"}
    rows = fx.point_rows(30)
    src = str(tmp_path / "ingest_src")
    ckpt = str(tmp_path / "ingest_ckpt")
    wdir = str(tmp_path / "ingest_wh")

    # batch reference over the FULL input
    full = spark.createDataFrame(rows, fx.POINT_SCHEMA)
    expected_df = stages.explode_cells(
        stages.normalize(
            stages.staging_transform(stages.normalize_geometry_column(full)), mapping
        )
    )
    expected = {(r.id, r.grid_cell) for r in expected_df.collect()}
    assert len(expected) == 30

    def write_files(chunks):
        for lo, hi in chunks:
            spark.createDataFrame(rows[lo:hi], fx.POINT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)

    def run_once(checkpoint, refresh_stats):
        stream = sp.read_parquet_stream(
            spark, src, schema=full.schema, max_files_per_trigger=1
        )
        q = sp.start_incremental_grid_ingest(
            stream, wdir, "pts", checkpoint, mapping,
            refresh_stats=refresh_stats, available_now=True,
        )
        q.awaitTermination(180)

    # phase 1: half the input arrives; stream drains it and STOPS
    # (offsets committed to the checkpoint = a mid-run kill)
    write_files([(0, 8), (8, 15)])
    run_once(ckpt, refresh_stats=False)
    got1 = {(r.id, r.grid_cell) for r in wh.read_table(spark, wdir, "mart", "pts_grid").collect()}
    assert len(got1) == 15 and got1 < expected

    # phase 2: more data lands; RESUME from the same checkpoint —
    # only the new files are processed, final result == batch
    write_files([(15, 23), (23, 30)])
    run_once(ckpt, refresh_stats=True)
    final = wh.read_table(spark, wdir, "mart", "pts_grid")
    assert {(r.id, r.grid_cell) for r in final.collect()} == expected
    # multiple independent batch partitions prove incremental appends
    assert final.select("_batch_id").distinct().count() >= 2

    # stats refresh materialized and matches a batch-side recompute
    stats = wh.read_table(spark, wdir, "mart", wh.STATS_TABLE)
    batch_stats = {
        (r.grid_cell, r.object_count)
        for r in wh.grid_stats(
            expected_df.withColumn("dataset_id", F.lit("pts"))
        ).collect()
    }
    assert {(r.grid_cell, r.object_count) for r in stats.collect()} == batch_stats

    # full replay with a FRESH checkpoint: every batch rewrites its own
    # partition — still exactly the batch result, zero duplicates
    run_once(str(tmp_path / "ingest_ckpt2"), refresh_stats=False)
    assert {
        (r.id, r.grid_cell)
        for r in wh.read_table(spark, wdir, "mart", "pts_grid").collect()
    } == expected


def test_incremental_stats_refresh_equals_full(spark, tmp_path):
    """refresh_grid_stats_incremental over a second dataset's touched
    prefixes must leave the stats table equal to a full recompute —
    including cells in OTHER prefixes remaining untouched."""
    from g_etl_spark import stages, warehouse as wh
    from tests import conftest as fx

    wdir = str(tmp_path / "wh")
    mapping = {"source_id_column": "$NVRID", "klass": "naturminne", "leverantor": "nvv"}

    def ingest(ds_id, rows):
        raw = stages.normalize_geometry_column(
            spark.createDataFrame(rows, fx.POINT_SCHEMA)
        )
        exploded = stages.explode_cells(
            stages.normalize(stages.staging_transform(raw), mapping)
        )
        wh.write_table(exploded, wdir, "mart", ds_id + wh.GRID_SUFFIX)
        return exploded

    all_rows = fx.point_rows(40)
    ingest("ds_a", all_rows[:25])
    wh.write_grid_stats(spark, wdir)

    # second dataset lands; refresh only its touched prefixes
    ex_b = ingest("ds_b", all_rows[25:])
    n_pref = wh.refresh_grid_stats_incremental(spark, wdir, ex_b)
    assert n_pref >= 1

    got = {
        (r.grid_cell, r.object_count, r.dataset_count, tuple(r.datasets))
        for r in wh.read_table(spark, wdir, "mart", wh.STATS_TABLE).collect()
    }
    full = {
        (r.grid_cell, r.object_count, r.dataset_count, tuple(r.datasets))
        for r in wh.grid_stats(wh.grid_index(spark, wdir)).collect()
    }
    assert got == full


def test_streaming_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions emitted
    by the stateful operator must match the batch lag-based
    sessionization for sessions that are closed by end-of-stream
    watermark advancement."""
    from g_etl_spark.streaming import pipeline as sp
    from g_etl_spark.tables import load

    events = load(spark, "/root/testdata/sf0.001", "events").filter(
        F.col("user_id") < 20
    )
    src = str(tmp_path / "sess_src")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    sessions = sp.streaming_sessionize(stream, gap_minutes=30)
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM sessions_test").collect()

    # batch reference: sessions whose close is confirmed (gap after)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = events.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn("session_id", F.sum("new_session").over(w))
    batch = (
        marked.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("session_end"))
        .collect()
    )
    batch_counts = {}
    for r in batch:
        batch_counts.setdefault(r.user_id, []).append(r.n_events)
    got_counts = {}
    for r in got:
        got_counts.setdefault(r.user_id, []).append(r.n_events)
    # every emitted session must appear in the batch result
    for uid, counts in got_counts.items():
        for c in counts:
            assert c in batch_counts.get(uid, []), (uid, c)
    assert len(got) > 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact-dedup: planted duplicate user_id+event_type
    rows collapse to the first arrival; state is watermark-bounded
    (dropDuplicatesWithinWatermark). availableNow over one file keeps
    all dups inside the watermark, so the result must equal batch
    dropDuplicates."""
    from g_etl_spark.tables import load

    events = load(spark, "/root/testdata/sf0.001", "events").limit(200)
    # plant exact duplicates (same key cols, same ts)
    dup = events.limit(50)
    corpus = events.unionByName(dup)
    src = str(tmp_path / "dedup_src")
    corpus.coalesce(1).write.parquet(src)

    stream = sp.read_parquet_stream(spark, src, schema=corpus.schema)
    deduped = sp.streaming_dedup(stream, ["event_id"], ts_col="ts", watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_test").collect()[0]
    n_expected = corpus.select("event_id").distinct().count()
    assert got.n == n_expected  # every duplicate dropped
    assert got.d == n_expected  # and each key emitted exactly once


def test_streaming_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream conversion join (click → purchase within 1h per
    user, watermarked both sides) must equal the identical batch
    join when availableNow processes everything."""
    from g_etl_spark.tables import load

    events = load(spark, "/root/testdata/sf0.001", "events").limit(2000)
    src = str(tmp_path / "ssj_src")
    events.coalesce(1).write.parquet(src)

    stream = sp.read_parquet_stream(spark, src, schema=events.schema)
    joined = sp.streaming_followup_join(stream)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.first_id, r.then_id)
        for r in spark.sql("SELECT * FROM ssj_test").collect()
    }

    batch = sp.streaming_followup_join(events)  # same logic on a batch DF
    expected = {
        (r.user_id, r.first_id, r.then_id) for r in batch.collect()
    }
    assert got == expected
    assert len(expected) > 0  # non-vacuous: conversions exist in the slice
