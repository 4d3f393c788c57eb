"""End-to-end pipeline tests over the geo fixtures — the contract
checks from FIXTURES.md ("Expected-contract checks on A1-A4")."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from g_etl_spark import export, stages, warehouse as wh
from g_etl_spark.config import DatasetConfig
from g_etl_spark.functions import geo, grid
from g_etl_spark.query import query_polygon
from g_etl_spark.runner import PipelineRunner
from g_etl_spark.state import StateStore

from tests import conftest as fx


def _memory_cfg(ds_id, rows, schema, field_mapping, pipeline="ext_restr"):
    return DatasetConfig(
        id=ds_id,
        plugin="memory",
        pipeline=pipeline,
        field_mapping=field_mapping,
        options={"rows": rows, "schema": schema},
    )


@pytest.fixture(scope="module")
def warehouse_dir(tmp_path_factory, spark):
    """Run the full two-dataset pipeline once for this module."""
    wdir = str(tmp_path_factory.mktemp("warehouse"))
    runner = PipelineRunner(spark, wdir)
    cfgs = [
        _memory_cfg(
            "biotop",
            fx.polygon_rows(),
            fx.POLYGON_SCHEMA,
            {
                "source_id_column": "$beteckn",
                "klass": "biotopskydd",
                "grupp": "$Biotyp",
                "leverantor": "sks",
            },
        ),
        _memory_cfg(
            "naturminnen",
            fx.point_rows(),
            fx.POINT_SCHEMA,
            {"source_id_column": "$NVRID", "klass": "naturminne", "leverantor": "nvv"},
        ),
        _memory_cfg(
            "linjer",
            fx.line_rows(),
            fx.LINE_SCHEMA,
            {"source_id_column": "$Objektnr", "klass": "skogshistorisk_linje",
             "typ": "$Typ", "leverantor": "sks"},
        ),
    ]
    results = runner.run(cfgs)
    assert [r.status for r in results] == ["ok", "ok", "ok"], results
    return wdir


def test_staging_contract_columns(spark, warehouse_dir):
    """≙ staging_004 contract (FIXTURES.md): metadata block present,
    NULL-geometry rows dropped."""
    staged = wh.read_table(spark, warehouse_dir, "staging", "biotop")
    for col in ("_imported_at", "_geom_md5", "_attr_md5", "_json_data",
                "_centroid_lat", "_centroid_lng", "_grid_index", "_grid_cells"):
        assert col in staged.columns, col
    n_input = len(fx.polygon_rows())
    n_null = sum(1 for r in fx.polygon_rows() if r["geometry"] is None)
    assert staged.count() == n_input - n_null
    # all geometries valid after repair
    assert staged.filter(F.col("_grid_cells").isNull()).count() == 0


def test_centroids_are_in_sweden(spark, warehouse_dir):
    row = (
        wh.read_table(spark, warehouse_dir, "staging", "biotop")
        .agg(
            F.min("_centroid_lat"), F.max("_centroid_lat"),
            F.min("_centroid_lng"), F.max("_centroid_lng"),
        )
        .head()
    )
    lat_min, lat_max, lng_min, lng_max = row
    assert 54.0 < lat_min <= lat_max < 70.5
    assert 9.0 < lng_min <= lng_max < 25.5


def test_normalized_schema_exact(spark, warehouse_dir):
    """≙ staging_{pipeline}_001 contract: exactly the 17-col schema."""
    mart = wh.read_table(spark, warehouse_dir, "mart", "biotop_grid")
    assert mart.columns == [
        "id", "source_id", "klass", "grupp", "typ", "leverantor",
        "classification", "json_data", "grid_cell",
    ]
    # classification = grupp-or-'-' + '.' + typ-or-'-'
    sample = mart.filter(F.col("grupp") != "").head()
    assert sample.classification == f"{sample.grupp}.{sample.typ or '-'}"
    empty = mart.filter(F.col("grupp") == "").head()
    assert empty.classification.startswith("-.")


def test_explode_counts_match(spark, warehouse_dir):
    """mart rows == Σ per-feature cell counts (fan-out is exact)."""
    staged = wh.read_table(spark, warehouse_dir, "staging", "naturminnen")
    expected = staged.select(F.sum(F.size("_grid_cells"))).head()[0]
    mart = wh.read_table(spark, warehouse_dir, "mart", "naturminnen_grid")
    assert mart.count() == expected


def test_compact_invariant(spark, warehouse_dir):
    """≙ mart.{id}_h3_compact contract: compacted set is no larger,
    and uncompacts back to the original set."""
    staged = wh.read_table(spark, warehouse_dir, "staging", "biotop").select(
        "_grid_cells"
    )
    compact = wh.read_table(spark, warehouse_dir, "mart", "biotop_grid_compact")
    orig = staged.select(F.sum(F.size("_grid_cells"))).head()[0]
    comp = compact.select(F.sum(F.size("grid_cells_compact"))).head()[0]
    assert comp <= orig
    # spot-check invariant on one row
    row = compact.head()
    cells = grid.uncompact_cells(list(row.grid_cells_compact), grid.POLYGON_RES)
    assert all(grid.unpack(c)[0] == grid.POLYGON_RES for c in cells)


def test_grid_stats_rollup(spark, warehouse_dir):
    """≙ mart.h3_stats contract (pipeline_runner.py:1144-1153)."""
    stats = wh.read_table(spark, warehouse_dir, "mart", wh.STATS_TABLE)
    assert {"grid_cell", "object_count", "dataset_count", "datasets",
            "klasser", "leverantorer", "cell_prefix"} <= set(stats.columns)
    assert stats.count() > 0
    multi = stats.filter(F.col("dataset_count") > 1).head()
    if multi:  # sorted lists
        assert list(multi.datasets) == sorted(multi.datasets)


def test_state_skip_and_force(spark, warehouse_dir):
    """≙ incremental skip (migrator.py:497-507)."""
    runner = PipelineRunner(spark, warehouse_dir)
    cfg = _memory_cfg(
        "naturminnen",
        fx.point_rows(),
        fx.POINT_SCHEMA,
        {"source_id_column": "$NVRID", "klass": "naturminne", "leverantor": "nvv"},
    )
    r = runner.run_dataset(cfg)
    assert r.status == "skipped", (r.status, r.error)
    # changed mapping -> checksum differs -> re-runs
    cfg2 = DatasetConfig(**{**cfg.__dict__, "field_mapping": {
        "source_id_column": "$NVRID", "klass": "x", "leverantor": "nvv"}})
    r2 = runner.run_dataset(cfg2)
    assert r2.status == "ok", (r2.status, r2.error)
    # restore original state for other tests
    r3 = runner.run_dataset(cfg, force=True)
    assert r3.status == "ok", (r3.status, r3.error)


def test_query_polygon_modes(spark, warehouse_dir):
    """≙ h3_query.py objects/stats/heatmap over a polygon covering a
    known fixture feature."""
    some = (
        wh.read_table(spark, warehouse_dir, "staging", "biotop")
        .select("_centroid_lat", "_centroid_lng")
        .head()
    )
    e, n = geo.wgs84_to_sweref99(some._centroid_lat, some._centroid_lng)
    d = 3000.0
    wkt = (
        f"POLYGON(({e-d} {n-d}, {e+d} {n-d}, {e+d} {n+d}, {e-d} {n+d}, {e-d} {n-d}))"
    )
    objects = query_polygon(spark, warehouse_dir, wkt, aggregation="objects")
    assert objects.count() >= 1
    assert {"id", "dataset_id", "klass", "leverantor", "query_cell"} <= set(objects.columns)

    stats = query_polygon(spark, warehouse_dir, wkt, aggregation="stats")
    srow = stats.head()
    assert srow.object_count >= 1

    heat = query_polygon(spark, warehouse_dir, wkt, aggregation="heatmap")
    assert heat.filter(F.col("object_count") > 0).count() >= 1
    # heatmap keeps empty cells (left join, ≙ J2)
    assert heat.count() >= heat.filter(F.col("object_count") > 0).count()

    filtered = query_polygon(
        spark, warehouse_dir, wkt, datasets=["does_not_exist"], aggregation="objects"
    )
    assert filtered.count() == 0


def test_exact_refine_mode(spark, warehouse_dir):
    some = (
        wh.read_table(spark, warehouse_dir, "staging", "biotop")
        .select("_centroid_lat", "_centroid_lng")
        .head()
    )
    e, n = geo.wgs84_to_sweref99(some._centroid_lat, some._centroid_lng)
    d = 3000.0
    wkt = f"POLYGON(({e-d} {n-d}, {e+d} {n-d}, {e+d} {n+d}, {e-d} {n+d}, {e-d} {n-d}))"
    loose = query_polygon(spark, warehouse_dir, wkt, aggregation="objects").count()
    exact = query_polygon(spark, warehouse_dir, wkt, aggregation="objects", exact=True).count()
    assert 0 < exact <= loose

    # geometry refine: joins candidate ids back to the objects table
    # and tests the STORED geometry's representative point (the
    # reference's staging-geometry two-phase, J4)
    geom_exact = query_polygon(
        spark, warehouse_dir, wkt, aggregation="objects", exact="geometry"
    )
    n_geom = geom_exact.count()
    assert 0 < n_geom <= loose
    # every surviving object's centerpoint must be inside the polygon
    objs = wh.objects_table(spark, warehouse_dir)
    ids = [r.id for r in geom_exact.select("id").distinct().collect()]
    poly = geo.from_wkt(wkt)
    for r in objs.filter(objs.id.isin(ids)).select("centerpoint").collect():
        pt = geo.from_wkb(bytes(r.centerpoint))
        assert geo.point_in_polygon(pt[1], poly)


def test_avdelning_numeric_pipeline(spark, tmp_path):
    """≙ aaa_avdelning numeric cleanup: round(TRY_CAST(...)) with
    unparseable values → NULL."""
    wdir = str(tmp_path / "wh2")
    runner = PipelineRunner(spark, wdir)
    cfg = _memory_cfg(
        "taktplan",
        fx.avdelning_rows(),
        fx.AVDELNING_SCHEMA,
        {
            "source_id_column": "$BETECKNING",
            "klass": "klass",
            "leverantor": "intern",
            "area": "$NETTOHA",
            "volym": "$M3FUB_HA",
        },
        pipeline="avdelning",
    )
    res = runner.run_dataset(cfg)
    assert res.status == "ok", res.error
    staged = wh.read_table(spark, wdir, "staging", "taktplan")
    normalized = __import__("g_etl_spark.stages", fromlist=["normalize"]).normalize(
        staged, cfg.field_mapping, {"area": 2, "volym": 0}
    )
    rows = normalized.select("source_id", "area", "volym").collect()
    unparseable = [r for r in rows if r.area is None]
    assert unparseable, "TRY_CAST should yield NULL for 'oklart' rows"
    parsed = [r for r in rows if r.area is not None]
    assert all(round(r.area, 2) == r.area for r in parsed)


def test_stats_partition_pruning(spark, warehouse_dir):
    """The materialized rollup is served with parquet PARTITION
    pruning: the plan's PartitionFilters must carry the cell_prefix
    predicate, and results must match the unpruned computation."""
    from g_etl_spark.query import query_stats_pruned

    some = (
        wh.read_table(spark, warehouse_dir, "staging", "biotop")
        .select("_centroid_lat", "_centroid_lng")
        .head()
    )
    e, n = geo.wgs84_to_sweref99(some._centroid_lat, some._centroid_lng)
    d = 3000.0
    wkt = f"POLYGON(({e-d} {n-d}, {e+d} {n-d}, {e+d} {n+d}, {e-d} {n+d}, {e-d} {n-d}))"
    pruned = query_stats_pruned(spark, warehouse_dir, wkt)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell_prefix" in pf_line and "[]" not in pf_line
    assert pruned.count() >= 1


def test_query_point_buffer(spark, warehouse_dir):
    """≙ the 5 km buffered-point example (examples:165-178)."""
    from g_etl_spark.query import query_point_buffer

    some = (
        wh.read_table(spark, warehouse_dir, "staging", "biotop")
        .select("_centroid_lat", "_centroid_lng")
        .head()
    )
    e, n = geo.wgs84_to_sweref99(some._centroid_lat, some._centroid_lng)
    res = query_point_buffer(spark, warehouse_dir, e, n, 5000.0, aggregation="stats")
    assert res.head().object_count >= 1


def test_buffer_geometries():
    from g_etl_spark.functions import geo as G

    circle = G.buffer_point((0.0, 0.0), 10.0)
    assert G.is_valid(circle)
    assert abs(G.area(circle) - 3.14159 * 100) / (3.14159 * 100) < 0.02
    assert G.point_in_polygon((5.0, 5.0), circle)
    assert not G.point_in_polygon((9.0, 9.0), circle)

    band = G.buffer_line([(0.0, 0.0), (100.0, 0.0)], 10.0)
    assert G.is_valid(band)
    assert G.point_in_polygon((50.0, 5.0), band)
    assert G.point_in_polygon((50.0, -9.0), band)
    assert not G.point_in_polygon((50.0, 20.0), band)


def test_admin_surface(spark, warehouse_dir, capsys):
    """The admin report surface (≙ the reference TUI's explorer /
    dashboard queries, src/g_etl/admin/screens/explorer.py:291-410)."""
    from g_etl_spark import admin

    inv = admin.warehouse_inventory(spark, warehouse_dir)
    by_key = {(e.schema, e.name): e for e in inv}
    assert ("staging", "biotop") in by_key
    assert by_key[("staging", "biotop")].has_geometry
    assert by_key[("mart", "biotop_grid")].rows > 0
    assert not by_key[("mart", "grid_stats")].has_geometry

    dtypes, n, sample = admin.table_info(spark, warehouse_dir, "mart", "biotop_grid")
    assert n == by_key[("mart", "biotop_grid")].rows
    assert dict(dtypes)["grid_cell"] == "bigint"
    assert 0 < len(sample) <= 10 and "grid_cell" in sample[0]

    report = admin.status_report(spark, warehouse_dir)
    assert "staging/biotop" in report and "grid index:" in report
    assert "applied datasets:" in report and "biotop" in report

    # CLI (reuses the active session via getOrCreate)
    assert admin.main(["--warehouse", warehouse_dir]) == 0
    out = capsys.readouterr().out
    assert "grid index:" in out
    assert admin.main(["--warehouse", warehouse_dir, "--table", "mart/biotop_grid"]) == 0
    assert "grid_cell" in capsys.readouterr().out


def test_compact_zorder_index_serves_polygon_path(spark, warehouse_dir):
    """The Z-ordered serving index (warehouse.compact_grid_index) on
    the REAL warehouse layout: query results identical to the union
    view, and the parquet footers actually prune — a polygon's cell
    range and a dataset filter each skip most files (VERDICT r2 next-
    round #6: the index IS the product, H3_POLYGON_ANALYSIS.md:301-321).
    """
    from g_etl_spark.operators import layout as L

    n_files = 16
    path = wh.compact_grid_index(spark, warehouse_dir, num_files=n_files)

    # same rows served through the compact layout
    some = (
        wh.read_table(spark, warehouse_dir, "staging", "biotop")
        .select("_centroid_lat", "_centroid_lng")
        .head()
    )
    e, n = geo.wgs84_to_sweref99(some._centroid_lat, some._centroid_lng)
    d = 3000.0
    wkt = f"POLYGON(({e-d} {n-d}, {e+d} {n-d}, {e+d} {n+d}, {e-d} {n+d}, {e-d} {n-d}))"
    base = query_polygon(spark, warehouse_dir, wkt, aggregation="objects")
    served = query_polygon(spark, warehouse_dir, wkt, aggregation="objects", compact=True)
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, served.collect()))

    stats = L.file_stats(path, ["grid_cell", "dataset_id"])
    assert len(stats) == n_files

    # dataset predicate: one of three datasets -> most files skipped
    ds_pruned = L.files_pruned_fraction(stats, {"dataset_id": ("naturminnen", "naturminnen")})
    assert ds_pruned >= 0.4, f"dataset_id pruning too weak: {ds_pruned}"

    # polygon cell-range predicate at the point index resolution: the
    # 6 km query box is a tiny id range next to the fixture bbox
    lat_lo, lng_lo = geo.sweref99_to_wgs84(e - d, n - d)
    lat_hi, lng_hi = geo.sweref99_to_wgs84(e + d, n + d)
    res = grid.POINT_RES
    c_lo = grid.latlng_to_cell(min(lat_lo, lat_hi), min(lng_lo, lng_hi), res)
    c_hi = grid.latlng_to_cell(max(lat_lo, lat_hi), max(lng_lo, lng_hi), res)
    box = (min(c_lo, c_hi), max(c_lo, c_hi))
    cell_pruned = L.files_pruned_fraction(stats, {"grid_cell": box})
    assert cell_pruned >= 0.5, f"grid_cell pruning too weak: {cell_pruned}"


def test_polygon_server_prepared_plans(spark, warehouse_dir):
    """PolygonServer must return the same rows as query_polygon, reuse
    the prepared DataFrame across identical calls (plan-identity, the
    execution-only warm path), keep the session confs untouched, and
    drop plans on invalidate()."""
    from g_etl_spark.query import PolygonServer

    some = (
        wh.read_table(spark, warehouse_dir, "staging", "biotop")
        .select("_centroid_lat", "_centroid_lng")
        .head()
    )
    e, n = geo.wgs84_to_sweref99(some._centroid_lat, some._centroid_lng)
    d = 3000.0
    wkt = f"POLYGON(({e-d} {n-d}, {e+d} {n-d}, {e+d} {n+d}, {e-d} {n+d}, {e-d} {n-d}))"

    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    srv = PolygonServer(spark, warehouse_dir)

    served = srv.query(wkt, aggregation="objects")
    direct = query_polygon(spark, warehouse_dir, wkt, aggregation="objects")
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, direct.collect()))
    # session confs restored after plan build
    assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts

    # identical call -> the SAME prepared DataFrame (no re-analysis)
    assert srv.query(wkt, aggregation="objects") is served
    # different parameters -> a different plan
    assert srv.query(wkt, aggregation="stats") is not served
    # serving confs are baked into the prepared plan: the distinct's
    # exchange hashes into ONE partition, not the session's 32
    assert "hashpartitioning" in served._jdf.queryExecution().executedPlan().toString().lower()
    assert served.rdd.getNumPartitions() == 1

    srv.invalidate()
    assert srv.query(wkt, aggregation="objects") is not served

    # LRU bound: max_plans=2 evicts the oldest prepared plan
    small = PolygonServer(spark, warehouse_dir, max_plans=2)
    a = small.query(wkt, aggregation="objects")
    small.query(wkt, aggregation="stats")
    small.query(wkt, aggregation="heatmap")
    assert small.query(wkt, aggregation="objects") is not a


def test_scoped_confs_restores_set_and_unset_keys(spark):
    """scoped_confs gives a key that was set its old value back and
    unsets a key that was unset, on a normal exit and when the body
    raises."""
    from g_etl_spark.session import scoped_confs

    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.g_etl_spark.test.scoped"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    confs = {set_key: "3", unset_key: "on"}

    with scoped_confs(spark, confs):
        assert spark.conf.get(set_key) == "3"
        assert spark.conf.get(unset_key) == "on"
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_confs(spark, confs):
            assert spark.conf.get(unset_key) == "on"
            raise RuntimeError("body failed")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None
