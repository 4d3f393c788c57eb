"""H3 adapter contract tests.

The `h3` lib is absent in this container, so these tests inject a
fake implementing the h3 v4 API surface (latlng_to_cell /
h3shape_to_cells / grid_disk / compact_cells / str_to_int ...),
internally backed by the quadtree math so results are deterministic
and checkable. The point is the CONTRACT: the adapter + UDF factory +
stage chain must run end-to-end against any provider, and the fake's
call log proves the adapter drives the real h3 entry points.
"""

from __future__ import annotations

from types import SimpleNamespace

import pyspark.sql.functions as F
import pytest

from g_etl_spark import stages
from g_etl_spark.functions import grid
from g_etl_spark.functions.cellindex import get_index
from g_etl_spark.functions.h3_adapter import H3Index


def make_fake_h3():
    """A v4-API-shaped h3 built on quadtree math. Functions are
    nested (not module-level) so cloudpickle ships them by VALUE into
    executor processes — exactly how a test double must travel."""
    calls = []

    def _s(c):
        return format(c, "x")

    def _i(h):
        return int(h, 16)

    def latlng_to_cell(lat, lng, res):
        calls.append("latlng_to_cell")
        return _s(grid.latlng_to_cell(lat, lng, res))

    def str_to_int(h):
        return _i(h)

    def int_to_str(c):
        return _s(c)

    def cell_to_latlng(h):
        return grid.cell_to_latlng(_i(h))

    def get_resolution(h):
        return grid.unpack(_i(h))[0]

    def cell_to_parent(h, res):
        r, x, y = grid.unpack(_i(h))
        return _s(grid.pack(res, x >> (r - res), y >> (r - res)))

    def cell_to_boundary(h):
        lat_min, lat_max, lng_min, lng_max = grid.cell_to_bounds(_i(h))
        return (
            (lat_min, lng_min),
            (lat_min, lng_max),
            (lat_max, lng_max),
            (lat_max, lng_min),
        )

    class LatLngPoly:
        def __init__(self, outer, *holes):
            self.outer = list(outer)

    def h3shape_to_cells(poly, res):
        calls.append("h3shape_to_cells")
        ring = [(lng, lat) for lat, lng in poly.outer]
        return [_s(c) for c in grid.polyfill(ring, res)]

    def grid_disk(h, k):
        calls.append("grid_disk")
        return [_s(c) for c in grid.grid_disk_py(_i(h), k)]

    def compact_cells(hs):
        calls.append("compact_cells")
        return [_s(c) for c in grid.compact_cells(_i(h) for h in hs)]

    def uncompact_cells(hs, res):
        return [_s(c) for c in grid.uncompact_cells([_i(h) for h in hs], res)]

    fake = SimpleNamespace(
        latlng_to_cell=latlng_to_cell,
        str_to_int=str_to_int,
        int_to_str=int_to_str,
        cell_to_latlng=cell_to_latlng,
        get_resolution=get_resolution,
        cell_to_parent=cell_to_parent,
        cell_to_boundary=cell_to_boundary,
        LatLngPoly=LatLngPoly,
        h3shape_to_cells=h3shape_to_cells,
        grid_disk=grid_disk,
        compact_cells=compact_cells,
        uncompact_cells=uncompact_cells,
    )
    return fake, calls


def test_adapter_surface_matches_grid_provider():
    """Every provider-surface name the stages/UDFs consume must exist
    on BOTH providers with the same meaning."""
    surface = [
        "CENTERPOINT_RES", "POLYGON_RES", "LINE_RES", "POINT_RES", "QUERY_RES",
        "latlng_to_cell", "cell_to_latlng", "cell_to_boundary_wkt",
        "polyfill", "compact_cells", "uncompact_cells", "grid_disk_py",
        "cell_parent_py", "cell_str_py",
    ]
    fake, _ = make_fake_h3()
    idx = H3Index(fake)
    for name in surface:
        assert hasattr(grid, name), f"quadtree provider lacks {name}"
        assert hasattr(idx, name), f"h3 adapter lacks {name}"


def test_adapter_core_ops_roundtrip():
    fake, calls = make_fake_h3()
    idx = H3Index(fake)
    c = idx.latlng_to_cell(59.33, 18.07, idx.POINT_RES)
    assert isinstance(c, int)
    lat, lng = idx.cell_to_latlng(c)
    assert abs(lat - 59.33) < 0.1 and abs(lng - 18.07) < 0.1
    assert idx.cell_res(c) == idx.POINT_RES
    p = idx.cell_parent_py(c, 1)
    assert idx.cell_res(p) == idx.POINT_RES - 1
    wkt = idx.cell_to_boundary_wkt(c)
    assert wkt.startswith("POLYGON ((") and wkt.count(",") == 4  # closed 5-pt ring
    disk = idx.grid_disk_py(c, 1)
    assert c in disk and len(disk) == 9
    ring = [(18.0, 59.3), (18.1, 59.3), (18.1, 59.4), (18.0, 59.4), (18.0, 59.3)]
    cells = idx.polyfill(ring, 12)
    assert cells and all(isinstance(x, int) for x in cells)
    compacted = idx.compact_cells(idx.uncompact_cells([p], idx.POINT_RES))
    assert compacted == [p]
    assert "latlng_to_cell" in calls and "h3shape_to_cells" in calls


def test_v3_api_fallback():
    """Same contract through the v3 names (geo_to_h3/polyfill/k_ring)."""
    fake, _ = make_fake_h3()
    v3 = SimpleNamespace(
        geo_to_h3=fake.latlng_to_cell,
        h3_to_geo=fake.cell_to_latlng,
        h3_get_resolution=fake.get_resolution,
        h3_to_parent=fake.cell_to_parent,
        h3_to_geo_boundary=fake.cell_to_boundary,
        polyfill=lambda gj, res, geo_json: [
            format(c, "x")
            for c in grid.polyfill([tuple(p) for p in gj["coordinates"][0]], res)
        ],
        k_ring=fake.grid_disk,
        compact=fake.compact_cells,
        uncompact=fake.uncompact_cells,
    )
    idx = H3Index(v3)
    c = idx.latlng_to_cell(59.33, 18.07, 13)
    assert idx.cell_res(c) == 13
    assert c in idx.grid_disk_py(c, 1)
    assert idx.polyfill([(18.0, 59.3), (18.1, 59.3), (18.1, 59.4), (18.0, 59.3)], 12)


def test_stage_chain_with_h3_provider(spark):
    """The full indexing chain (staging_transform → normalize →
    explode_cells + compact stage) runs unchanged against the H3
    provider — the index-agnostic contract the reference parity
    depends on. The provider object (carrying the fake h3) must
    survive the trip into executor Python workers."""
    from tests import conftest as fx

    fake, _ = make_fake_h3()
    idx = H3Index(fake)

    raw = spark.createDataFrame(fx.point_rows(12), fx.POINT_SCHEMA)
    raw = stages.normalize_geometry_column(raw)
    staged = stages.staging_transform(raw, index=idx)
    normalized = stages.normalize(
        staged,
        {"source_id_column": "$NVRID", "klass": "naturminne", "leverantor": "nvv"},
    )
    exploded = stages.explode_cells(normalized)
    rows = exploded.select("id", "grid_cell").collect()
    assert len(rows) == 12  # one cell per point
    # cells are H3-provider ids at the H3 POINT_RES (13), not the
    # quadtree POINT_RES (22)
    for r in rows:
        assert grid.unpack(r.grid_cell)[0] == idx.POINT_RES

    compact = stages.compact_cells_stage(
        normalized.select("id", "source_id", "klass", "leverantor", "grid_cells"),
        index=idx,
    )
    crows = compact.collect()
    assert len(crows) == 12 and all(len(r.grid_cells_compact) == 1 for r in crows)


def test_get_index_resolution():
    assert get_index() is grid
    assert get_index("quadtree") is grid
    fake, _ = make_fake_h3()
    obj = H3Index(fake)
    assert get_index(obj) is obj  # passthrough
    with pytest.raises(ValueError):
        get_index("voronoi")


def test_h3_index_requires_lib_without_injection():
    with pytest.raises(ImportError):
        H3Index()
