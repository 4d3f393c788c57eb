"""Real-H3 cell index adapter — the same surface as ``functions/grid``
backed by the `h3` library (≙ the reference's actual cell system,
sql/migrations/003_db_makros.sql:56-92, docs/H3_POLYGON_ANALYSIS.md).

The engine's pipeline/stages/query layers are index-agnostic: they
consume the provider surface below (resolution constants +
latlng_to_cell / polyfill / compact_cells / grid_disk_py /
cell_to_boundary_wkt ...). The default provider is the quadtree
(`functions/grid`) because it is pure JVM-side arithmetic; this
adapter swaps in genuine H3 hexagons when the `h3` lib exists —
select it per dataset with ``options.cell_index: h3`` (see
functions/cellindex.py).

**Cell-ID compatibility caveat**: the quadtree and H3 are different
cell SYSTEMS. Cell ids, boundaries, areas, and k-ring adjacency all
differ — a warehouse indexed with one cannot be queried with the
other; re-run the indexing stages after switching. Against the
reference warehouse, only this H3 provider yields byte-identical cell
ids (the reference stores H3 STRING ids; this engine stores the int64
form — convert with ``cell_str_py``/``h3.str_to_int`` at the border).

The `h3` lib is absent from this container, so construction is gated
through ``_load_h3()`` (tests inject a fake); both the v4
(latlng_to_cell / h3shape_to_cells / grid_disk) and v3 (geo_to_h3 /
polyfill / k_ring) APIs are supported.

Scale note: unlike the quadtree's codegen arithmetic, H3 cell math is
Python — the provider runs inside the SAME Arrow-batched pandas UDFs
(geo_udfs.make_cell_udfs), so cost is one Python round-trip per batch,
not per row; identical plumbing, heavier per-batch CPU.
"""

from __future__ import annotations

from typing import Iterable, Sequence


def _load_h3():
    """Import hook — patched/injected by tests (h3 absent here)."""
    import h3  # pragma: no cover - lib absent in this container

    return h3  # pragma: no cover


class H3Index:
    """Provider object (pickles by value into UDF closures, carrying
    an injected fake along to executors when testing)."""

    # Reference defaults (settings.py:82-86): centerpoint res 13,
    # polygon res 11, line res 12; res 8 for rollup/query stats.
    CENTERPOINT_RES = 13
    POLYGON_RES = 11
    LINE_RES = 12
    POINT_RES = 13
    QUERY_RES = 8

    def __init__(self, h3mod=None):
        self._h3 = h3mod if h3mod is not None else _load_h3()

    # -- id forms ----------------------------------------------------------
    def _to_int(self, h) -> int:
        if isinstance(h, int):
            return h
        h3 = self._h3
        if hasattr(h3, "str_to_int"):
            return h3.str_to_int(h)
        return int(h, 16)

    def _to_str(self, c) -> str:
        if isinstance(c, str):
            return c
        h3 = self._h3
        if hasattr(h3, "int_to_str"):
            return h3.int_to_str(c)
        return format(c, "x")

    def cell_str_py(self, c: int) -> str:
        """H3 string id (the form the reference warehouse stores)."""
        return self._to_str(c)

    # -- core ops ----------------------------------------------------------
    def latlng_to_cell(self, lat: float, lng: float, res: int) -> int:
        h3 = self._h3
        fn = getattr(h3, "latlng_to_cell", None) or getattr(h3, "geo_to_h3")
        return self._to_int(fn(lat, lng, res))

    def cell_to_latlng(self, c: int) -> tuple[float, float]:
        h3 = self._h3
        fn = getattr(h3, "cell_to_latlng", None) or getattr(h3, "h3_to_geo")
        return tuple(fn(self._to_str(c)))

    def cell_res(self, c: int) -> int:
        h3 = self._h3
        fn = getattr(h3, "get_resolution", None) or getattr(h3, "h3_get_resolution")
        return fn(self._to_str(c))

    def cell_parent_py(self, c: int, steps: int = 1) -> int:
        h3 = self._h3
        fn = getattr(h3, "cell_to_parent", None) or getattr(h3, "h3_to_parent")
        return self._to_int(fn(self._to_str(c), self.cell_res(c) - steps))

    def cell_to_boundary_wkt(self, c: int) -> str:
        """≙ h3_cell_to_boundary_wkt (003:87-92): closed POLYGON WKT,
        coordinates in lng-lat order."""
        h3 = self._h3
        fn = getattr(h3, "cell_to_boundary", None) or getattr(h3, "h3_to_geo_boundary")
        ring = [(lng, lat) for lat, lng in fn(self._to_str(c))]
        if ring[0] != ring[-1]:
            ring.append(ring[0])
        coords = ", ".join(f"{lng:.9f} {lat:.9f}" for lng, lat in ring)
        return f"POLYGON (({coords}))"

    def polyfill(self, ring: Sequence[tuple[float, float]], res: int) -> list[int]:
        """≙ h3_polygon_wkt_to_cells_string (003:64-68): center-
        containment polyfill. ``ring`` is [(lng, lat), ...] — the
        engine-wide convention (grid.polyfill)."""
        h3 = self._h3
        if hasattr(h3, "h3shape_to_cells"):  # v4
            poly = h3.LatLngPoly([(lat, lng) for lng, lat in ring])
            cells = h3.h3shape_to_cells(poly, res)
        elif hasattr(h3, "polyfill"):  # v3
            coords = [[lng, lat] for lng, lat in ring]
            cells = h3.polyfill(
                {"type": "Polygon", "coordinates": [coords]}, res, geo_json=True
            )
        else:
            raise AttributeError("h3 module exposes neither h3shape_to_cells nor polyfill")
        return sorted(self._to_int(c) for c in cells)

    def grid_disk_py(self, c: int, k: int = 1) -> list[int]:
        """Cells within grid distance k, center included — ≙ grid_disk
        (v4) / k_ring (v3); the quadtree analogue is the Chebyshev
        k-neighborhood."""
        h3 = self._h3
        fn = getattr(h3, "grid_disk", None) or getattr(h3, "k_ring")
        return sorted(self._to_int(x) for x in fn(self._to_str(c), k))

    def compact_cells(self, cells: Iterable[int]) -> list[int]:
        h3 = self._h3
        fn = getattr(h3, "compact_cells", None) or getattr(h3, "compact")
        return sorted(self._to_int(x) for x in fn([self._to_str(c) for c in cells]))

    def uncompact_cells(self, cells: Iterable[int], res: int) -> list[int]:
        h3 = self._h3
        fn = getattr(h3, "uncompact_cells", None) or getattr(h3, "uncompact")
        return sorted(self._to_int(x) for x in fn([self._to_str(c) for c in cells], res))
