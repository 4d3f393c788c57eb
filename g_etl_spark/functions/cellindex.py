"""Cell-index provider selection.

The indexing stages (stages.staging_transform / compact_cells_stage)
and the UDF factory (geo_udfs.make_cell_udfs) accept any provider
exposing the surface documented in functions/h3_adapter.H3Index:

    CENTERPOINT_RES POLYGON_RES LINE_RES POINT_RES QUERY_RES
    latlng_to_cell(lat, lng, res) -> int
    cell_to_latlng(c) / cell_to_boundary_wkt(c) / cell_str_py(c)
    polyfill(ring, res) / compact_cells(cells) / grid_disk_py(c, k)

Providers:
- ``quadtree`` (default): functions/grid — pure Spark-SQL arithmetic
  for the per-point path, Python only for polyfill/compact.
- ``h3``: functions/h3_adapter — genuine H3 hexagons (requires the
  `h3` lib; ids are NOT interchangeable with quadtree ids — reindex
  when switching).

Select per dataset via ``options.cell_index`` in datasets.yml; a
dataset without it is indexed with the quadtree.
"""

from __future__ import annotations


def get_index(name=None):
    """Resolve a provider: None/str name → provider object (None means
    the quadtree); anything else is assumed to already BE a provider
    and passed through."""
    if name is not None and not isinstance(name, str):
        return name
    name = name or "quadtree"
    if name == "quadtree":
        from g_etl_spark.functions import grid

        return grid
    if name == "h3":
        from g_etl_spark.functions.h3_adapter import H3Index

        return H3Index()
    raise ValueError(f"unknown cell index {name!r} (quadtree|h3)")
