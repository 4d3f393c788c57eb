"""Grid-index query family — the reference's H3 workflow (SURVEY §2.4,
§2.5 A4, §3.2) on the driver testdata.

The testdata has no geometry columns, so point locations are derived
deterministically from `events` keys (pure arithmetic, identical in
both engines; the prime multipliers spread points over the full bbox
at every scale factor):

    lat = 55.0 + ((event_id * 7919) % 1000) * 0.01    ∈ [55, 65)
    lng = 11.0 + ((event_id * 104729) % 1200) * 0.01  ∈ [11, 23)

Everything in the hot path (cell assignment, joins, aggregation) is
built-in SQL — `.explain()` shows a single WholeStageCodegen span up
to the exchange for each query here.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from g_etl_spark.functions import grid
from g_etl_spark.queries import register
from g_etl_spark.tables import load

LAT_SQL = "(55.0 + ((event_id * 7919) % 1000) * 0.01)"
LNG_SQL = "(11.0 + ((event_id * 104729) % 1200) * 0.01)"

# Query polygon: a rectangle over southern Sweden (lng 13..17, lat 57..60),
# polyfilled at res 10 -> ~a hundred cells, the reference's query shape
# (2x2 km polygon at res 8, h3_query.py:18-95) scaled to the synthetic bbox.
QUERY_RING = [(13.0, 57.0), (17.0, 57.0), (17.0, 60.0), (13.0, 60.0), (13.0, 57.0)]
QUERY_POLY_RES = 10


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + derived (lat, lng) point columns."""
    e = load(spark, sf_dir, "events")
    return e.withColumns(
        {
            "lat": F.lit(55.0) + ((F.col("event_id") * 7919) % 1000) * F.lit(0.01),
            "lng": F.lit(11.0) + ((F.col("event_id") * 104729) % 1200) * F.lit(0.01),
        }
    )


def _query_cells_df(spark: SparkSession) -> DataFrame:
    """Driver-side polyfill of the query polygon (SURVEY §3.2: one
    polygon → small cell relation → broadcast)."""
    cells = grid.polyfill(QUERY_RING, QUERY_POLY_RES)
    return spark.createDataFrame([(c,) for c in cells], "q_cell bigint")


def _query_cells_sql_values() -> str:
    cells = grid.polyfill(QUERY_RING, QUERY_POLY_RES)
    return ", ".join(f"({c})" for c in cells)


@register(
    "q20_grid_index",
    oracle=f"""
    SELECT {grid.cell_sql(LAT_SQL, LNG_SQL, grid.QUERY_RES)} AS cell_id,
           count(*) AS n
    FROM events
    GROUP BY 1
    HAVING count(*) >= 3
    ORDER BY n DESC, cell_id
    LIMIT 50
    """,
)
def q20_grid_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point → grid-cell indexing (≙ g_h3_center ingest indexing,
    004_staging_transform_template.sql:50-58) + per-cell counts.

    Scale: the cell expression is floor/shift arithmetic inside
    codegen; the groupBy is partial-agg friendly. At 100 TB this is a
    single scan + one exchange on a well-distributed long key.
    """
    pts = _points(spark, sf_dir)
    return (
        pts.select(grid.cell(F.col("lat"), F.col("lng"), grid.QUERY_RES).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .orderBy(F.desc("n"), F.asc("cell_id"))
        .limit(50)
    )


@register(
    "q21_grid_polygon_objects",
    oracle=f"""
    WITH query_cells(q_cell) AS (VALUES {_query_cells_sql_values()}),
    indexed AS (
        SELECT event_id, user_id, event_type,
               {grid.cell_sql(LAT_SQL, LNG_SQL, QUERY_POLY_RES)} AS cell_id
        FROM events
    )
    SELECT DISTINCT event_id, user_id, event_type, cell_id
    FROM indexed
    JOIN query_cells ON cell_id = q_cell
    ORDER BY event_id
    """,
)
def q21_grid_polygon_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The workhorse: polygon → polyfill → broadcast equi-join →
    DISTINCT objects (reference J1 + A5, h3_query.py:105-119; "objects"
    aggregation mode).

    Scale: the polyfilled side is tiny and explicitly broadcast — the
    indexed fact side never shuffles for the join; DISTINCT is the
    only exchange. This is the 10-100× trick (H3_POLYGON_ANALYSIS.md:7)
    expressed in Spark.
    """
    pts = _points(spark, sf_dir)
    indexed = pts.select(
        "event_id",
        "user_id",
        "event_type",
        grid.cell(F.col("lat"), F.col("lng"), QUERY_POLY_RES).alias("cell_id"),
    )
    qc = _query_cells_df(spark)
    return (
        indexed.join(F.broadcast(qc), indexed.cell_id == qc.q_cell, "inner")
        .select("event_id", "user_id", "event_type", "cell_id")
        .distinct()
        .orderBy("event_id")
    )


@register(
    "q22_grid_stats",
    oracle=f"""
    SELECT {grid.cell_sql(LAT_SQL, LNG_SQL, grid.QUERY_RES)} AS cell_id,
           count(*)                                               AS object_count,
           count(DISTINCT event_type)                             AS dataset_count,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS datasets
    FROM events
    GROUP BY 1
    HAVING count(*) >= 5
    ORDER BY object_count DESC, cell_id
    LIMIT 100
    """,
)
def q22_grid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The h3_stats pre-aggregation rollup (reference A4,
    pipeline_runner.py:1144-1153): per cell, object count, distinct
    source count, sorted source list.

    Scale: this is the materialized rollup the warehouse keeps; at
    100 TB write it partitioned by cell-prefix (warehouse.py) so
    polygon queries prune partitions.
    """
    pts = _points(spark, sf_dir)
    return (
        pts.select(
            grid.cell(F.col("lat"), F.col("lng"), grid.QUERY_RES).alias("cell_id"),
            "event_type",
        )
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("object_count"),
            F.countDistinct("event_type").alias("dataset_count"),
            F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("datasets"),
        )
        .filter(F.col("object_count") >= 5)
        .orderBy(F.desc("object_count"), F.asc("cell_id"))
        .limit(100)
    )


@register(
    "q23_grid_heatmap",
    oracle=f"""
    WITH query_cells(q_cell) AS (VALUES {_query_cells_sql_values()}),
    stats AS (
        SELECT {grid.cell_sql(LAT_SQL, LNG_SQL, QUERY_POLY_RES)} AS cell_id,
               count(*) AS object_count
        FROM events
        GROUP BY 1
    )
    SELECT q_cell AS cell_id,
           coalesce(object_count, 0) AS object_count
    FROM query_cells
    LEFT JOIN stats ON cell_id = q_cell
    ORDER BY q_cell
    """,
)
def q23_grid_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heatmap mode: query cells LEFT JOIN stats, keeping empty cells
    (reference J2, h3_query.py:154-171 / examples:99-100).

    Scale: left side is the tiny polyfill; stats side is the
    pre-aggregated rollup — the join is a broadcast of the cells into
    the rollup scan.
    """
    pts = _points(spark, sf_dir)
    stats = (
        pts.select(grid.cell(F.col("lat"), F.col("lng"), QUERY_POLY_RES).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("object_count"))
    )
    qc = _query_cells_df(spark)
    return (
        qc.join(stats, qc.q_cell == stats.cell_id, "left")
        .select(
            F.col("q_cell").alias("cell_id"),
            F.coalesce(F.col("object_count"), F.lit(0)).alias("object_count"),
        )
        .orderBy("cell_id")
    )


@register(
    "q24_grid_parent_rollup",
    oracle=f"""
    WITH fine AS (
        SELECT {grid.cell_sql(LAT_SQL, LNG_SQL, 14)} AS cell_id,
               count(*) AS n
        FROM events
        GROUP BY 1
    )
    SELECT ((CAST(12 AS BIGINT) << {grid.RES_SHIFT})
            | (((cell_id >> {grid.X_SHIFT}) & {(1 << 29) - 1}) >> 2 << {grid.X_SHIFT})
            | ((cell_id & {(1 << 29) - 1}) >> 2)) AS parent_cell,
           CAST(sum(n) AS BIGINT) AS n,
           count(*)               AS n_children
    FROM fine
    GROUP BY 1
    ORDER BY n DESC, parent_cell
    LIMIT 50
    """,
)
def q24_grid_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: fine cells → parent cells two levels up
    (the algebra behind h3_compact_cells, aab_ext_restr/003:10-16 —
    full per-feature compaction lives in stages.compact_cells with a
    unit-tested invariant).

    Scale: re-aggregation from a finer rollup instead of the raw
    table — the standard cheap path for multi-resolution serving.
    """
    pts = _points(spark, sf_dir)
    fine = (
        pts.select(grid.cell(F.col("lat"), F.col("lng"), 14).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        fine.groupBy(grid.cell_parent(F.col("cell_id"), 2).alias("parent_cell"))
        .agg(F.sum("n").alias("n"), F.count(F.lit(1)).alias("n_children"))
        .orderBy(F.desc("n"), F.asc("parent_cell"))
        .limit(50)
    )


@register(
    "q25_staging_point_metadata",
    oracle=f"""
    SELECT event_id,
           'POINT (' || printf('%.6f', {LNG_SQL}) || ' ' || printf('%.6f', {LAT_SQL}) || ')' AS geom_wkt,
           md5('POINT (' || printf('%.6f', {LNG_SQL}) || ' ' || printf('%.6f', {LAT_SQL}) || ')') AS geom_md5,
           md5(concat_ws('|', CAST(event_id AS VARCHAR), event_type,
                         CAST(user_id AS VARCHAR)))                  AS attr_md5,
           round({LAT_SQL}, 6)                                       AS centroid_lat,
           round({LNG_SQL}, 6)                                       AS centroid_lng,
           {grid.cell_sql(LAT_SQL, LNG_SQL, 22)}                     AS point_cell
    FROM events
    WHERE event_id < 200
    ORDER BY event_id
    """,
)
def q25_staging_point_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staging-transform metadata block (004:35-58) as a declared
    oracle query over point features: WKT serialization, `_geom_md5 =
    MD5(ST_AsText(geom))`, `_attr_md5`, centroid lat/lng, and the
    point-branch cell dispatch — the SQL-expressible core of P5/P6/P7
    (`_imported_at` excluded as nondeterministic, SURVEY §7 #1). The
    WKB/pandas-UDF variant of the same block is covered by the e2e
    pipeline tests."""
    pts = _points(spark, sf_dir)
    wkt = F.concat(
        F.lit("POINT ("),
        F.format_string("%.6f", F.col("lng")),
        F.lit(" "),
        F.format_string("%.6f", F.col("lat")),
        F.lit(")"),
    )
    return (
        pts.filter(F.col("event_id") < 200)
        .select(
            "event_id",
            wkt.alias("geom_wkt"),
            F.md5(wkt).alias("geom_md5"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("event_id").cast("string"),
                    "event_type",
                    F.col("user_id").cast("string"),
                )
            ).alias("attr_md5"),
            F.round("lat", 6).alias("centroid_lat"),
            F.round("lng", 6).alias("centroid_lng"),
            grid.cell(F.col("lat"), F.col("lng"), 22).alias("point_cell"),
        )
        .orderBy("event_id")
    )


# Multi-area query input (≙ reference multi-polygon queries,
# sql/examples/h3_polygon_queries.sql:135-148)
MULTI_RINGS = [
    [(12.0, 56.0), (13.5, 56.0), (13.5, 57.5), (12.0, 57.5), (12.0, 56.0)],
    [(19.0, 62.0), (21.0, 62.0), (21.0, 63.5), (19.0, 63.5), (19.0, 62.0)],
]


def _multi_cells_sql_values() -> str:
    cells = sorted({c for ring in MULTI_RINGS for c in grid.polyfill(ring, QUERY_POLY_RES)})
    return ", ".join(f"({c})" for c in cells)


@register(
    "q26_grid_multipolygon",
    oracle=f"""
    WITH query_cells(q_cell) AS (VALUES {_multi_cells_sql_values()}),
    indexed AS (
        SELECT event_type,
               {grid.cell_sql(LAT_SQL, LNG_SQL, QUERY_POLY_RES)} AS cell_id
        FROM events
    )
    SELECT event_type,
           count(*)                 AS object_count,
           count(DISTINCT cell_id)  AS cell_count
    FROM indexed
    JOIN query_cells ON cell_id = q_cell
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q26_grid_multipolygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-area query: two disjoint polygons polyfilled into ONE
    broadcast cell relation (≙ examples:135-148 UNION of query
    polygons) — the plan is identical to single-polygon, just more
    broadcast rows."""
    cells = sorted(
        {c for ring in MULTI_RINGS for c in grid.polyfill(ring, QUERY_POLY_RES)}
    )
    qc = spark.createDataFrame([(c,) for c in cells], "q_cell bigint")
    pts = _points(spark, sf_dir)
    indexed = pts.select(
        "event_type",
        grid.cell(F.col("lat"), F.col("lng"), QUERY_POLY_RES).alias("cell_id"),
    )
    return (
        indexed.join(F.broadcast(qc), indexed.cell_id == qc.q_cell, "inner")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("object_count"),
            F.countDistinct("cell_id").alias("cell_count"),
        )
        .orderBy("event_type")
    )


_HAVERSINE_SQL = f"""
    round(2.0 * 6371000.0 * asin(sqrt(
        pow(sin(radians(({LAT_SQL} - 57.7) / 2)), 2)
        + cos(radians(57.7)) * cos(radians({LAT_SQL}))
          * pow(sin(radians(({LNG_SQL} - 12.0) / 2)), 2)
    )), 1)
"""


@register(
    "q144_knn_haversine",
    oracle=f"""
    SELECT event_id, event_type, {_HAVERSINE_SQL} AS dist_m
    FROM events
    ORDER BY {_HAVERSINE_SQL}, event_id
    LIMIT 20
    """,
)
def q144_knn_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial k-nearest-neighbours: the 20 events closest to a query
    point (57.7, 12.0) by great-circle (haversine) distance — the
    "what's near me" lookup every geo engine serves alongside the
    polygon query (reference §2.7 spatial family; its DuckDB macros
    lean on H3 ring search for the same need).

    The ordering key is the metre-quantized distance (round 1) with
    event_id tiebreak — both engines' libm sin/asin agree far below
    0.1 m at city scale, so the top-k can't flip on an ulp (q102's
    rule).

    Scale: the brute form is one scan + TakeOrdered (per-partition
    heaps, no shuffle). The 100 TB path prunes the scan FIRST with
    the grid index: polyfill an expanding ring of cells around the
    query point (q21's broadcast cell join) and only haversine the
    candidates — same two-phase refine as the polygon family
    (query.py J4); the brute form stays as the oracle-checked
    baseline exactly like q54 vs q61.
    """
    pts = _points(spark, sf_dir)
    dlat = F.radians((F.col("lat") - F.lit(57.7)) / 2)
    dlng = F.radians((F.col("lng") - F.lit(12.0)) / 2)
    h = (
        F.pow(F.sin(dlat), 2)
        + F.cos(F.radians(F.lit(57.7)))
        * F.cos(F.radians(F.col("lat")))
        * F.pow(F.sin(dlng), 2)
    )
    dist = F.round(2.0 * 6371000.0 * F.asin(F.sqrt(h)), 1)
    return (
        pts.select("event_id", "event_type", dist.alias("dist_m"))
        .orderBy("dist_m", "event_id")
        .limit(20)
    )


_POIS = [(1, 57.7, 12.0), (2, 59.3, 18.1), (3, 55.6, 13.0),
         (4, 63.8, 20.3), (5, 58.6, 16.2)]


@register(
    "q145_nearest_event_per_poi",
    oracle=f"""
    WITH pois(poi_id, plat, plng) AS (VALUES
        {', '.join(f'({i}, {la}, {lo})' for i, la, lo in _POIS)}
    ),
    scored AS (
        SELECT p.poi_id, e.event_id,
               round(2.0 * 6371000.0 * asin(sqrt(
                   pow(sin(radians(({LAT_SQL} - p.plat) / 2)), 2)
                   + cos(radians(p.plat)) * cos(radians({LAT_SQL}))
                     * pow(sin(radians(({LNG_SQL} - p.plng) / 2)), 2)
               )), 1) AS dist_m
        FROM events e, pois p
    ),
    ranked AS (
        SELECT poi_id, event_id, dist_m,
               row_number() OVER (PARTITION BY poi_id
                                  ORDER BY dist_m, event_id) AS rn
        FROM scored
    )
    SELECT poi_id, event_id AS nearest_event, dist_m
    FROM ranked WHERE rn = 1
    ORDER BY poi_id
    """,
)
def q145_nearest_event_per_poi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbour JOIN: for each point of interest, the single
    closest event — the spatial argmin-per-key shape (store
    locator / facility assignment), distinct from q144's single-point
    top-k. Ties break on event_id via the composite min key in both
    engines.

    Scale: the POI table broadcasts (k rows) onto the point scan —
    k haversines per row map-side, then a partial-agg min per POI:
    no fact-side shuffle at any k that fits a broadcast, which is
    the same plan shape as the centroid assignment (q97). At large
    k the grid index turns this into a cell equi-join (assign each
    POI its covering cells, q21's path).
    """
    pts = _points(spark, sf_dir)
    pois = F.broadcast(
        pts.sparkSession.createDataFrame(
            _POIS, "poi_id int, plat double, plng double"
        )
    )
    j = pts.crossJoin(pois)
    dlat = F.radians((F.col("lat") - F.col("plat")) / 2)
    dlng = F.radians((F.col("lng") - F.col("plng")) / 2)
    h = (
        F.pow(F.sin(dlat), 2)
        + F.cos(F.radians(F.col("plat")))
        * F.cos(F.radians(F.col("lat")))
        * F.pow(F.sin(dlng), 2)
    )
    dist = F.round(2.0 * 6371000.0 * F.asin(F.sqrt(h)), 1)
    scored = j.select(
        "poi_id", "event_id", dist.alias("dist_m")
    )
    best = scored.groupBy("poi_id").agg(
        F.min(
            F.struct(F.col("dist_m"), F.col("event_id").alias("eid"))
        ).alias("b")
    )
    return best.select(
        "poi_id",
        F.col("b.eid").alias("nearest_event"),
        F.col("b.dist_m").alias("dist_m"),
    ).orderBy("poi_id")


def _hotspot_adjacency_edges(dense: DataFrame) -> DataFrame:
    """8-neighborhood adjacency over dense grid cells as a pure
    EQUI-join: each cell explodes to its 4 forward-neighbor keys
    (Δck ∈ {+1, +9999, +10000, +10001}, all positive → u < v by
    construction; the backward half is the CC operator's undirected
    treatment) and the probes hash-join back onto the dense relation
    on the neighbor key. O(4·|dense|) probes through a hash join —
    never an all-pairs NestedLoop over |dense|², so the stage
    survives a finer grid (res-11 polyfill) unchanged."""
    fwd = [(0, 1), (1, -1), (1, 0), (1, 1)]
    probe = dense.select(
        F.col("ck").alias("u"),
        F.explode(
            F.array(
                *[
                    (F.col("cx") + dx) * 10000 + (F.col("cy") + dy)
                    for dx, dy in fwd
                ]
            )
        ).alias("nk"),
    )
    return probe.join(
        dense.select(F.col("ck").alias("v")), probe["nk"] == F.col("v")
    ).select("u", "v")


@register(
    "q170_grid_hotspot_clusters",
    oracle=f"""
    WITH RECURSIVE
    pts AS (
        SELECT CAST(floor({LAT_SQL} * 2) AS BIGINT) AS cx,
               CAST(floor({LNG_SQL} * 2) AS BIGINT) AS cy
        FROM events
    ),
    cells AS (
        SELECT cx, cy, cx * 10000 + cy AS ck, count(*) AS cnt
        FROM pts GROUP BY cx, cy
    ),
    thr AS (
        SELECT avg(cnt) + 2 * sqrt(avg(cnt)) AS t FROM cells
    ),
    dense AS (
        SELECT c.* FROM cells c, thr WHERE c.cnt >= thr.t
    ),
    edges0 AS (
        SELECT a.ck AS u, b.ck AS v
        FROM dense a JOIN dense b
          ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
         AND a.ck < b.ck
    ),
    edges AS (
        SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0
    ),
    reach(node, r) AS (
        SELECT ck, ck FROM dense
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ),
    comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node)
    SELECT comp.cluster,
           count(*) AS n_cells,
           CAST(sum(d.cnt) AS BIGINT) AS n_events,
           round(avg(d.cx / 2.0 + 0.25), 4) AS c_lat,
           round(avg(d.cy / 2.0 + 0.25), 4) AS c_lng
    FROM comp JOIN dense d ON d.ck = comp.node
    GROUP BY comp.cluster
    ORDER BY n_events DESC, comp.cluster
    LIMIT 10
    """,
)
def q170_grid_hotspot_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial hotspot detection, DBSCAN-lite: bucket points into
    0.5° grid cells, keep cells denser than mean + 2·sqrt(mean) (the
    Poisson two-sigma cut, so the threshold adapts to scale instead
    of going vacuous at small SFs or unreachable at big ones), then
    CLUSTER adjacent dense cells (8-neighborhood) via the engine's
    distributed connected components — the grid-index + graph
    composition (q20's layout, q56's operator) that turns density
    clustering into pure equi-joins, the same trick the reference
    plays on ST_Intersects.

    Scale: the corpus touch is ONE cell rollup (map-side combine);
    everything after runs on the dense-cell relation (rare by
    construction — a 2-sigma cut keeps a few % of cells). Adjacency
    is a NEIGHBOR-KEY EXPLODE + equi-join: each dense cell emits its
    4 forward-neighbor keys (Δck ∈ {+1, +9999, +10000, +10001}, all
    positive, so u < v holds by construction) and hash-joins them
    back onto the dense relation — O(4·|dense|) probes through a
    BroadcastHashJoin, never an all-pairs NestedLoop, so the pattern
    survives a finer grid (e.g. res-11 polyfill) unchanged — no
    O(n²) distance pairs anywhere, unlike point-space DBSCAN. CC runs
    the large-star/small-star alternation (operators/graph.py):
    dense-cell clusters are CHAINS of adjacent cells (diameter ~
    cluster length), and log-star converges in O(log n) rounds
    instead of one per hop. The dense-cell graph (a
    few hundred nodes at sf0.1) fits in one partition, so the
    operator's per-partition contraction solves it with no
    distributed round: 83 → 18 Spark jobs per call and 4.2-5.9 s →
    1.2-1.7 s warm at sf0.1 (4 cores, same-session A/B).
    """
    from g_etl_spark.operators.graph import connected_components

    pts = _points(spark, sf_dir).select(
        F.floor(F.col("lat") * 2).cast("long").alias("cx"),
        F.floor(F.col("lng") * 2).cast("long").alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("cnt")).select(
        "cx", "cy", (F.col("cx") * 10000 + F.col("cy")).alias("ck"), "cnt"
    )
    thr = cells.agg(
        (F.avg("cnt") + 2 * F.sqrt(F.avg("cnt"))).alias("t")
    )
    dense = cells.crossJoin(F.broadcast(thr)).filter(
        F.col("cnt") >= F.col("t")
    ).select("cx", "cy", "ck", "cnt")
    edges = _hotspot_adjacency_edges(dense)
    labels = connected_components(edges, src="u", dst="v")
    labeled = dense.join(labels, dense["ck"] == labels["node"], "left").select(
        "cx",
        "cy",
        "cnt",
        F.coalesce(F.col("component"), F.col("ck")).alias("cluster"),
    )
    return (
        labeled.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("cnt").cast("long").alias("n_events"),
            F.round(F.avg(F.col("cx") / 2.0 + 0.25), 4).alias("c_lat"),
            F.round(F.avg(F.col("cy") / 2.0 + 0.25), 4).alias("c_lng"),
        )
        .orderBy(F.desc("n_events"), "cluster")
        .limit(10)
    )


_TILE_Z = 12
_TILE_N = 1 << _TILE_Z  # 4096


@register(
    "q195_tile_heatmap",
    oracle=f"""
    WITH pts AS (
        SELECT value,
               CAST(floor(({LNG_SQL} + 180.0) / 360.0 * {_TILE_N}) AS BIGINT)
                   AS tx,
               CAST(floor((1.0 - ln(tan(radians({LAT_SQL}))
                                    + 1.0 / cos(radians({LAT_SQL}))) / pi())
                          / 2.0 * {_TILE_N}) AS BIGINT) AS ty
        FROM events
    )
    SELECT {_TILE_Z} AS z, tx, ty,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM pts
    GROUP BY tx, ty
    ORDER BY n_events DESC, tx, ty
    LIMIT 20
    """,
)
def q195_tile_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-Mercator slippy-tile heatmap at z12 — the z/x/y tile
    aggregation a map frontend requests per viewport (the serving
    twin of q23's grid heatmap: same rollup shape, but in the
    XYZ tile scheme every web map speaks). Standard mercator math:
    tx = ⌊(lng+180)/360·2^z⌋, ty = ⌊(1 − ln(tan φ + sec φ)/π)/2·2^z⌋.
    Top 20 hottest tiles, ties broken by (tx, ty). tile-x is pure
    rational arithmetic; tile-y evaluates libm tan/ln on the bounded
    synthetic lat set, far from tile boundaries at z12.

    Scale: tile assignment is map-side scalar math inside whole-stage
    codegen (no UDF, no lookup); ONE combining agg to |occupied
    tiles| ≤ 4096² rows and a TakeOrdered for the top-k. Serving a
    zoom pyramid at 100 TB is this plan per zoom — or one z20 rollup
    with parent rollups via integer shifts, exactly like q24's
    quadtree parent aggregation.
    """
    pts = _points(spark, sf_dir)
    lat_r = F.radians(F.col("lat"))
    tx = F.floor((F.col("lng") + 180.0) / 360.0 * _TILE_N).cast("long")
    ty = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / F.lit(3.141592653589793))
        / 2.0
        * _TILE_N
    ).cast("long")
    return (
        pts.select(tx.alias("tx"), ty.alias("ty"), "value")
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.lit(_TILE_Z).cast("int").alias("z"), "tx", "ty", "n_events", "sum_value")
        .orderBy(F.desc("n_events"), "tx", "ty")
        .limit(20)
    )


@register(
    "q209_tile_kde_smoothing",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(floor(({LNG_SQL} + 180.0) / 360.0 * {_TILE_N}) AS BIGINT)
                   AS tx,
               CAST(floor((1.0 - ln(tan(radians({LAT_SQL}))
                                    + 1.0 / cos(radians({LAT_SQL}))) / pi())
                          / 2.0 * {_TILE_N}) AS BIGINT) AS ty
        FROM events
    ),
    r AS (SELECT tx, ty, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1, 2),
    o (dx, dy, w) AS (
        VALUES (0, 0, 4), (1, 0, 2), (-1, 0, 2), (0, 1, 2), (0, -1, 2),
               (1, 1, 1), (1, -1, 1), (-1, 1, 1), (-1, -1, 1)
    ),
    s AS (
        SELECT r.tx + o.dx AS tx, r.ty + o.dy AS ty,
               CAST(sum(r.n * o.w) AS BIGINT) AS smooth_16
        FROM r CROSS JOIN o
        GROUP BY 1, 2
    )
    SELECT s.tx, s.ty, COALESCE(r.n, 0) AS raw_n, s.smooth_16
    FROM s LEFT JOIN r USING (tx, ty)
    ORDER BY s.smooth_16 DESC, s.tx, s.ty
    LIMIT 20
    """,
)
def q209_tile_kde_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 kernel-density smoothing of the z12 tile heatmap (q195's
    rollup) with the integer binomial kernel [[1,2,1],[2,4,2],[1,2,1]]
    — the anti-aliasing pass a heatmap frontend applies so single-tile
    spikes render as gradients; emitted in 16ths (smooth_16) so the
    cross-engine compare is integer-exact, alongside the raw count
    (0 for halo tiles that only receive spill). Top 20 smoothed tiles,
    ties broken by (tx, ty).

    Scale: the corpus collapses to the occupied-tile rollup first
    (ONE combining agg); the kernel is then a 9-way offset explode of
    that bounded relation + a second hash agg on the SHIFTED tile key
    — the same neighbor-key-explode equi-join house pattern as q170's
    adjacency fix, and the reason there is no theta-join anywhere.
    The raw-count attach is a self equi-join on tile key. Kernel cost
    is 9x|occupied tiles|, independent of corpus row count.
    """
    pts = _points(spark, sf_dir)
    lat_r = F.radians(F.col("lat"))
    tx = F.floor((F.col("lng") + 180.0) / 360.0 * _TILE_N).cast("long")
    ty = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / F.lit(3.141592653589793))
        / 2.0
        * _TILE_N
    ).cast("long")
    r = (
        pts.select(tx.alias("tx"), ty.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    kernel = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(w).alias("w"))
            for dx, dy, w in [
                (0, 0, 4), (1, 0, 2), (-1, 0, 2), (0, 1, 2), (0, -1, 2),
                (1, 1, 1), (1, -1, 1), (-1, 1, 1), (-1, -1, 1),
            ]
        ]
    )
    s = (
        r.select("tx", "ty", "n", F.explode(kernel).alias("o"))
        .groupBy(
            (F.col("tx") + F.col("o.dx")).alias("sx"),
            (F.col("ty") + F.col("o.dy")).alias("sy"),
        )
        .agg(F.sum(F.col("n") * F.col("o.w")).alias("smooth_16"))
    )
    return (
        s.join(r, (F.col("sx") == F.col("tx")) & (F.col("sy") == F.col("ty")), "left")
        .select(
            F.col("sx").alias("tx"),
            F.col("sy").alias("ty"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("raw_n"),
            F.col("smooth_16").cast("long").alias("smooth_16"),
        )
        .orderBy(F.desc("smooth_16"), "tx", "ty")
        .limit(20)
    )


_DB_EPS = 0.1   # degrees; bucket size == eps so 3x3 buckets cover it
_DB_MINPTS = 4  # neighbors within eps (self excluded)


@register(
    "q214_dbscan_core_points",
    oracle=f"""
    WITH pts AS MATERIALIZED (
        SELECT event_id, {LAT_SQL} AS lat, {LNG_SQL} AS lng,
               CAST(floor({LAT_SQL} / {_DB_EPS}) AS BIGINT) AS bx,
               CAST(floor({LNG_SQL} / {_DB_EPS}) AS BIGINT) AS by
        FROM events
    ),
    o (dx, dy) AS (
        VALUES (0, 0), (1, 0), (-1, 0), (0, 1), (0, -1),
               (1, 1), (1, -1), (-1, 1), (-1, -1)
    ),
    nbr AS MATERIALIZED (
        SELECT a.event_id AS ea, b.event_id AS eb
        FROM (SELECT p.event_id, p.lat, p.lng, p.bx + o.dx AS nbx,
                     p.by + o.dy AS nby
              FROM pts p CROSS JOIN o) a
        JOIN pts b ON a.nbx = b.bx AND a.nby = b.by
        WHERE a.event_id != b.event_id
          AND (a.lat - b.lat) * (a.lat - b.lat)
              + (a.lng - b.lng) * (a.lng - b.lng) <= {_DB_EPS} * {_DB_EPS}
    ),
    cnt AS MATERIALIZED (
        SELECT p.event_id,
               (SELECT count(*) FROM nbr WHERE nbr.ea = p.event_id) AS deg
        FROM pts p
    ),
    core AS MATERIALIZED (
        SELECT event_id FROM cnt WHERE deg >= {_DB_MINPTS}
    ),
    cls AS (
        SELECT c.event_id, c.deg,
               CASE WHEN c.deg >= {_DB_MINPTS} THEN 'core'
                    WHEN EXISTS (SELECT 1 FROM nbr JOIN core
                                 ON nbr.eb = core.event_id
                                 WHERE nbr.ea = c.event_id) THEN 'border'
                    ELSE 'noise' END AS cls
        FROM cnt c
    )
    SELECT cls AS class, CAST(count(*) AS BIGINT) AS n_points,
           round(avg(CAST(deg AS DOUBLE)), 4) AS avg_neighbors
    FROM cls GROUP BY cls ORDER BY cls
    """,
)
def q214_dbscan_core_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN point classification (eps=0.1 deg, minPts=4) over the
    event point cloud: core (>= minPts neighbors within eps), border
    (non-core with a core neighbor), noise — the density labeling
    step of the cluster algorithm (the full cluster merge is q170's
    connected components over core-core edges; this query is the
    expensive neighborhood phase that feeds it).

    Exact, not approximate: bucket size == eps, so every eps-ball
    lies inside the 3x3 neighbor buckets; the bucket join is a
    candidate PRUNE and the squared-distance refine keeps exactness
    (same two-phase contract as the geometry exact-refine J4). No
    sqrt — both engines compare dx^2+dy^2 against eps^2 on
    identically-derived doubles.

    Scale: the neighbor join is the neighbor-key-explode equi-join
    house pattern (9x fan-out on the probe side, hash join on the
    bucket key — never a theta join); cost is sum of per-bucket
    products, bounded by density x points, and skewed hot buckets
    split under AQE exactly like q105. Degree count and the
    core-neighbor semi-join are two more bucket-local aggs. At 100TB
    this is THE standard spatial-density plan (the reference's grid
    index applied to clustering).
    """
    pts = (
        _points(spark, sf_dir)
        .select(
            "event_id",
            "lat",
            "lng",
            F.floor(F.col("lat") / _DB_EPS).alias("bx"),
            F.floor(F.col("lng") / _DB_EPS).alias("by"),
        )
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in [
                (0, 0), (1, 0), (-1, 0), (0, 1), (0, -1),
                (1, 1), (1, -1), (-1, 1), (-1, -1),
            ]
        ]
    )
    probe = pts.select(
        F.col("event_id").alias("ea"),
        F.col("lat").alias("la"),
        F.col("lng").alias("na"),
        F.explode(offs).alias("o"),
        (F.col("bx") + F.col("o.dx")).alias("nbx"),
        (F.col("by") + F.col("o.dy")).alias("nby"),
    )
    build = pts.select(
        F.col("event_id").alias("eb"),
        F.col("lat").alias("lb"),
        F.col("lng").alias("nb"),
        F.col("bx").alias("nbx"),
        F.col("by").alias("nby"),
    )
    dd = (F.col("la") - F.col("lb")) * (F.col("la") - F.col("lb")) + (
        F.col("na") - F.col("nb")
    ) * (F.col("na") - F.col("nb"))
    nbr = (
        probe.join(build, ["nbx", "nby"])
        .where((F.col("ea") != F.col("eb")) & (dd <= _DB_EPS * _DB_EPS))
        .select("ea", "eb")
        .persist()
    )
    deg = nbr.groupBy("ea").agg(F.count(F.lit(1)).alias("deg"))
    cnt = pts.select(F.col("event_id").alias("ea")).join(deg, "ea", "left").select(
        "ea", F.coalesce("deg", F.lit(0)).alias("deg")
    )
    core = cnt.where(F.col("deg") >= _DB_MINPTS).select(F.col("ea").alias("core_id"))
    has_core_nbr = (
        nbr.join(core, nbr["eb"] == core["core_id"], "left_semi")
        .select("ea")
        .distinct()
    )
    cls = (
        cnt.join(has_core_nbr.withColumn("hc", F.lit(1)), "ea", "left")
        .select(
            "deg",
            F.when(F.col("deg") >= _DB_MINPTS, "core")
            .when(F.col("hc") == 1, "border")
            .otherwise("noise")
            .alias("class"),
        )
    )
    out = (
        cls.groupBy("class")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg(F.col("deg").cast("double")), 4).alias("avg_neighbors"),
        )
        .orderBy("class")
        .localCheckpoint(eager=True)
    )
    nbr.unpersist()
    return out


@register(
    "q232_tile_od_flows",
    oracle=f"""
    WITH pts AS (
        SELECT user_id, ts, event_id,
               CAST(floor(({LNG_SQL} + 180.0) / 360.0 * {_TILE_N}) AS BIGINT)
                   AS tx,
               CAST(floor((1.0 - ln(tan(radians({LAT_SQL}))
                                    + 1.0 / cos(radians({LAT_SQL}))) / pi())
                          / 2.0 * {_TILE_N}) AS BIGINT) AS ty
        FROM events
    ),
    hops AS (
        SELECT tx, ty,
               lead(tx) OVER w AS ntx, lead(ty) OVER w AS nty
        FROM pts
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT tx AS from_tx, ty AS from_ty, ntx AS to_tx, nty AS to_ty,
           CAST(count(*) AS BIGINT) AS n_trips
    FROM hops
    WHERE ntx IS NOT NULL AND (ntx != tx OR nty != ty)
    GROUP BY 1, 2, 3, 4
    ORDER BY n_trips DESC, from_tx, from_ty, to_tx, to_ty
    LIMIT 20
    """,
)
def q232_tile_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix at z12 tiles: consecutive
    events per user become tile-to-tile trips (self-loops dropped),
    top-20 flows — the movement-analytics rollup (commute matrices,
    content-navigation flows) that composes the q195 tile math with
    the q127 per-user transition shape; the spatial twin of q127's
    type-transition matrix.

    Scale: tile assignment is map-side codegen scalar math; the hop
    pairing is ONE user-keyed window (lead over the same sort the
    sessionizers reuse); the OD rollup collapses to occupied tile
    PAIRS (sparse — bounded by observed movement, not the tile
    grid squared); TakeOrdered for the top-k. One corpus exchange.
    """
    pts = _points(spark, sf_dir)
    lat_r = F.radians(F.col("lat"))
    tx = F.floor((F.col("lng") + 180.0) / 360.0 * _TILE_N).cast("long")
    ty = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / F.lit(3.141592653589793))
        / 2.0
        * _TILE_N
    ).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = pts.select(
        "user_id", "ts", "event_id", tx.alias("tx"), ty.alias("ty")
    ).select(
        "tx",
        "ty",
        F.lead("tx").over(w).alias("ntx"),
        F.lead("ty").over(w).alias("nty"),
    )
    return (
        hops.where(
            F.col("ntx").isNotNull()
            & ((F.col("ntx") != F.col("tx")) | (F.col("nty") != F.col("ty")))
        )
        .groupBy(
            F.col("tx").alias("from_tx"),
            F.col("ty").alias("from_ty"),
            F.col("ntx").alias("to_tx"),
            F.col("nty").alias("to_ty"),
        )
        .agg(F.count(F.lit(1)).alias("n_trips"))
        .orderBy(F.desc("n_trips"), "from_tx", "from_ty", "to_tx", "to_ty")
        .limit(20)
    )


@register(
    "q236_spatial_scan_llr",
    oracle=f"""
    WITH pts AS (
        SELECT event_type,
               CAST(floor(({LNG_SQL} + 180.0) / 360.0 * {_TILE_N}) AS BIGINT)
                   AS tx,
               CAST(floor((1.0 - ln(tan(radians({LAT_SQL}))
                                    + 1.0 / cos(radians({LAT_SQL}))) / pi())
                          / 2.0 * {_TILE_N}) AS BIGINT) AS ty
        FROM events
    ),
    cells AS MATERIALIZED (
        SELECT tx, ty,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM pts GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(c) AS BIGINT) AS cc
        FROM cells
    )
    SELECT c.tx, c.ty, c.n, c.c,
           round(c.c / CAST(c.n AS DOUBLE), 4) AS rate,
           round((SELECT cc / CAST(nn AS DOUBLE) FROM tot), 4) AS base_rate,
           round(CASE
               WHEN c.c = 0 OR c.c = c.n OR c.c * t.nn <= c.n * t.cc THEN 0.0
               ELSE c.c * ln((c.c / CAST(c.n AS DOUBLE))
                             / (t.cc / CAST(t.nn AS DOUBLE)))
                    + (c.n - c.c) * ln(((c.n - c.c) / CAST(c.n AS DOUBLE))
                                       / ((t.nn - t.cc) / CAST(t.nn AS DOUBLE)))
           END, 4) AS llr
    FROM cells c CROSS JOIN tot t
    ORDER BY round(CASE
               WHEN c.c = 0 OR c.c = c.n OR c.c * t.nn <= c.n * t.cc THEN 0.0
               ELSE c.c * ln((c.c / CAST(c.n AS DOUBLE))
                             / (t.cc / CAST(t.nn AS DOUBLE)))
                    + (c.n - c.c) * ln(((c.n - c.c) / CAST(c.n AS DOUBLE))
                                       / ((t.nn - t.cc) / CAST(t.nn AS DOUBLE)))
           END, 4) DESC, c.tx, c.ty
    LIMIT 20
    """,
)
def q236_spatial_scan_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial scan statistic (Kulldorff Bernoulli log-likelihood
    ratio, single-tile windows): which z12 tiles have a purchase
    rate anomalously ABOVE the global base rate — the
    disease-cluster / fraud-hotspot detector, and the principled
    upgrade of q170's raw-density hotspots (density finds where
    events ARE; the LLR finds where the CASE MIX is wrong). The
    over-rate gate (c*NN <= n*CC -> 0) is evaluated on exact
    integers, so the only floats are inside ln() on
    identically-derived ratios, rounded at 4 BEFORE the rank with
    (tx, ty) tie-break.

    Scale: one combining agg to occupied-tile (n, c) cells, a 2-cell
    total broadcast back, map-side LLR arithmetic, TakeOrdered — the
    q195 serving shape with a statistic instead of a count. The full
    Kulldorff variable-radius scan runs this same LLR over the q209
    kernel's neighbor-explode unions.
    """
    pts = _points(spark, sf_dir)
    lat_r = F.radians(F.col("lat"))
    tx = F.floor((F.col("lng") + 180.0) / 360.0 * _TILE_N).cast("long")
    ty = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / F.lit(3.141592653589793))
        / 2.0
        * _TILE_N
    ).cast("long")
    cells = (
        pts.select(tx.alias("tx"), ty.alias("ty"), "event_type")
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c"),
        )
    )
    tot = cells.agg(F.sum("n").alias("nn"), F.sum("c").alias("cc"))
    j = cells.crossJoin(F.broadcast(tot))
    p_in = F.col("c") / F.col("n").cast("double")
    p_out = F.col("cc") / F.col("nn").cast("double")
    q_in = (F.col("n") - F.col("c")) / F.col("n").cast("double")
    q_out = (F.col("nn") - F.col("cc")) / F.col("nn").cast("double")
    llr = F.round(
        F.when(
            (F.col("c") == 0)
            | (F.col("c") == F.col("n"))
            | (F.col("c") * F.col("nn") <= F.col("n") * F.col("cc")),
            0.0,
        ).otherwise(
            F.col("c") * F.log(p_in / p_out) + (F.col("n") - F.col("c")) * F.log(q_in / q_out)
        ),
        4,
    )
    return (
        j.select(
            "tx",
            "ty",
            "n",
            "c",
            F.round(p_in, 4).alias("rate"),
            F.round(p_out, 4).alias("base_rate"),
            llr.alias("llr"),
        )
        .orderBy(F.desc("llr"), "tx", "ty")
        .limit(20)
    )


def _morton_sql(xcol: str, ycol: str, bits: int = 12) -> str:
    """Bit-interleaved Morton (Z-order) code as portable integer SQL
    (identical operator set in Spark SQL and DuckDB)."""
    terms = []
    for b in range(bits):
        terms.append(f"((({xcol} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({ycol} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " | ".join(terms) + ")"


def _tile_xy(lat: float, lng: float, z: int = _TILE_Z) -> tuple[int, int]:
    """Driver-side slippy-tile coords for a LITERAL corner (embedded
    as integer constants in BOTH engines, so no cross-engine libm
    risk on the box bounds)."""
    import math

    n = 1 << z
    tx = int(math.floor((lng + 180.0) / 360.0 * n))
    ty = int(
        math.floor(
            (1.0 - math.log(math.tan(math.radians(lat)) + 1.0 / math.cos(math.radians(lat))) / math.pi)
            / 2.0
            * n
        )
    )
    return tx, ty


def _morton_int(tx: int, ty: int, bits: int = 12) -> int:
    m = 0
    for b in range(bits):
        m |= ((tx >> b) & 1) << (2 * b)
        m |= ((ty >> b) & 1) << (2 * b + 1)
    return m


def _q299_consts() -> dict[str, int]:
    # query box = QUERY_RING's bbox: lng 13..17, lat 57..60
    txmin, tymin = _tile_xy(60.0, 13.0)  # north edge -> smaller ty
    txmax, tymax = _tile_xy(57.0, 17.0)
    return {
        "txmin": txmin,
        "txmax": txmax,
        "tymin": tymin,
        "tymax": tymax,
        "mlo": _morton_int(txmin, tymin),
        "mhi": _morton_int(txmax, tymax),
    }


_Q299 = _q299_consts()


@register(
    "q299_zorder_scan_amplification",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(floor(({LNG_SQL} + 180.0) / 360.0 * {_TILE_N}) AS BIGINT)
                   AS tx,
               CAST(floor((1.0 - ln(tan(radians({LAT_SQL}))
                                    + 1.0 / cos(radians({LAT_SQL}))) / pi())
                          / 2.0 * {_TILE_N}) AS BIGINT) AS ty
        FROM events
    ),
    m AS (
        SELECT tx, ty, {_morton_sql("tx", "ty")} AS morton,
               CASE WHEN tx BETWEEN {_Q299["txmin"]} AND {_Q299["txmax"]}
                     AND ty BETWEEN {_Q299["tymin"]} AND {_Q299["tymax"]}
                    THEN 1 ELSE 0 END AS in_box
        FROM pts
    )
    SELECT {_TILE_Z} AS z,
           CAST({_Q299["mlo"]} AS BIGINT) AS morton_lo,
           CAST({_Q299["mhi"]} AS BIGINT) AS morton_hi,
           CAST(sum(in_box) AS BIGINT) AS n_points_box,
           CAST(count(DISTINCT CASE WHEN in_box = 1
                                    THEN tx * {_TILE_N} + ty END) AS BIGINT)
               AS n_tiles_box,
           CAST(sum(CASE WHEN morton BETWEEN {_Q299["mlo"]} AND {_Q299["mhi"]}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_points_zrange,
           round(CAST(sum(CASE WHEN morton BETWEEN {_Q299["mlo"]} AND {_Q299["mhi"]}
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / greatest(sum(in_box), 1), 4) AS scan_amplification
    FROM m
    """,
)
def q299_zorder_scan_amplification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) linearization diagnostic for the serving
    layout: interleave the z12 tile coords into a Morton code, then
    measure how many points a SINGLE Morton-range scan
    [morton(box_min), morton(box_max)] reads versus the points
    actually inside the query box — the scan-amplification factor of
    Z-order range pruning. This quantifies the layout decision the
    warehouse already makes (compact_grid_index Z-orders on
    (grid_cell, dataset_id)): amplification near 1 means one sorted
    range serves the box; large amplification says the range must be
    SPLIT (the BIGMIN/LITMAX refinement) or the box decomposed into
    cells, which is exactly what the polyfill-join serving path does.

    Scale: the Morton code is 24 integer bit-ops per row, map-side in
    whole-stage codegen; box corners are Python-computed integer
    LITERALS (identical constants in both engines — no cross-engine
    libm risk on bounds); ONE combining aggregate emits the whole
    diagnostic. At 100 TB this runs as a free rider on any scan, and
    the measured amplification directly prices a zone-map layout
    before rewriting a corpus into it.
    """
    pts = _points(spark, sf_dir)
    lat_r = F.radians(F.col("lat"))
    tx = F.floor((F.col("lng") + 180.0) / 360.0 * _TILE_N).cast("long")
    ty = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / F.lit(3.141592653589793))
        / 2.0
        * _TILE_N
    ).cast("long")
    t = pts.select(tx.alias("tx"), ty.alias("ty"))
    morton = F.expr(_morton_sql("tx", "ty"))
    c = _Q299
    in_box = (
        F.col("tx").between(c["txmin"], c["txmax"])
        & F.col("ty").between(c["tymin"], c["tymax"])
    )
    in_range = morton.between(c["mlo"], c["mhi"])
    return t.agg(
        F.lit(_TILE_Z).cast("int").alias("z"),
        F.lit(c["mlo"]).cast("long").alias("morton_lo"),
        F.lit(c["mhi"]).cast("long").alias("morton_hi"),
        F.sum(F.when(in_box, 1).otherwise(0)).cast("long").alias("n_points_box"),
        F.countDistinct(
            F.when(in_box, F.col("tx") * _TILE_N + F.col("ty"))
        ).cast("long").alias("n_tiles_box"),
        F.sum(F.when(in_range, 1).otherwise(0)).cast("long").alias("n_points_zrange"),
        F.round(
            F.sum(F.when(in_range, 1).otherwise(0)).cast("double")
            / F.greatest(F.sum(F.when(in_box, 1).otherwise(0)), F.lit(1)),
            4,
        ).alias("scan_amplification"),
    )



# ---- q463: Morton range decomposition (the BIGMIN/LITMAX refinement) ----
def _q463_ranges() -> list[tuple[int, int]]:
    """Maximal disjoint Morton ranges EXACTLY covering q299's query
    box — the quadtree form of the BIGMIN/LITMAX refinement: recurse
    the Morton quadtree, emit a cell's full contiguous range when the
    cell lies inside the box, then merge Morton-adjacent ranges.
    Driver-side integer recursion over BOUNDED output (O(perimeter ·
    levels) cells — 144 ranges for this 47×66-tile box), the same
    contract as polyfill's cell lists; both engines receive the
    ranges as literals."""
    c = _Q299
    out: list[list[int]] = []

    def rec(x0: int, y0: int, level: int) -> None:
        size = 1 << level
        x1, y1 = x0 + size - 1, y0 + size - 1
        if (
            x1 < c["txmin"] or x0 > c["txmax"]
            or y1 < c["tymin"] or y0 > c["tymax"]
        ):
            return
        if (
            x0 >= c["txmin"] and x1 <= c["txmax"]
            and y0 >= c["tymin"] and y1 <= c["tymax"]
        ):
            lo = _morton_int(x0, y0)
            out.append([lo, lo + size * size - 1])
            return
        h = size // 2
        for dy in (0, 1):
            for dx in (0, 1):
                rec(x0 + dx * h, y0 + dy * h, level - 1)

    rec(0, 0, _TILE_Z)
    out.sort()
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and merged[-1][1] + 1 == lo:
            merged[-1][1] = hi
        else:
            merged.append([lo, hi])
    return [(a, b) for a, b in merged]


_Q463_RANGES = _q463_ranges()


def _q463_values_sql() -> str:
    return ", ".join(
        f"({i}, {lo}, {hi})" for i, (lo, hi) in enumerate(_Q463_RANGES)
    )


@register(
    "q463_morton_range_split_serving",
    oracle=f"""
    WITH ranges(range_id, morton_lo, morton_hi) AS (
        VALUES {_q463_values_sql()}
    ),
    pts AS (
        SELECT CAST(floor(({LNG_SQL} + 180.0) / 360.0 * {_TILE_N}) AS BIGINT)
                   AS tx,
               CAST(floor((1.0 - ln(tan(radians({LAT_SQL}))
                                    + 1.0 / cos(radians({LAT_SQL}))) / pi())
                          / 2.0 * {_TILE_N}) AS BIGINT) AS ty
        FROM events
    ),
    m AS (
        SELECT tx, ty, {_morton_sql("tx", "ty")} AS morton,
               CASE WHEN tx BETWEEN {_Q299["txmin"]} AND {_Q299["txmax"]}
                     AND ty BETWEEN {_Q299["tymin"]} AND {_Q299["tymax"]}
                    THEN 1 ELSE 0 END AS in_box
        FROM pts
    ),
    per AS (
        SELECT r.range_id,
               CAST(coalesce(count(x.morton), 0) AS BIGINT) AS n_points
        FROM ranges r LEFT JOIN m x
          ON x.morton BETWEEN r.morton_lo AND r.morton_hi
        GROUP BY r.range_id
    ),
    tot AS (
        SELECT CAST(sum(in_box) AS BIGINT) AS n_box,
               CAST(sum(CASE WHEN morton BETWEEN {_Q299["mlo"]}
                                            AND {_Q299["mhi"]}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_single
        FROM m
    ),
    sp AS (SELECT CAST(sum(n_points) AS BIGINT) AS n_split FROM per)
    SELECT r.range_id, CAST(r.morton_lo AS BIGINT) AS morton_lo,
           CAST(r.morton_hi AS BIGINT) AS morton_hi,
           p.n_points,
           CAST({len(_Q463_RANGES)} AS BIGINT) AS n_ranges,
           t.n_box AS n_points_box,
           t.n_single AS n_points_single_range,
           CAST(round(1000.0 * sp.n_split / greatest(t.n_box, 1))
               AS BIGINT) AS amplification_split_milli,
           CAST(round(1000.0 * t.n_single / greatest(t.n_box, 1))
               AS BIGINT) AS amplification_single_milli
    FROM ranges r JOIN per p USING (range_id)
    CROSS JOIN tot t CROSS JOIN sp
    ORDER BY r.range_id
    """,
)
def q463_morton_range_split_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MORTON RANGE-SPLIT serving — the BIGMIN/LITMAX refinement
    q299's docstring prices: q299 measured how many extra points ONE
    Morton range [morton(box_min), morton(box_max)] drags in
    (scan amplification ≫ 1 where the curve exits and re-enters the
    box); this operator EXECUTES the fix — the query box decomposed
    into {len(_Q463_RANGES)} maximal disjoint Morton ranges
    (driver-side quadtree recursion + adjacent-range merge, bounded
    like a polyfill cell list), each range counted against the
    indexed corpus, with the whole decision in-band: per-range point
    counts, split amplification (hash-pinned at exactly 1000 milli —
    the decomposition reads ONLY box points, or the gate breaks) vs
    the single-range amplification q299 reported. This is how a
    Z-ordered layout actually serves box queries at 100 TB: the
    range list is computed once on the driver from the box corners
    (no data touched), and each range is a contiguous scan of the
    sorted layout — the multi-range generalization of the one-range
    scan, with zero false positives at tile grain.

    Scale: ONE codegen'd BETWEEN over the ranges' Morton hull prunes
    the corpus to box-envelope candidates first (the same coarse
    range q299 prices), and only the survivors hit the broadcast
    |ranges|-row join — the nested-loop factor applies to the
    pruned set, not the corpus. On a Z-ordered layout the hull
    filter IS the file prune, so the candidate set arrives pre-cut
    by the q459 machinery. (An array-HOF binary search was tried
    and rejected: interpreted lambda per element per row, 60×
    slower at the ×25 probe.) The rollup is |ranges|-grain; the
    oracle uses the equivalent BETWEEN join over the same literal
    ranges.
    """
    pts = _points(spark, sf_dir)
    lat_r = F.radians(F.col("lat"))
    tx = F.floor((F.col("lng") + 180.0) / 360.0 * _TILE_N).cast("long")
    ty = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / F.lit(3.141592653589793))
        / 2.0
        * _TILE_N
    ).cast("long")
    t = pts.select(tx.alias("tx"), ty.alias("ty"))
    c = _Q299
    m = t.select(
        "tx",
        "ty",
        F.expr(_morton_sql("tx", "ty")).alias("morton"),
        F.when(
            F.col("tx").between(c["txmin"], c["txmax"])
            & F.col("ty").between(c["tymin"], c["tymax"]),
            1,
        )
        .otherwise(0)
        .alias("in_box"),
    )
    ranges = spark.createDataFrame(
        [(i, lo, hi) for i, (lo, hi) in enumerate(_Q463_RANGES)],
        "range_id int, morton_lo long, morton_hi long",
    )
    # coarse prune first: one codegen'd BETWEEN over the ranges' hull
    # drops every point outside the decomposition's Morton envelope
    # (array-HOF binary search here was 60× slower — interpreted
    # lambda per element per row; measured 473 s → 12 s at the ×25
    # probe for this prune + broadcast range join)
    hull_lo, hull_hi = _Q463_RANGES[0][0], _Q463_RANGES[-1][1]
    cand = m.where(F.col("morton").between(hull_lo, hull_hi))
    per_hit = (
        cand.join(
            F.broadcast(ranges),
            cand["morton"].between(
                ranges["morton_lo"], ranges["morton_hi"]
            ),
        )
        .groupBy("range_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    )
    per = (
        ranges.join(per_hit, "range_id", "left")
        .select(
            "range_id",
            "morton_lo",
            "morton_hi",
            F.coalesce("n_points", F.lit(0)).cast("long").alias("n_points"),
        )
    )
    tot = m.agg(
        F.sum("in_box").cast("long").alias("n_box"),
        F.sum(
            F.when(
                F.col("morton").between(c["mlo"], c["mhi"]), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_single"),
    )
    sp = per.agg(F.sum("n_points").cast("long").alias("n_split"))
    return (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(sp))
        .select(
            "range_id",
            "morton_lo",
            "morton_hi",
            "n_points",
            F.lit(len(_Q463_RANGES)).cast("long").alias("n_ranges"),
            F.col("n_box").alias("n_points_box"),
            F.col("n_single").alias("n_points_single_range"),
            F.round(
                1000.0 * F.col("n_split") / F.greatest(F.col("n_box"), F.lit(1))
            ).cast("long").alias("amplification_split_milli"),
            F.round(
                1000.0 * F.col("n_single") / F.greatest(F.col("n_box"), F.lit(1))
            ).cast("long").alias("amplification_single_milli"),
        )
        .orderBy("range_id")
    )


# q376: bounding box around the KNN query point (57.7, 12.0) — sized
# so the 20th neighbour provably lies inside (the test asserts pruned
# == brute): the measured 20th-NN distance is 68.7 km at sf0.001 /
# 18.7 km at sf0.01, while the nearest EXCLUDED region sits ≥89 km
# away (east edge 1.5° lng ≈ 89 km at this latitude; north/south
# 0.9° lat ≈ 100 km; the west edge is the data domain's lng floor —
# no points exist beyond it). Polyfill only ADDS edge cells, so the
# cell cover can never shrink the guarantee.
_KNN_BOX_RING = [(11.0, 56.8), (13.5, 56.8), (13.5, 58.6),
                 (11.0, 58.6), (11.0, 56.8)]


def _knn_cells_sql_values() -> str:
    cells = sorted(grid.polyfill(_KNN_BOX_RING, QUERY_POLY_RES))
    return ", ".join(f"({c})" for c in cells)


@register(
    "q376_knn_grid_pruned",
    oracle=f"""
    WITH query_cells(q_cell) AS (VALUES {_knn_cells_sql_values()}),
    indexed AS (
        SELECT event_id, event_type,
               {grid.cell_sql(LAT_SQL, LNG_SQL, QUERY_POLY_RES)} AS cell_id
        FROM events
    ),
    cand AS (
        SELECT i.event_id, i.event_type
        FROM indexed i JOIN query_cells ON i.cell_id = q_cell
    ),
    sizes AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
               (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_total
    )
    SELECT c.event_id, c.event_type, {_HAVERSINE_SQL} AS dist_m,  -- expression-only (no table refs)
           s.n_candidates, s.n_total
    FROM cand c CROSS JOIN sizes s
    ORDER BY dist_m, event_id
    LIMIT 20
    """,
)
def q376_knn_grid_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-pruned spatial KNN — the 100 TB serving path q144's
    docstring promises: instead of scanning every point, polyfill a
    cell ring around the query point (driver-side, bounded — the
    polygon family's J4 device), equi-join the broadcast cell set
    against the grid index to get CANDIDATES, and haversine-rank only
    those. The result rows are IDENTICAL to q144's brute top-20
    (pinned by test), and the audit columns ride along in-band:
    n_candidates vs n_total is the measured scan reduction the prune
    bought (the box covers ~3.75% of the bbox — a ~27× cut). The box
    is sized so the 20th neighbour provably lies inside (nearest
    excluded region ≥89 km vs 68.7 km to the 20th hit at the sparsest
    SF); a production server grows the ring and
    re-queries when the k-th distance reaches the box edge — the
    H3 ring-search loop, one iteration of which this is.

    Scale: the cell set broadcasts (a few hundred longs); the
    candidate join partition-prunes on the cell-partitioned layout
    exactly like the polygon path (q21/q26); TakeOrdered runs on
    candidates only. The brute q144 stays as the oracle baseline,
    the same contract as q54/q61 and q345's probe-vs-scan split.
    """
    pts = _points(spark, sf_dir)
    cells = sorted(grid.polyfill(_KNN_BOX_RING, QUERY_POLY_RES))
    qc = spark.createDataFrame([(c,) for c in cells], "q_cell bigint")
    indexed = pts.select(
        "event_id",
        "event_type",
        "lat",
        "lng",
        grid.cell(F.col("lat"), F.col("lng"), QUERY_POLY_RES).alias("cell_id"),
    )
    cand = indexed.join(
        F.broadcast(qc), indexed.cell_id == qc.q_cell, "inner"
    )
    sizes = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    ).crossJoin(
        F.broadcast(
            pts.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
        )
    )
    dlat = F.radians((F.col("lat") - F.lit(57.7)) / 2)
    dlng = F.radians((F.col("lng") - F.lit(12.0)) / 2)
    h = (
        F.pow(F.sin(dlat), 2)
        + F.cos(F.radians(F.lit(57.7)))
        * F.cos(F.radians(F.col("lat")))
        * F.pow(F.sin(dlng), 2)
    )
    dist = F.round(2.0 * 6371000.0 * F.asin(F.sqrt(h)), 1)
    return (
        cand.select("event_id", "event_type", dist.alias("dist_m"))
        .crossJoin(F.broadcast(sizes))
        .orderBy("dist_m", "event_id")
        .limit(20)
    )
