"""Warehouse layout + cross-dataset views.

≙ reference MERGE + post-merge SQL (SURVEY §3.1 steps 5-6;
pipeline_runner.py:968-1157). The reference copies per-dataset temp
DuckDB files into warehouse.duckdb; in Spark the "merge" is simply a
shared directory layout — every dataset writes
``{warehouse}/{schema}/{dataset_id}[_suffix]`` as parquet, and the
cross-dataset relations are lazy unions over discovery:

    warehouse/
      raw/{id}/            staging/{id}/
      mart/{id}_grid/      mart/{id}_grid_compact/
      mart/grid_stats/     (materialized rollup)

- ``grid_index``  ≙ mart.h3_index  (dynamic UNION ALL over mart.*_grid,
  pipeline_runner.py:1083-1137) — a VIEW (lazy union), not a copy.
- ``grid_stats``  ≙ mart.h3_stats (pipeline_runner.py:1144-1153) —
  materialized, partitioned by cell prefix for partition pruning.
"""

from __future__ import annotations

import os
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from g_etl_spark.functions import grid
from g_etl_spark.session import scoped_confs

GRID_SUFFIX = "_grid"
OBJECTS_SUFFIX = "_objects"
STATS_TABLE = "grid_stats"
# cell-prefix partitioning: parent cell at this res buckets the index
STATS_PARTITION_RES = 6


def table_path(warehouse: str, schema: str, name: str) -> str:
    return os.path.join(warehouse, schema, name)


def write_table(df: DataFrame, warehouse: str, schema: str, name: str) -> str:
    """≙ CREATE OR REPLACE TABLE {{schema}}.{{id}} (every template) —
    parquet overwrite with zstd (plugins/base.py:107-111)."""
    path = table_path(warehouse, schema, name)
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)
    return path


def read_table(spark: SparkSession, warehouse: str, schema: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(warehouse, schema, name))


def discover_grid_tables(warehouse: str) -> list[str]:
    """≙ the mart.*_h3 discovery (pipeline_runner.py:1084-1094):
    find every dataset's exploded grid output (excluding _compact)."""
    mart = os.path.join(warehouse, "mart")
    if not os.path.isdir(mart):
        return []
    return sorted(
        d
        for d in os.listdir(mart)
        if d.endswith(GRID_SUFFIX) and not d.endswith("_grid_compact")
    )


def grid_index(spark: SparkSession, warehouse: str) -> DataFrame:
    """≙ mart.h3_index view (pipeline_runner.py:1116-1137): dynamic
    UNION ALL over every dataset's exploded cells, with dataset_id
    tagged. Lazy — Spark unions are views until acted on, so this
    costs nothing to build (the reference chose views for the same
    reason, :1129-1143)."""
    names = discover_grid_tables(warehouse)
    if not names:
        raise ValueError(f"no {GRID_SUFFIX} tables under {warehouse}/mart")
    dfs = []
    for name in names:
        dataset_id = name[: -len(GRID_SUFFIX)]
        t = read_table(spark, warehouse, "mart", name)
        if "_batch_id" in t.columns:  # streaming-ingested table (idempotence key)
            t = t.drop("_batch_id")
        dfs.append(t.withColumn("dataset_id", F.lit(dataset_id)))
    return reduce(DataFrame.unionByName, dfs)


def objects_datasets(warehouse: str) -> list[str]:
    """Dataset ids that HAVE a persisted objects table (streaming
    ingest and pre-round-2 warehouses write only ``_grid`` tables)."""
    mart = os.path.join(warehouse, "mart")
    return sorted(
        d[: -len(OBJECTS_SUFFIX)]
        for d in (os.listdir(mart) if os.path.isdir(mart) else [])
        if d.endswith(OBJECTS_SUFFIX)
    )


def objects_table(spark: SparkSession, warehouse: str) -> DataFrame:
    """Union view over every dataset's object table (id + GEOMETRY —
    ≙ the reference keeping staging geometry queryable for the exact
    phase of the two-phase polygon query, H3_POLYGON_ANALYSIS.md:
    325-355). Lazy union like grid_index."""
    mart = os.path.join(warehouse, "mart")
    names = sorted(
        d for d in (os.listdir(mart) if os.path.isdir(mart) else [])
        if d.endswith(OBJECTS_SUFFIX)
    )
    if not names:
        raise ValueError(f"no {OBJECTS_SUFFIX} tables under {warehouse}/mart")
    dfs = []
    for name in names:
        dataset_id = name[: -len(OBJECTS_SUFFIX)]
        dfs.append(
            read_table(spark, warehouse, "mart", name).withColumn(
                "dataset_id", F.lit(dataset_id)
            )
        )
    return reduce(DataFrame.unionByName, dfs)


def grid_stats(index: DataFrame) -> DataFrame:
    """≙ mart.h3_stats (pipeline_runner.py:1144-1153): per-cell
    object_count, dataset_count, sorted distinct datasets / klasser /
    leverantorer."""
    return index.groupBy("grid_cell").agg(
        F.count(F.lit(1)).alias("object_count"),
        F.countDistinct("dataset_id").alias("dataset_count"),
        F.sort_array(F.collect_set("dataset_id")).alias("datasets"),
        F.sort_array(F.collect_set("klass")).alias("klasser"),
        F.sort_array(F.collect_set("leverantor")).alias("leverantorer"),
    )


def write_grid_stats(spark: SparkSession, warehouse: str) -> str:
    """Materialize the rollup, partitioned by coarse parent cell so
    polygon queries prune partitions (the 100 TB layout: a res-6
    parent key gives ~thousands of partitions planet-wide; AQE handles
    per-partition skew)."""
    stats = grid_stats(grid_index(spark, warehouse)).withColumn(
        "cell_prefix",
        F.expr(grid.cell_ancestor_sql("grid_cell", STATS_PARTITION_RES)),
    )
    path = table_path(warehouse, "mart", STATS_TABLE)
    (
        stats.write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("cell_prefix")
        .parquet(path)
    )
    return path


def refresh_grid_stats_incremental(
    spark: SparkSession, warehouse: str, touched: DataFrame
) -> int:
    """Refresh ONLY the stats partitions whose cells appear in
    ``touched`` (a DataFrame with a ``grid_cell`` column — e.g. one
    micro-batch's appended index rows).

    The 100 TB story: a streaming batch touches a handful of
    cell_prefix partitions out of thousands; recomputing the whole
    rollup per batch is O(warehouse), this is O(touched region). The
    recompute itself still reads the FULL index for those prefixes
    (stats are per-cell aggregates over all datasets), but the scan
    prunes on the prefix partition key and the dynamic partition
    overwrite replaces only those directories atomically.

    Falls back to the full rollup when no stats table exists yet.
    Returns the number of prefixes refreshed.
    """
    path = table_path(warehouse, "mart", STATS_TABLE)
    prefix_expr = F.expr(grid.cell_ancestor_sql("grid_cell", STATS_PARTITION_RES))
    prefixes = [
        r.p for r in touched.select(prefix_expr.alias("p")).distinct().collect()
    ]
    if not prefixes or not os.path.isdir(path):
        write_grid_stats(spark, warehouse)
        return len(prefixes)
    idx = grid_index(spark, warehouse).withColumn("cell_prefix", prefix_expr)
    stats = (
        grid_stats(idx.filter(F.col("cell_prefix").isin(prefixes)).drop("cell_prefix"))
        .withColumn("cell_prefix", prefix_expr)
    )
    with scoped_confs(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        (
            stats.write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy("cell_prefix")
            .parquet(path)
        )
    return len(prefixes)


COMPACT_INDEX_TABLE = "grid_index_zorder"


def compact_grid_index(
    spark: SparkSession, warehouse: str, num_files: int = 32
) -> str:
    """Materialize the union grid index Z-ordered on
    (grid_cell, dataset_id) — the serving layout for the polygon path.

    The reference's product IS its prebuilt index
    (docs/H3_POLYGON_ANALYSIS.md:301-321: build once, query many); the
    Spark-scale version of "prebuilt" is a compacted parquet layout
    whose footer min/max envelopes are narrow on BOTH the spatial key
    and the dataset key, so a polygon query's cell range and a
    per-dataset filter each skip most files before any row is read.
    Quadtree cell ids are Morton-ish (x-major), so clustering by
    grid_cell groups spatial neighbors; Z-interleaving dataset_id
    keeps per-dataset queries prunable in the SAME layout.

    Scale: sizes shuffle parallelism to the target file count for the
    write only (at 100 TB, num_files follows data volume
    so each file lands near 128-200 MB); the write itself is one
    range-shuffle (operators/layout.write_zordered), amortized over
    every subsequent polygon query like the reference's one-time
    index build.
    """
    from g_etl_spark.operators import layout

    idx = grid_index(spark, warehouse)
    path = table_path(warehouse, "mart", COMPACT_INDEX_TABLE)
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": str(num_files)}):
        layout.write_zordered(idx, path, ["grid_cell", "dataset_id"], num_files)
    return path


def compact_grid_index_df(spark: SparkSession, warehouse: str) -> DataFrame:
    """Read the compacted serving index (compact_grid_index output)."""
    return read_table(spark, warehouse, "mart", COMPACT_INDEX_TABLE)


def write_bucketed(
    df: DataFrame, table_name: str, key: str, buckets: int = 32
) -> None:
    """Bucketed managed table — the co-located-join layout for 100 TB.

    Two tables bucketed+sorted on the same key with the same bucket
    count join WITHOUT a shuffle (tests/test_plans.py pins the
    no-Exchange plan). This is the Spark equivalent of pre-
    partitioning fact tables on their join key once at write time and
    amortizing it over every subsequent join/agg on that key.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("compression", "zstd")
        .saveAsTable(table_name)
    )
