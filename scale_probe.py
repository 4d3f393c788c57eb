"""Scale-stress probe: measure the core operator families at 10-100×
the bench scale factor by synthetically replicating the sf0.1
testdata (deterministic id-shifted copies — no new data invented).

    python scale_probe.py [replication_factor]

Writes measured numbers + derived scaling commentary to stderr and a
one-line JSON to stdout. This is evidence for the "would this hold at
1000×?" question: the plans under test are the same ones bench.py
runs, only bigger.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F

from g_etl_spark.functions import grid as G
from g_etl_spark.queries.grid import QUERY_POLY_RES, QUERY_RING
from g_etl_spark.session import get_spark
from g_etl_spark.tables import load


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("scale_probe")
    out: dict[str, float] = {"replication": factor}

    # --- replicate events x factor (10M rows at factor=100) ---------
    e = load(spark, sf_dir, "events")
    n_base = e.count()
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    big = (
        e.crossJoin(reps)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * 1_000_000)
        .withColumn("user_id", F.col("user_id") + F.col("rep") * 10_000)
        .drop("rep")
    )
    big = big.withColumns(
        {
            "lat": F.lit(55.0) + ((F.col("event_id") * 7919) % 1000) * F.lit(0.01),
            "lng": F.lit(11.0) + ((F.col("event_id") * 104729) % 1200) * F.lit(0.01),
        }
    )
    n_rows = n_base * factor
    print(f"# events: {n_base} x {factor} = {n_rows}", file=sys.stderr)

    # 1. grid indexing + stats rollup (scan + 1 exchange)
    t0 = time.time()
    stats_n = (
        big.select(
            G.cell(F.col("lat"), F.col("lng"), G.QUERY_RES).alias("cell_id"),
            "event_type",
        )
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("event_type").alias("nt"))
        .count()
    )
    out["grid_stats_rollup_sec"] = round(time.time() - t0, 2)
    print(
        f"# grid rollup over {n_rows} rows -> {stats_n} cells in "
        f"{out['grid_stats_rollup_sec']}s",
        file=sys.stderr,
    )

    # 2. materialize the cell index once, then hot polygon queries
    indexed = big.select(
        "event_id",
        "event_type",
        G.cell(F.col("lat"), F.col("lng"), QUERY_POLY_RES).alias("cell_id"),
    ).cache()
    t0 = time.time()
    indexed.count()
    out["index_materialize_sec"] = round(time.time() - t0, 2)
    cells = G.polyfill(QUERY_RING, QUERY_POLY_RES)
    best = None
    for _ in range(3):
        t0 = time.time()
        n_hits = (
            indexed.filter(F.col("cell_id").isin(cells))
            .select("event_id", "event_type", "cell_id")
            .distinct()
            .count()
        )
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    out["hot_polygon_query_sec"] = round(best, 3)
    print(
        f"# hot polygon query on {n_rows} rows: {n_hits} hits in {best:.3f}s",
        file=sys.stderr,
    )
    indexed.unpersist()

    # 3. exact dedup at scale (hash shuffle over all rows)
    t0 = time.time()
    n_dedup = (
        big.groupBy(F.md5(F.concat_ws("|", "event_type", "props")).alias("h"))
        .agg(F.min("event_id").alias("keeper"), F.count(F.lit(1)).alias("n"))
        .count()
    )
    out["exact_dedup_sec"] = round(time.time() - t0, 2)
    print(
        f"# exact dedup: {n_rows} rows -> {n_dedup} groups in "
        f"{out['exact_dedup_sec']}s",
        file=sys.stderr,
    )

    # 4. sessionization window at scale
    t0 = time.time()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    n_sessions = (
        big.withColumn("ns", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .agg(F.sum("ns"))
        .head()[0]
    )
    out["sessionize_sec"] = round(time.time() - t0, 2)
    print(
        f"# sessionize: {n_sessions} sessions in {out['sessionize_sec']}s",
        file=sys.stderr,
    )

    # 5. sub-document chunk dedup at scale (documents replicated —
    # every replica is an exact copy, so chunk dedup must strip all
    # but the first replica's chunks; two narrow-keyed shuffles)
    from g_etl_spark.operators.dedup import chunk_dedup

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs_big = (
        d.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 1_000_000)
        .drop("rep")
    )
    n_docs = d.count() * factor
    t0 = time.time()
    kept_chunks = chunk_dedup(docs_big, "doc_id").agg(F.sum("n_kept")).head()[0]
    out["chunk_dedup_sec"] = round(time.time() - t0, 2)
    print(
        f"# chunk dedup: {n_docs} docs -> {kept_chunks} surviving chunks in "
        f"{out['chunk_dedup_sec']}s (replicas fully stripped)",
        file=sys.stderr,
    )

    # 6. connected components at scale: 2M-edge graph of 3-node
    # chains (a-b, b-c) — measures the per-partition contraction and
    # whatever large-star/small-star rounds the chains cut by partition
    # boundaries still need before the star-forest test passes
    from g_etl_spark.operators.graph import connected_components

    n_comp = max(n_rows, 1_000_000)
    base3 = spark.range(n_comp).select((F.col("id") * 3).alias("a"))
    edges = base3.select("a", (F.col("a") + 1).alias("b")).unionByName(
        base3.select((F.col("a") + 1).alias("a"), (F.col("a") + 2).alias("b"))
    ).select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    t0 = time.time()
    n_labeled = connected_components(edges).count()
    out["connected_components_sec"] = round(time.time() - t0, 2)
    print(
        f"# connected components: {2 * n_comp} edges, {n_labeled} nodes "
        f"labeled in {out['connected_components_sec']}s",
        file=sys.stderr,
    )

    out["rows"] = n_rows
    print(json.dumps(out))


if __name__ == "__main__":
    main()
