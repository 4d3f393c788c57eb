"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the
workload seed, with NumPy and pyarrow only (no Spark, no engine code),
so the same seed writes byte-identical parquet and another seed writes
different rows.

Two families:

- ``write_tpch``: the ten registry tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``), with the schemas,
  row counts per scale factor and value distributions of the
  registry's reference test data.
- ``geo_datasets``: four geo datasets shaped like the engine's geo
  fixtures (polygons, points, lines, numeric-mapping polygons) in
  SWEREF99 TM, packed into a small square so that 2x2 km query
  polygons hit objects.
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Registry tables
# ---------------------------------------------------------------------------

REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _ts(day0: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_users = max(100, n_cust // 10)
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = 5000 if sf >= 0.1 else 500
    n_vecs = 2000 if sf >= 0.1 else 500

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGION_NAMES,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n_ord)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line)),
        }
    )
    # events: one month of increasing timestamps
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(start + offs, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word soup; ~9% of documents are near-duplicates of an
    earlier one (the same text plus trailing ``dup`` tokens), which is
    what the near-duplicate queries find."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.09:
            base = texts[int(rng.integers(0, i))].split()
            base = [w for w in base if w != "dup"]
            texts.append(" ".join(base + ["dup"] * int(rng.integers(1, 4))))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def write_tpch(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` for every registry table;
    returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tpch_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# Geo datasets
# ---------------------------------------------------------------------------

# SWEREF99 TM origin of the packed area (inside the fixture bbox)
GEO_X0, GEO_Y0 = 600_000.0, 6_550_000.0


def _wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, x, y)


def _wkb_line(pts) -> bytes:
    return struct.pack("<BII", 1, 2, len(pts)) + b"".join(
        struct.pack("<dd", x, y) for x, y in pts
    )


def _wkb_polygon(ring) -> bytes:
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + b"".join(
        struct.pack("<dd", x, y) for x, y in ring
    )


def _quad(x: float, y: float, w: float, h: float):
    return [(x, y), (x + w, y), (x + w, y + h), (x, y + h), (x, y)]


@dataclass(frozen=True)
class GeoDataset:
    """One staged geo input: the parquet table, the schema the runner
    sees and the field mapping of its dataset config."""

    id: str
    pipeline: str
    table: pa.Table
    field_mapping: dict[str, str]


def geo_datasets(n_polygons: int, seed: int, extent_m: float) -> list[GeoDataset]:
    """Four datasets shaped like the engine's geo fixtures: polygons
    (with ~2% bowtie and ~2% NULL geometries), points (10x the polygon
    count, padded names), lines (half) and numeric-as-string polygons
    (half), all inside an ``extent_m`` square."""
    rng = np.random.default_rng([seed, 2])
    n_pts, n_lines, n_avd = 10 * n_polygons, n_polygons // 2, n_polygons // 2

    def xy(n, margin):
        return (
            GEO_X0 + rng.uniform(0, extent_m - margin, n),
            GEO_Y0 + rng.uniform(0, extent_m - margin, n),
        )

    px, py = xy(n_polygons, 2000.0)
    size = rng.uniform(200.0, 1500.0, n_polygons)
    biotyper = ["Aspskog", "Barrskog", "Kalkmark", "Lövbränna", None]
    geoms = []
    for i in range(n_polygons):
        ring = _quad(px[i], py[i], size[i], size[i] * 0.8)
        if i % 50 == 3:  # bowtie: self-intersecting, exercises make_valid
            ring = [ring[0], ring[2], ring[1], ring[3], ring[0]]
        geoms.append(None if i % 40 == 7 else _wkb_polygon(ring))
    polygons = pa.table(
        {
            "beteckn": [None if i % 97 == 5 else f"BK-{i:06d}" for i in range(n_polygons)],
            "Biotyp": [biotyper[i % 5] for i in range(n_polygons)],
            "areal_ha": _money(rng, 0.1, 500.0, n_polygons),
            "kommun": [["Umeå", "Växjö", "Örebro"][i % 3] for i in range(n_polygons)],
            "geometry": pa.array(geoms, pa.binary()),
        }
    )

    qx, qy = xy(n_pts, 0.0)
    points = pa.table(
        {
            "NVRID": [f"NVR{i:06d}" for i in range(n_pts)],
            "NAMN": [f"  Naturminne   nr {i}  " for i in range(n_pts)],
            "geom": pa.array([_wkb_point(a, b) for a, b in zip(qx, qy)], pa.binary()),
        }
    )

    lx, ly = xy(n_lines, 5000.0)
    shapes = []
    for i in range(n_lines):
        x, y = lx[i], ly[i]
        pts = [(x, y)]
        for _ in range(int(rng.integers(1, 5))):
            x += rng.uniform(100.0, 1500.0)
            y += rng.uniform(-800.0, 800.0)
            pts.append((x, y))
        shapes.append(_wkb_line(pts))
    lines = pa.table(
        {
            "Objektnr": [f"OBJ{i:05d}" for i in range(n_lines)],
            "Typ": [["stig", "mur", "dike"][i % 3] for i in range(n_lines)],
            "shape": pa.array(shapes, pa.binary()),
        }
    )

    ax, ay = xy(n_avd, 1000.0)
    avd = pa.table(
        {
            "BETECKNING": [f"AVD-{i:05d}" for i in range(n_avd)],
            "NETTOHA": [
                "oklart" if i % 15 == 4 else f"{v:.3f}"
                for i, v in enumerate(rng.uniform(0.5, 80.0, n_avd))
            ],
            "M3FUB_HA": [f"{v:.1f}" for v in rng.uniform(10.0, 400.0, n_avd)],
            "geom": pa.array(
                [_wkb_polygon(_quad(a, b, 600.0, 600.0)) for a, b in zip(ax, ay)],
                pa.binary(),
            ),
        }
    )
    return [
        GeoDataset(
            "biotop", "ext_restr", polygons,
            {"source_id_column": "$beteckn", "klass": "biotopskydd",
             "grupp": "$Biotyp", "leverantor": "sks"},
        ),
        GeoDataset(
            "naturminnen", "ext_restr", points,
            {"source_id_column": "$NVRID", "klass": "naturminne", "leverantor": "nvv"},
        ),
        GeoDataset(
            "linjer", "ext_restr", lines,
            {"source_id_column": "$Objektnr", "klass": "skogshistorisk_linje",
             "typ": "$Typ", "leverantor": "sks"},
        ),
        GeoDataset(
            "avdelning", "avdelning", avd,
            {"source_id_column": "$BETECKNING", "klass": "klass",
             "leverantor": "intern", "area": "$NETTOHA", "volym": "$M3FUB_HA"},
        ),
    ]


def write_geo(out_dir: str, datasets: list[GeoDataset]) -> dict[str, str]:
    """Stage each dataset as one parquet file; returns id -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for ds in datasets:
        path = os.path.join(out_dir, f"{ds.id}.parquet")
        pq.write_table(ds.table, path)
        paths[ds.id] = path
    return paths


def query_polygons(n: int, seed: int, extent_m: float, side_m: float = 2000.0) -> list[str]:
    """``n`` distinct axis-aligned ``side_m`` squares as SWEREF99 WKT,
    inside the packed area (the reference's 2x2 km query shape)."""
    rng = np.random.default_rng([seed, 3])
    xs = GEO_X0 + np.round(rng.uniform(0, extent_m - side_m, n), 1)
    ys = GEO_Y0 + np.round(rng.uniform(0, extent_m - side_m, n), 1)
    out = []
    for x, y in zip(xs, ys):
        ring = _quad(float(x), float(y), side_m, side_m)
        out.append("POLYGON((" + ", ".join(f"{a:.1f} {b:.1f}" for a, b in ring) + "))")
    return out
