"""Shared definitions: the metric catalogue, run context, outcome and
the order-insensitive result digest used by every correctness check."""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field
from pathlib import Path

# End-to-end metrics, reported by every workload from untraced runs,
# name -> unit. What each means per workload: README.md.
E2E: dict[str, str] = {
    "setup_s": "s",
    "light_ms": "ms",
    "heavy_ms": "ms",
}

# Per-layer metrics of a traced run, name -> unit. Every workload
# reports all of them; a layer the workload never calls reads 0.
LAYERS: dict[str, str] = {
    "session.start_s": "s",
    "tables.load_calls": "count",
    "tables.load_ms": "ms",
    "short.build_ms": "ms",
    "long.build_ms": "ms",
    "spark.build_jobs": "count",
    "catalyst.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "result.rows": "count",
    "query.cells_ms": "ms",
    "query.prepare_ms": "ms",
    "query.lookup_ms": "ms",
    "query.hit_ratio": "ratio",
    "runner.dataset_s.biotop": "s",
    "runner.dataset_s.naturminnen": "s",
    "runner.dataset_s.linjer": "s",
    "runner.dataset_s.avdelning": "s",
    "runner.index_rows": "count",
    "runner.errors": "count",
    "warehouse.grid_stats_s": "s",
    "warehouse.compact_s": "s",
    "warehouse.bytes.raw": "bytes",
    "warehouse.bytes.staging": "bytes",
    "warehouse.bytes.mart": "bytes",
    "warehouse.files": "count",
    "export.csv_s": "s",
    "generator.lag_ms": "ms",
    "generator.backlog_max": "count",
    "host.steal_pct": "%",
    "host.cpu_s": "s",
    "host.floor_ms": "ms",
    "host.load1": "load",
    "host.peak_rss_mb": "MiB",
    "trace.overhead_pct": "%",
}


@dataclass
class Context:
    spark: object
    tracer: object
    meter: object
    work: Path
    seed: int
    seconds: float
    setup_t0: float  # perf_counter() when set-up began (before Spark starts)


@dataclass
class Outcome:
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict[str, object] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    window_s: float = 0.0

    def check(self, ok: bool, msg: str) -> bool:
        """Count one checked operation; a failed one keeps ``msg``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(msg)
        return ok


def _canon(v):
    """Canonical form of one value: floats to 9 significant digits
    (aggregation order may move the last bits), nested rows and lists
    recursively."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive digest) of collected rows."""
    acc = 0
    for r in rows:
        h = hashlib.blake2b(repr(_canon(tuple(r))).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % 2**64
    return len(rows), f"{acc:016x}"
