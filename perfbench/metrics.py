"""Metric names, units and better-directions (mirrored in BENCHMARK.json)
and the order statistics the report uses."""

from __future__ import annotations

import statistics

WORKLOAD_NAMES = ("flagship", "neighbor_joins")

#: (name, unit, better, bound) — the untraced run's gated result
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_cpu_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

#: (name, unit) — op wall times, printed by the untraced run but not gated:
#: on a shared 4-core host their spread over seeds reached 0.35-0.47 of
#: the median under co-tenant load, above any admissible bound (README)
PRINTED = [("first_op_s", "s"), ("op_s_p50", "s"), ("rows_per_s", "rows/s")]

LAYERS = [
    "session", "sources.images", "functions.cells", "operators.pip_join.prepare",
    "operators.pip_join", "plans.pipeline", "operators.images_ops", "operators.knn",
    "operators.range_join", "streaming.cdc", "plans.incremental", "sources.catalog",
]

GENERIC = [
    ("self_s", "s", "lower"), ("jobs", "count", "lower"), ("tasks", "count", "lower"),
    ("exec_cpu_s", "s", "lower"), ("shuffle_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"), ("task_skew", "ratio", "lower"),
    ("rows_out", "count", "higher"),
]

EXTRA = [
    ("session.start_s", "s", "lower"),
    ("sources.images.input_bytes", "bytes", "lower"),
    ("operators.pip_join.prepare.covering_cells", "count", "lower"),
    ("operators.pip_join.prepare.boundary_cells", "count", "lower"),
    ("operators.pip_join.candidate_rows", "count", "lower"),
    ("operators.pip_join.hit_ratio", "ratio", "higher"),
    ("operators.pip_join.udf_tasks", "count", "lower"),
    ("operators.images_ops.kernel_rows_per_s", "rows/s", "higher"),
    ("operators.images_ops.udf_tasks", "count", "lower"),
    ("operators.images_ops.scaling_eff", "ratio", "higher"),
    ("operators.knn.exact_ratio", "ratio", "higher"),
    ("operators.knn.actions", "count", "lower"),
    ("operators.range_join.pairs_out", "count", "higher"),
    ("plans.incremental.dirty_tiles", "count", "lower"),
    ("plans.incremental.recompute_ratio", "ratio", "lower"),
    ("sources.catalog.bytes_written", "bytes", "lower"),
    ("sources.catalog.files_written", "count", "lower"),
    ("sources.catalog.read_s", "s", "lower"),
    ("tracing_overhead_pct", "%", "lower"),
    ("unattributed_s", "s", "lower"),
]

PER_LAYER = [(f"{layer}.{m}", unit, better) for layer in LAYERS
             for m, unit, better in GENERIC] + EXTRA

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quartiles(xs) -> tuple[float, float, float]:
    if len(xs) < 2:
        v = float(xs[0]) if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs) -> tuple[int, float] | None:
    """(percentile, value) for the highest percentile of the ladder with
    at least ten samples beyond it, or None when there are too few."""
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            s = sorted(xs)
            return p, s[min(len(s) - 1, int(round(p / 100 * (len(s) - 1))))]
    return None


def slow_ops(xs, factor: float = 1.5) -> list[int]:
    """Indices of ops slower than ``factor`` x the median (a slow mode)."""
    m = median(xs)
    return [i for i, x in enumerate(xs) if m and x > factor * m]
