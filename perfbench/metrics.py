"""Metric catalogue: every name the benchmark prints, with its unit.

`BENCHMARK.json` at the repository root lists the same names; the tests
in `perfbench/tests` keep the two in step.
"""
from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# The 13 queries of the query_mix workload: twelve contract
# queries plus the overlay-intersection join.
QUERY_MIX = (
    "pip_rect_join", "polygon_pip_join", "polygon_polygon_join",
    "dwithin_join", "knn", "knn_rings", "tile_assign", "cell_rollup",
    "extent_collection", "buffer_shapes", "zonal_stats",
    "multimodal_features", "overlay_areas",
)

# Printed with --trace 0, on every workload. The engine runs batch
# jobs and a pass is fixed work, so the end-to-end measure is the time
# of a full pass. A run holds too few operations (2-3 passes, 13
# queries) for a steady latency percentile; p50 and p90 are per-layer.
END_TO_END = {
    "pass_s": "s",               # one full pass of the workload
    "success_rate": "ratio",     # 1 - error_rate
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

# Printed with --trace 1, on every workload. Layer sums and
# `codegen.fallbacks` are per pass (averaged over the run's passes);
# `codegen.setup_fallbacks` is the total of set-up; a layer a workload
# never reaches reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.package_zip_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
    "sources.scan_ms": "ms",
    "sources.scan_rows": "count",
    "codegen.pipeline_ms": "ms",
    "codegen.fallbacks": "count",
    "codegen.setup_fallbacks": "count",
    "functions.build_s": "s",
    "functions.eager_jobs": "count",
    "operators.join_candidates": "count",
    "operators.join_output_rows": "count",
    "operators.refine_yield": "ratio",
    "operators.broadcast_ms": "ms",
    "python.boot_ms": "ms",
    "python.init_ms": "ms",
    "python.total_ms": "ms",
    "python.us_per_row": "us",
    "arrow.bytes_sent": "bytes",
    "arrow.bytes_received": "bytes",
    "arrow.rows": "count",
    "arrow.udf_nodes": "count",
    "kernels.wkt_parse_rows_per_s": "1/s",
    "kernels.wkt_parse_us_per_row": "us",
    "kernels.cover_codes_per_s": "1/s",
    "kernels.robust_boolean_ms": "ms",
    "shuffle.write_ms": "ms",
    "shuffle.bytes_written": "bytes",
    "shuffle.fetch_wait_ms": "ms",
    "checkpoint.bytes_per_span": "bytes",
    "checkpoint.files_written": "count",
    "checkpoint.resume_s": "s",
    **{f"query.{q}.s": "s" for q in QUERY_MIX},
    "latency.p50_s": "s",
    "latency.p90_s": "s",
    "latency.samples": "count",
    "error_rate": "ratio",
    "trace.overhead_pct": "%",
}


def emit(values: dict[str, float], catalogue: dict[str, str]) -> dict:
    """Shape `values` into the result's `metrics` object, in catalogue
    order; a name missing from `values` is a bug, not a zero."""
    missing = [n for n in catalogue if n not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {n: {"value": float(values[n]), "unit": u}
            for n, u in catalogue.items()}
