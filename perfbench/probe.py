"""Direct kernel timings on samples of the workloads' own inputs, run
in the driver process (no Spark, no Arrow): compare them with the
traced `python.total_ms` per row to see what a UDF spends outside its
kernel."""
from __future__ import annotations

import statistics
import time

import numpy as np


def _median_time(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def wkt_sample(docs_dir: str, limit: int = 20_000) -> list[str]:
    import duckdb
    con = duckdb.connect()
    try:
        return [r[0] for r in con.sql(
            f"SELECT s.text FROM (SELECT unnest(spans) AS s FROM "
            f"read_parquet('{docs_dir}/**/*.parquet')) WHERE s.offset = 1 "
            f"LIMIT {int(limit)}").fetchall()]
    finally:
        con.close()


def triangle_pairs(tables_dir: str, limit: int = 300):
    """Ring pairs of the overlay_areas layers whose bboxes meet."""
    from .inputs import overlay_layers
    left, right = overlay_layers(tables_dir)

    def meets(p, q):
        return (p[0].min() <= q[0].max() and q[0].min() <= p[0].max()
                and p[1].min() <= q[1].max() and q[1].min() <= p[1].max())
    return [(p, q) for p in ((x, y) for _, x, y in left)
            for q in ((x, y) for _, x, y in right) if meets(p, q)][:limit]


def run(docs_dir: str, tables_dir: str) -> dict[str, float]:
    import pandas as pd

    from spatial4n_spark.kernels import geohash, wkt
    from spatial4n_spark.kernels.booleans import robust_boolean

    texts = pd.Series(wkt_sample(docs_dir), dtype=object)
    parse_s = _median_time(lambda: wkt.parse_wkt_columns(texts))
    cols = wkt.parse_wkt_columns(texts)
    boxes = ~np.isnan(np.asarray(cols["minx"], dtype=float)) & \
        (np.asarray(cols["kind"]) != 1)
    bb = [np.asarray(cols[k], dtype=float)[boxes] for k in ("minx", "maxx", "miny", "maxy")]
    n_codes = sum(len(c) for c in geohash.cover_codes_bbox_batch(*bb, 4))
    cover_s = _median_time(lambda: geohash.cover_codes_bbox_batch(*bb, 4))

    pairs = triangle_pairs(tables_dir)
    bool_s = _median_time(
        lambda: [robust_boolean([p], [q], "and") for p, q in pairs]) if pairs else 0.0
    return {
        "kernels.wkt_parse_rows_per_s": len(texts) / parse_s,
        "kernels.wkt_parse_us_per_row": parse_s / len(texts) * 1e6,
        "kernels.cover_codes_per_s": n_codes / cover_s if cover_s else 0.0,
        "kernels.robust_boolean_ms": bool_s / len(pairs) * 1e3 if pairs else 0.0,
    }
