"""Seeded inputs and their expected results.

The docs tables follow the `sources.docs.generate_docs` schema
(`doc_id`, `spans: array<struct<kind, text, media_ref, offset>>`) but
are built here, from the seed, so every commit reads identical bytes.
The query tables are one fixed set (the query_mix seed shuffles the
query order, not the data). Both are cached under
`.perfbench_cache/<key>` where the key covers the seed, the size and a
hash of this file.

Expected results never come from the engine: the ingest_join row
count from DuckDB with the contract's own closed-rect containment SQL,
the tile_index span count from the generator's rules, the query_mix
answers from `__spark_entry__.oracle_sql()` in DuckDB, and the
overlay_areas pairs (which have no SQL oracle) from a convex clip of
the two triangle layers in NumPy.
"""
from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

import numpy as np

with open(__file__, "rb") as _fh:
    GEN_HASH = hashlib.sha256(_fh.read()).hexdigest()[:12]

# Per-doc selector s = k % 91 picks the WKT kind, like generate_docs'
# id % 13 / 7 / 5 rule; s == 1 is a malformed point the parser rejects.
# Shapes are kept clear of the dateline and the poles, so every other
# span is valid.
_DOCS_SQL = """
SELECT format_string('doc-%04d-%09d', {seed_tag}, id) AS doc_id,
       array(
         named_struct('kind', 'text',
                      'text', concat('synthetic document ', cast(id AS string),
                                     ' about tiles and joins lorem ipsum ',
                                     cast(k % 97 AS string)),
                      'media_ref', cast(NULL AS string), 'offset', 0),
         named_struct('kind', 'text', 'text', wkt,
                      'media_ref', cast(NULL AS string), 'offset', 1),
         named_struct('kind', 'media', 'text', cast(NULL AS string),
                      'media_ref', concat('raster://tile/', cast(k % 1024 AS string)),
                      'offset', 2)) AS spans
FROM (
  SELECT id, k,
    CASE
      WHEN s = 1 THEN concat('POINT (', x, ' n/a)')
      WHEN s % 13 = 0 THEN concat('POLYGON((', xa, ' ', ya, ', ', xa + 3.0, ' ', ya, ', ',
                                  xa + 1.5, ' ', ya + 4.5, ', ', xa, ' ', ya, '))')
      WHEN s % 7 = 0 THEN concat('ENVELOPE (', xa, ', ', xa + 2.0, ', ', ya + 1.0, ', ', ya, ')')
      WHEN s % 5 = 0 THEN concat('BUFFER(POINT(', x, ' ', y, '), ',
                                 cast(0.5 + (k % 40) / 10.0 AS double), ')')
      ELSE concat('POINT (', x, ' ', y, ')')
    END AS wkt
  FROM (
    SELECT id, k, s, x, y, least(x, 170.0) AS xa, least(greatest(y, -85.0), 80.0) AS ya
    FROM (
      SELECT id, k, k % 91 AS s,
        (k * 7919) % 71989 / cast(200.0 AS double) - 179.97 AS x,
        (k * 104729) % 35993 / cast(200.0 AS double) - 89.97 AS y
      FROM (SELECT id, pmod(id * 1103515245 + {seed}L * 12345 + 12345,
                            2147483648) AS k
            FROM range(0, {n}, 1, {parts}))
    )
  )
)
"""


def _key(*parts) -> str:
    return "-".join(str(p) for p in (*parts, GEN_HASH))


def _cached(cache_dir: str, key: str, build) -> tuple[str, dict]:
    """Return (dir, meta) for `key`, building it with build(tmp_dir) ->
    meta on a miss. The meta JSON is written last, so a half-built
    entry is never used."""
    d = os.path.join(cache_dir, key)
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return d, json.load(fh)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, meta


def docs_table(spark, cache_dir: str, seed: int, n_docs: int,
               n_buckets: int = 0) -> tuple[str, dict]:
    """Docs parquet at `<dir>/docs` (partitioned by `bucket` when
    n_buckets > 0, with the checkpoint layer's bucket formula) and its
    expected counts: `geo_spans` parseable WKT spans, `point_spans`
    parseable POINT spans."""
    def build(tmp):
        df = spark.sql(_DOCS_SQL.format(
            seed=int(seed), seed_tag=int(seed) % 10000, n=int(n_docs),
            parts=max(4, n_docs // 100_000)))
        if n_buckets:
            # one file per bucket, as a bucket transform lays a table out
            df = df.selectExpr(
                "*", f"pmod(xxhash64(doc_id), {n_buckets}) AS bucket")
            (df.repartition(n_buckets, "bucket").write.partitionBy("bucket")
               .parquet(os.path.join(tmp, "docs")))
        else:
            df.write.parquet(os.path.join(tmp, "docs"))
        return docs_expectations(seed, n_docs)
    return _cached(cache_dir, _key("docs", seed, n_docs, n_buckets), build)


def docs_expectations(seed: int, n_docs: int) -> dict:
    """Span counts of the docs table, from the generator's rules: every
    doc has one WKT span, malformed when s == 1, a POINT when s falls
    through every CASE branch."""
    k = (np.arange(n_docs, dtype=np.int64) * 1103515245 + int(seed) * 12345
         + 12345) % 2147483648
    s = k % 91
    ok = s != 1
    point = ok & (s % 13 != 0) & (s % 7 != 0) & (s % 5 != 0)
    return {"geo_spans": int(ok.sum()), "point_spans": int(point.sum())}


def ingest_expected(docs_dir: str, tables_dir: str) -> int:
    """Rows of the POINT-span x nation-rect containment join, computed
    by DuckDB with the contract's closed, dateline-aware rect test."""
    import duckdb

    from spatial4n_spark import contract as c
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW nation AS SELECT * FROM '{tables_dir}/nation.parquet'")
        sql = f"""
        WITH {c._CTE_NRECTS},
        sp AS (SELECT unnest(spans) AS s FROM read_parquet('{docs_dir}/**/*.parquet')),
        pts AS (
          SELECT CAST(split_part(b, ' ', 1) AS DOUBLE) AS x,
                 CAST(split_part(b, ' ', 2) AS DOUBLE) AS y
          FROM (SELECT regexp_extract(s.text, '^POINT \\(([^)]*)\\)$', 1) AS b FROM sp
                WHERE s.kind = 'text' AND s.text LIKE 'POINT (%'
                  AND NOT s.text LIKE '%n/a%'))
        SELECT count(*) FROM pts CROSS JOIN nrects
        WHERE {c._rect_contains_point_sql('minx', 'maxx', 'miny', 'maxy', 'x', 'y')}
        """
        return int(con.sql(sql).fetchone()[0])
    finally:
        con.close()


def query_tables(cache_dir: str, n_customer: int = 15_000,
                 n_supplier: int = 1_000, n_part: int = 20_000) -> str:
    """TPC-H-shaped nation/customer/supplier/part parquet tables (the
    columns the geo queries derive shapes from), with the sf0.1 row
    counts. Keys are a fixed sample of a ten times larger key range, so
    the points, circles and triangles do not line up on a grid."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp):
        rng = np.random.default_rng(20_010)

        def keys(n, hi):
            return np.sort(rng.choice(hi, size=n, replace=False)).astype(np.int64)

        nat = np.arange(25, dtype=np.int32)
        tables = {
            "nation": {"n_nationkey": nat,
                       "n_name": [f"NATION_{i}" for i in nat],
                       "n_regionkey": (nat % 5).astype(np.int32)},
        }
        ck = keys(n_customer, 10 * n_customer)
        tables["customer"] = {
            "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, ck.size).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, ck.size), 2),
            "c_mktsegment": rng.choice(["BUILDING", "MACHINERY", "HOUSEHOLD"], ck.size)}
        sk = keys(n_supplier, 10 * n_supplier)
        tables["supplier"] = {
            "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, sk.size).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, sk.size), 2)}
        pk = keys(n_part, 10 * n_part)
        tables["part"] = {
            "p_partkey": pk, "p_name": [f"part {k}" for k in pk],
            "p_brand": [f"Brand#{k % 25}" for k in pk],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO"], pk.size),
            "p_size": rng.integers(1, 50, pk.size).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900, 2000, pk.size), 2)}
        for name, cols in tables.items():
            pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))
        return {"rows": {n: len(next(iter(c.values()))) for n, c in tables.items()}}
    d, _ = _cached(cache_dir, _key("tables", n_customer, n_supplier, n_part), build)
    return d


def query_expected(cache_dir: str, tables_dir: str, names, code_hash: str):
    """(oracle result hashes by query, overlay_areas pairs) for the
    query tables, cached per tables and per engine sources (the oracles
    and the overlay layers come from the checkout's contract)."""
    def build(tmp):
        return {"hashes": oracle_hashes(tables_dir, names),
                "overlay": [[*k, *v] for k, v in overlay_expected(tables_dir).items()]}
    key = _key("expected", os.path.basename(tables_dir), code_hash[:12])
    _, meta = _cached(cache_dir, key, build)
    return meta["hashes"], {(r[0], r[1]): tuple(r[2:]) for r in meta["overlay"]}


# --- result normal form (as in tests/test_contract_oracle.py) -------------

def _canon(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def result_hash(rows, cols) -> str:
    """Hash of the column-name-sorted, row-sorted canonical form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x02".join(cols[i] for i in order).encode())
    for line in body:
        h.update(line.encode() + b"\n")
    return f"{len(body)}:{h.hexdigest()[:16]}"


def oracle_hashes(tables_dir: str, names) -> dict[str, str]:
    """DuckDB answers of the contract oracles, as result hashes."""
    import duckdb

    import __spark_entry__ as entry
    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("nation", "customer", "supplier", "part"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        out = {}
        for n in names:
            if n in sqls:
                res = con.sql(sqls[n])
                out[n] = result_hash(res.fetchall(), [d[0] for d in res.description])
        return out
    finally:
        con.close()


# --- overlay_areas: supplier x nation triangles --------------------------

def overlay_layers(tables_dir: str):
    """The two triangle layers of contract.q_overlay_areas, derived with
    the contract's own SQL fragments: ([(lid, xs, ys)], [(rid, xs, ys)])."""
    import duckdb

    from spatial4n_spark import contract as c
    con = duckdb.connect()
    try:
        a = con.sql(f"SELECT s_suppkey, {c.TCX}, {c.TCY} FROM "
                    f"'{tables_dir}/supplier.parquet'").fetchall()
        offs = ", ".join(f"{c._PPJ_BX} + {dx}, {c._PPJ_BY} + {dy}"
                         for dx, dy in c._PPJ_B_OFF)
        b = con.sql(f"SELECT n_nationkey, {offs} FROM "
                    f"'{tables_dir}/nation.parquet'").fetchall()
    finally:
        con.close()
    left = [(k, np.array([x, x + 24.0, x + 12.0]), np.array([y - 10.0, y - 10.0, y + 14.0]))
            for k, x, y in a]
    right = [(k, np.array(v[0::2]), np.array(v[1::2])) for k, *v in b]
    return left, right


def _area(xs, ys) -> float:
    return 0.5 * float(np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1)))


def _clip_convex(subject, clip):
    """Sutherland-Hodgman: the part of convex polygon `subject` inside
    convex counter-clockwise polygon `clip` (lists of (x, y))."""
    out = subject
    for i in range(len(clip)):
        (ax, ay), (bx, by) = clip[i], clip[(i + 1) % len(clip)]
        inp, out = out, []
        if not inp:
            break

        def side(p):
            return (bx - ax) * (p[1] - ay) - (by - ay) * (p[0] - ax)
        for j in range(len(inp)):
            p, q = inp[j - 1], inp[j]
            sp, sq = side(p), side(q)
            if sq >= 0:
                if sp < 0:
                    t = sp / (sp - sq)
                    out.append((p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1])))
                out.append(q)
            elif sp >= 0:
                t = sp / (sp - sq)
                out.append((p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1])))
    return out


def overlay_expected(tables_dir: str) -> dict:
    """{(lid, rid): (intersection area, frac_left, frac_right)} for
    every pair of overlapping triangles."""
    def ccw(xs, ys):
        pts = list(zip(xs.tolist(), ys.tolist()))
        return pts if _area(xs, ys) > 0 else pts[::-1]
    left, right = overlay_layers(tables_dir)
    out = {}
    for lid, lx, ly in left:
        la, lp = abs(_area(lx, ly)), ccw(lx, ly)
        for rid, rx, ry in right:
            if lx.max() < rx.min() or rx.max() < lx.min() \
                    or ly.max() < ry.min() or ry.max() < ly.min():
                continue
            inter = _clip_convex(lp, ccw(rx, ry))
            ia = abs(_area(*map(np.array, zip(*inter)))) if len(inter) >= 3 else 0.0
            if ia > 0:
                out[(lid, rid)] = (ia, ia / la, ia / abs(_area(rx, ry)))
    return out


def overlay_mismatch(rows, expected: dict, eps: float = 1e-9) -> str:
    """Compare overlay_areas rows (lid, rid, ia_deg2, fl, fr) with
    `expected`; pairs whose true area is below `eps` (touching
    triangles) may be present or not. Returns "" when they agree."""
    got = {(r[0], r[1]): r[2:] for r in rows}
    for k, (ia, fl, fr) in expected.items():
        if k not in got:
            if ia > eps:
                return f"pair {k} missing"
            continue
        g = got[k]
        if abs(g[0] - round(ia, 4)) > 1.5e-4 or abs(g[1] - round(fl, 6)) > 1.5e-6 \
                or abs(g[2] - round(fr, 6)) > 1.5e-6:
            return f"pair {k}: {tuple(g)} vs {(ia, fl, fr)}"
    extra = set(got) - set(expected)
    return f"unexpected pairs {sorted(extra)[:3]}" if extra else ""
