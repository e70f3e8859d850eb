"""The three workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned and been checked.

A workload has `setup()` (untimed by the measurement loop; it is what
`setup_s` reports) and `one_pass(i, trace)`, which runs one pass and
returns its operations. A run makes at least `min_passes` passes.
`trace()` is a context manager from the runner that, in a traced run,
switches the plan listener on around each operation.
"""
from __future__ import annotations

import contextlib
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from . import inputs


@dataclass
class Op:
    """One timed operation: a pass (ingest_join, tile_index) or a query
    (query_mix)."""
    name: str
    seconds: float
    ok: bool
    build_s: float = 0.0
    eager_jobs: int = 0
    error: str = ""


@dataclass
class Pass:
    ops: list[Op]
    seconds: float
    extra: dict = field(default_factory=dict)


def _build(spark, builder, group: str):
    """Call a DataFrame builder under its own job group; return the
    frame, the build time and the Spark jobs it started eagerly."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "build")
    t0 = time.perf_counter()
    df = builder()
    dt = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(group + "-run", "run")
    return df, dt, jobs


class IngestJoin:
    """Materialized docs -> JVM point-span parse -> cell assignment ->
    point_in_shape_join against the nation rects -> count."""
    name = "ingest_join"
    n_docs = 300_000
    min_passes = 3

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        ctx = self.ctx
        with ctx.inputs_timer():
            self.tables = inputs.query_tables(ctx.env.cache)
            d, meta = inputs.docs_table(ctx.spark, ctx.env.cache, ctx.seed, self.n_docs)
            self.docs_path = os.path.join(d, "docs")
            exp_path = os.path.join(d, "ingest_expected")
            if not os.path.exists(exp_path):
                with open(exp_path, "w") as fh:
                    fh.write(str(inputs.ingest_expected(self.docs_path, self.tables)))
            with open(exp_path) as fh:
                self.expected = int(fh.read())
        from spatial4n_spark.plans.strategy import plan_point_shape_join
        self.plan = plan_point_shape_join(self.n_docs, 25, 34.0, 18.0, shape_kinds=(2,))
        with ctx.warmup_timer():
            self.one_pass(-1, contextlib.nullcontext)

    def _frame(self):
        from spatial4n_spark import contract
        from spatial4n_spark.operators.joins import point_in_shape_join, with_point_cell
        from spatial4n_spark.sources.docs import extract_point_spans
        spark = self.ctx.spark
        docs = spark.read.parquet(self.docs_path)
        rects = contract.nation_rects(spark, self.tables)
        pts = extract_point_spans(docs).select("doc_id", "x", "y")
        pts = with_point_cell(pts, "x", "y", self.plan.precision)
        return point_in_shape_join(pts, rects, self.plan).groupBy().count()

    def one_pass(self, i, trace):
        with trace():
            t0 = time.perf_counter()
            agg, b, j = _build(self.ctx.spark, self._frame, f"ingest-{i}")
            n = agg.collect()[0][0]
            dt = time.perf_counter() - t0
        ok = n == self.expected
        op = Op(self.name, dt, ok, b, j,
                "" if ok else f"rows {n} != {self.expected}")
        return Pass([op], dt)

    def candidates(self) -> int:
        """Cell equi-join rows before the exact refine. The rect refine
        is fused into the broadcast join's condition, so the plan shows
        only its output; one extra action counts the candidates."""
        from spatial4n_spark import contract
        from spatial4n_spark.operators.joins import with_point_cell, with_shape_cover
        from spatial4n_spark.sources.docs import extract_point_spans
        spark = self.ctx.spark
        pts = with_point_cell(extract_point_spans(spark.read.parquet(self.docs_path))
                              .select("doc_id", "x", "y"), "x", "y", self.plan.precision)
        cover = with_shape_cover(contract.nation_rects(spark, self.tables), "shape",
                                 self.plan.precision, codes=True)
        return pts.join(cover, pts["cell_id"] == cover["cover_cell"]).groupBy().count() \
            .collect()[0][0]


class TileIndex:
    """Bucketed docs -> jobs.tile_index.run_tile_index_job into a fresh
    output directory each pass; then a re-run that must skip every
    bucket."""
    name = "tile_index"
    n_docs = 300_000
    n_buckets = 8
    warmup_passes = 1
    min_passes = 2

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        ctx = self.ctx
        with ctx.inputs_timer():
            d, meta = inputs.docs_table(ctx.spark, ctx.env.cache, ctx.seed,
                                        self.n_docs, self.n_buckets)
            self.in_path = os.path.join(d, "docs")
            self.expected = meta["geo_spans"]
        # the session's first pass runs at about a third of the steady
        # speed (class loading, JIT, Python worker imports)
        with ctx.warmup_timer():
            for i in range(self.warmup_passes):
                self.one_pass(-1 - i, contextlib.nullcontext)

    def one_pass(self, i, trace):
        from spatial4n_spark.checkpoint import load_manifests
        from spatial4n_spark.jobs.tile_index import run_tile_index_job
        out = self.ctx.env.path(f"tile_out_{i + 1}")
        with trace():
            t0 = time.perf_counter()
            res = run_tile_index_job(self.ctx.spark, self.in_path, out, self.n_buckets)
            dt = time.perf_counter() - t0
        t0 = time.perf_counter()
        again = run_tile_index_job(self.ctx.spark, self.in_path, out, self.n_buckets)
        resume_s = time.perf_counter() - t0
        errors = []
        if res["output_rows"] != self.expected:
            errors.append(f"output_rows {res['output_rows']} != {self.expected}")
        if sorted(load_manifests(out)) != list(range(self.n_buckets)):
            errors.append("missing bucket manifests")
        if again["buckets_skipped"] != self.n_buckets or again["buckets_run"]:
            errors.append(f"re-run ran {again['buckets_run']} buckets")
        data_bytes = files = 0
        for dp, _, fs in os.walk(out):
            for f in fs:
                if f.endswith(".parquet") or f.endswith(".json"):
                    files += 1
                if f.endswith(".parquet"):
                    data_bytes += os.path.getsize(os.path.join(dp, f))
        shutil.rmtree(out, ignore_errors=True)
        op = Op(self.name, dt, not errors, error="; ".join(errors))
        spans = max(res["output_rows"], 1)
        return Pass([op], dt, {
            "checkpoint.bytes_per_span": data_bytes / spans,
            "checkpoint.files_written": files,
            "checkpoint.resume_s": resume_s})


class QueryMix:
    """The 13 geo queries, in a seeded order per pass, each built,
    collected and compared with its expected result."""
    name = "query_mix"
    min_passes = 1

    def __init__(self, ctx):
        self.ctx = ctx

    def _fn(self, name):
        from spatial4n_spark import contract
        if name == "overlay_areas":
            return contract.q_overlay_areas
        import __spark_entry__ as entry
        return getattr(contract, entry.queries()[name].__name__)

    def setup(self):
        from .metrics import QUERY_MIX
        ctx = self.ctx
        with ctx.inputs_timer():
            self.tables = inputs.query_tables(ctx.env.cache)
            self.expected, self.overlay = inputs.query_expected(
                ctx.env.cache, self.tables, QUERY_MIX, ctx.source_hash)
        self.fns = {n: self._fn(n) for n in QUERY_MIX}
        # the session's first query pays the JVM's class loading and JIT
        with ctx.warmup_timer():
            op = self.query("pip_rect_join", "warm-up")
            ctx.clear()
        if not op.ok:
            raise RuntimeError(f"warm-up pip_rect_join: {op.error}")

    def query(self, name, group) -> Op:
        spark = self.ctx.spark
        t0 = time.perf_counter()
        try:
            df, b, j = _build(spark, lambda: self.fns[name](spark, self.tables), group)
            rows = df.collect()
        except Exception as e:  # a failed query is counted, the run goes on
            return Op(name, time.perf_counter() - t0, False, error=repr(e)[:300])
        dt = time.perf_counter() - t0
        if name == "overlay_areas":
            at = [df.columns.index(c) for c in ("lid", "rid", "ia_deg2", "fl", "fr")]
            err = inputs.overlay_mismatch([tuple(r[i] for i in at) for r in rows],
                                          self.overlay)
        else:
            h = inputs.result_hash([tuple(r) for r in rows], df.columns)
            err = "" if h == self.expected[name] else f"hash {h} != {self.expected[name]}"
        return Op(name, dt, not err, build_s=b, eager_jobs=j, error=err)

    def order(self, i):
        names = sorted(self.fns)
        random.Random(f"{self.ctx.seed}-{i}").shuffle(names)
        return names

    def one_pass(self, i, trace):
        ops = []
        for n in self.order(i):
            with trace():
                ops.append(self.query(n, f"q{i}-{n}"))
            self.ctx.clear()   # untimed session hygiene between queries
        return Pass(ops, sum(o.seconds for o in ops))


WORKLOADS = {w.name: w for w in (IngestJoin, TileIndex, QueryMix)}
