"""Layered benchmark of the spatial4n_spark engine.

    python3 perfbench/run.py --workload {ingest_join,tile_index,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Set-up starts Spark on local[nproc]
through the engine's `session.get_spark`, ships this checkout's
package, prepares the seeded inputs and their expected results, and
warms the workload once. Then it runs passes of the workload, closed
loop, until `--seconds` have passed (and at least the workload's
minimum number of passes), checking every result.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones of `metrics.END_TO_END`; with
`--trace 1` they are the per-layer ones of `metrics.PER_LAYER`, from a
run that walks the executed plan of every action of every operation
and reports what the walks cost as its tracing overhead.
"""
from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Runner:
    def __init__(self, env, workload: str, seed: int, seconds: float, trace: bool):
        from .env import source_hash
        from .workloads import WORKLOADS
        self.env = env
        self.seed = seed
        self.seconds = seconds
        self.tracing = trace
        self.source_hash = source_hash(ROOT)
        self.spark = None
        self.listener = None
        self.timings = {"setup.inputs_s": 0.0, "setup.warmup_s": 0.0}
        self.workload = WORKLOADS[workload](self)

    # --- hooks the workloads call ---------------------------------------
    @contextlib.contextmanager
    def _timer(self, key):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.timings[key] += time.perf_counter() - t0

    def inputs_timer(self):
        return self._timer("setup.inputs_s")

    def warmup_timer(self):
        return self._timer("setup.warmup_s")

    def clear(self):
        from spatial4n_spark.session import clear_cached_state
        clear_cached_state(self.spark)

    @contextlib.contextmanager
    def trace(self):
        """Around one timed operation: in a traced run, walk the plan of
        every action it starts."""
        if self.listener is None:
            yield
            return
        with self.listener:
            yield

    # --- the run ---------------------------------------------------------
    def run(self) -> dict:
        from .env import RssSampler
        from .layers import PlanListener
        t0 = time.perf_counter()
        self.spark = self.env.start_session()
        self.workload.setup()
        setup_s = time.perf_counter() - t0 - self.timings["setup.inputs_s"]
        setup_log = [(0, self.env.log.offset())]
        if self.tracing:
            self.listener = PlanListener(self.spark)

        wl = self.workload
        passes, timed_log = [], []
        with RssSampler() as rss:
            t0 = time.perf_counter()
            while len(passes) < wl.min_passes or time.perf_counter() - t0 < self.seconds:
                lo = self.env.log.offset()
                passes.append(wl.one_pass(len(passes), self.trace))
                timed_log.append((lo, self.env.log.offset()))

        ops = [o for p in passes for o in p.ops]
        failed = [o for o in ops if not o.ok]
        for o in ops:
            print(f"perfbench: {o.name} {o.seconds:.3f}s"
                  + ("" if o.ok else f" FAILED: {o.error}"), file=sys.stderr)
        if self.tracing:
            metrics = self._per_layer(passes, ops, setup_log, timed_log)
            from .metrics import PER_LAYER, emit
            out = emit(metrics, PER_LAYER)
        else:
            metrics = self._end_to_end(passes, ops, setup_s, rss.peak)
            from .metrics import END_TO_END, emit
            out = emit(metrics, END_TO_END)
        return {"correct": not failed, "attempted": len(ops),
                "failed": len(failed), "metrics": out}

    def _end_to_end(self, passes, ops, setup_s, peak_rss) -> dict:
        return {
            "pass_s": statistics.median(p.seconds for p in passes),
            "success_rate": 1.0 - sum(not o.ok for o in ops) / len(ops),
            "peak_rss_mb": peak_rss / 2**20,
            "setup_s": setup_s,
        }

    def _per_layer(self, passes, ops, setup_log, timed_log) -> dict:
        import numpy as np

        from . import probe
        from .metrics import PER_LAYER, QUERY_MIX
        wl = self.workload
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(self.env.timings)
        m.update(self.timings)

        for k, v in self.listener.totals.items():
            m[k] = v / len(passes)
        if wl.name == "ingest_join":
            m["operators.join_candidates"] = wl.candidates()
        if m["operators.join_candidates"]:
            m["operators.refine_yield"] = (m["operators.join_output_rows"]
                                           / m["operators.join_candidates"])
        if m["arrow.rows"]:
            m["python.us_per_row"] = m["python.total_ms"] * 1e3 / m["arrow.rows"]
        m["functions.build_s"] = sum(o.build_s for o in ops) / len(passes)
        m["functions.eager_jobs"] = sum(o.eager_jobs for o in ops) / len(passes)
        m["codegen.fallbacks"] = (self.env.log.count(b"failed to compile", timed_log)
                                  / len(passes))
        m["codegen.setup_fallbacks"] = self.env.log.count(b"failed to compile", setup_log)
        for k in ("checkpoint.bytes_per_span", "checkpoint.files_written",
                  "checkpoint.resume_s"):
            vals = [p.extra[k] for p in passes if k in p.extra]
            if vals:
                m[k] = statistics.median(vals)
        if wl.name == "query_mix":
            for q in QUERY_MIX:
                m[f"query.{q}.s"] = statistics.median(
                    o.seconds for o in ops if o.name == q)
        # the walks run after each action, and the traced block waits
        # for them: their time is what tracing adds to a run
        m["trace.overhead_pct"] = 100 * self.listener.walk_s / sum(o.seconds for o in ops)
        lat = [o.seconds for o in ops]
        m["latency.p50_s"] = statistics.median(lat)
        m["latency.p90_s"] = float(np.percentile(lat, 90))
        m["latency.samples"] = len(lat)
        m["error_rate"] = sum(not o.ok for o in ops) / len(ops)

        from . import inputs
        docs_dir, _ = inputs.docs_table(self.spark, self.env.cache, self.seed, 30_000)
        tables = inputs.query_tables(self.env.cache)
        m.update(probe.run(os.path.join(docs_dir, "docs"), tables))
        if self.listener.errors:
            print(self.listener.errors[0], file=sys.stderr)
            raise RuntimeError("plan walk failed")
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_join", "tile_index", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "spatial4n_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {ROOT} holds no spatial4n_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.env import RunEnv
    env = RunEnv(ROOT)
    try:
        result = Runner(env, args.workload, args.seed, args.seconds,
                        bool(args.trace)).run()
    finally:
        env.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # run as a script: put the checkout root, not this directory, first
    # on the path and import the package, so relative imports work
    sys.path[0] = ROOT
    from perfbench.run import main as package_main
    sys.exit(package_main())
