"""Per-layer numbers from Spark's per-node SQL metrics.

`walk_plan` turns an executed physical plan into one record per node,
descending through AdaptiveSparkPlan, the query stages, writes and
subqueries. `layer_totals` folds those records into the per-layer
metrics of `metrics.PER_LAYER`. `PlanListener` hands every SQL action
of a traced phase (including the ones the engine starts itself, such
as writes inside a job or eager jobs while a query is built) to the
walker through a py4j QueryExecutionListener.
"""
from __future__ import annotations

import threading
import time
import traceback

_JOINS = ("BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec",
          "BroadcastNestedLoopJoinExec", "CartesianProductExec")
# nodes a join's refine filter can sit above without ending the search
_PASS_THROUGH = ("ProjectExec", "ArrowEvalPythonExec", "BatchEvalPythonExec",
                 "InputAdapter", "WholeStageCodegenExec")


def _scala_map(jvm, m) -> dict:
    jm = jvm.scala.jdk.javaapi.CollectionConverters.asJava(m)
    return {k: jm[k] for k in jm.keySet()}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def walk_plan(jvm, plan) -> list[dict]:
    """One record per physical node: class name, metrics (timings in
    ms, other metrics raw), child indices. Reused exchanges and reused
    subqueries are not entered, so no node is counted twice."""
    nodes: list[dict] = []

    def visit(node) -> int:
        cls = node.getClass().getSimpleName()
        rec = {"cls": cls, "metrics": {}, "children": []}
        idx = len(nodes)
        nodes.append(rec)
        for name, m in _scala_map(jvm, node.metrics()).items():
            v = m.value()
            kind = m.metricType()
            if kind == "nsTiming":
                v = v / 1e6
            rec["metrics"][name] = v
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            return idx
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif cls == "CommandResultExec":
            kids = [node.commandPhysicalPlan()]
        else:
            kids = _seq(node.children())
        kids += _seq(node.subqueries())
        for k in kids:
            rec["children"].append(visit(k))
        return idx

    visit(plan)
    return nodes


def _is_python(rec) -> bool:
    return "pythonDataSent" in rec["metrics"]


def layer_totals(nodes: list[dict]) -> dict[str, float]:
    """Sum one plan's node metrics into layer totals."""
    t = dict.fromkeys((
        "sources.scan_ms", "sources.scan_rows", "codegen.pipeline_ms",
        "operators.join_candidates", "operators.join_output_rows",
        "operators.broadcast_ms", "python.boot_ms", "python.init_ms",
        "python.total_ms", "arrow.bytes_sent", "arrow.bytes_received",
        "arrow.rows", "arrow.udf_nodes", "shuffle.write_ms",
        "shuffle.bytes_written", "shuffle.fetch_wait_ms"), 0.0)
    parent = {}
    for i, rec in enumerate(nodes):
        for c in rec["children"]:
            parent[c] = i
    for i, rec in enumerate(nodes):
        cls, m = rec["cls"], rec["metrics"]
        if "Scan" in cls and "numOutputRows" in m:
            t["sources.scan_ms"] += m.get("scanTime", 0)
            t["sources.scan_rows"] += m["numOutputRows"]
        if cls == "WholeStageCodegenExec":
            t["codegen.pipeline_ms"] += m.get("pipelineTime", 0)
        if cls == "BroadcastExchangeExec":
            t["operators.broadcast_ms"] += (m.get("collectTime", 0)
                                            + m.get("buildTime", 0)
                                            + m.get("broadcastTime", 0))
        if cls in _JOINS:
            cand = m.get("numOutputRows", 0)
            out = cand
            # the exact refine is the nearest Filter above the join
            p = parent.get(i)
            while p is not None and nodes[p]["cls"] in _PASS_THROUGH:
                p = parent.get(p)
            if p is not None and nodes[p]["cls"] == "FilterExec":
                out = nodes[p]["metrics"].get("numOutputRows", cand)
            t["operators.join_candidates"] += cand
            t["operators.join_output_rows"] += out
        if _is_python(rec):
            t["arrow.udf_nodes"] += 1
            t["arrow.bytes_sent"] += m.get("pythonDataSent", 0)
            t["arrow.bytes_received"] += m.get("pythonDataReceived", 0)
            t["arrow.rows"] += m.get("pythonNumRowsReceived", 0)
            t["python.boot_ms"] += m.get("pythonBootTime", 0)
            t["python.init_ms"] += m.get("pythonInitTime", 0)
            t["python.total_ms"] += m.get("pythonTotalTime", 0)
        if cls == "ShuffleExchangeExec":
            t["shuffle.write_ms"] += m.get("shuffleWriteTime", 0)
            t["shuffle.bytes_written"] += m.get("shuffleBytesWritten", 0)
            t["shuffle.fetch_wait_ms"] += m.get("fetchWaitTime", 0)
    return t


def add_into(acc: dict[str, float], more: dict[str, float]) -> None:
    for k, v in more.items():
        acc[k] = acc.get(k, 0.0) + v


class PlanListener:
    """py4j implementation of org.apache.spark.sql.util.
    QueryExecutionListener, registered once per run. Inside
    `with listener:` every successful SQL action is walked and summed
    into `totals`, and the walks' time into `walk_s`; outside it the
    callback returns at once. (It stays
    registered: py4j hands the JVM a fresh proxy per call, so
    `unregister` cannot find the one `register` added.)"""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started
        self._spark = spark
        self._jvm = spark._jvm
        self._lock = threading.Lock()
        self.active = False
        self.totals: dict[str, float] = {}
        self.actions = 0
        self.walk_s = 0.0
        self.errors: list[str] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        if not self.active:
            return
        t0 = time.perf_counter()
        try:
            t = layer_totals(walk_plan(self._jvm, qe.executedPlan()))
        except Exception:  # a walk failure must not fail the action
            with self._lock:
                self.errors.append(traceback.format_exc())
            return
        with self._lock:
            add_into(self.totals, t)
            self.actions += 1
            self.walk_s += time.perf_counter() - t0

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM API)
        pass

    def _drain(self):
        """Wait until every event posted so far has been delivered."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def __enter__(self):
        # end events of earlier, untraced actions must not land inside
        self._drain()
        self.active = True
        return self

    def __exit__(self, *exc):
        # every action of the block has posted its end event
        self._drain()
        self.active = False

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
