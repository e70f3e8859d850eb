"""Distributed connected components — near-dup cluster assembly.

The standard final step of MinHash/LSH dedup at corpus scale: candidate
pairs form a graph; each connected component is one duplicate cluster;
the minimum doc id is the canonical representative (same convention as
exact_dedup's min(doc_id)).

Algorithm: iterative min-label propagation over the symmetrized edge
list — per round ONE shuffle keyed by node (groupBy min), lineage
truncated with an eager localCheckpoint, early exit when no label
changed. Rounds = O(component diameter); near-dup clusters are
shallow (chains longer than a few hops mean the threshold is wrong),
so this converges in 2-4 rounds in practice. For adversarial
long-chain graphs swap in the alternating large-star/small-star
iteration (Kiveris et al., O(log^2 n) rounds) — the per-round plumbing
(symmetrize -> groupBy min -> checkpoint -> convergence probe) is
identical, only the message rule changes.

Scale notes (1e9+ docs): labels and messages are 2-column narrow rows;
the per-round shuffle is bounded by |E| + |V|, never materializes
components; convergence probe is a count over the materialized frame
(no extra lineage). Per-round materialization is localCheckpoint by
default (executor block-manager memory — fastest at bench scale); pass
``stage_dir`` to stage rounds through PARQUET instead: spill-safe at
1e9+ nodes where pinned checkpoint blocks would pressure executor
memory, and each round's files survive executor loss.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         vertices: DataFrame | None = None,
                         max_iter: int = 25,
                         strict: bool = True,
                         stage_dir: str | None = None) -> DataFrame:
    """(node, label) with label = min node id of the component.

    `vertices` (single-column DataFrame, optional) adds isolated nodes
    (they label themselves — dedup singletons). `strict` raises if the
    fixpoint was not reached within max_iter (non-converged labels are
    silently WRONG otherwise); the min label travels one hop per round,
    so max_iter bounds the component diameter this call can handle.
    `stage_dir`: directory for parquet round staging (see module doc);
    None defers to the session default `spark.spatial4n.stageDir`
    (staging.resolve_stage_dir), else in-memory localCheckpoint.
    Results are identical.
    """
    from ..staging import drop_stage, resolve_stage_dir, staged
    spark = edges.sparkSession
    stage_dir = resolve_stage_dir(spark, stage_dir)

    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # materialize the symmetrized edge list ONCE: it is re-joined every
    # round (and by the convergence probe), and the upstream edge
    # derivation can be an expensive pipeline (e.g. the MinHash-LSH
    # self-join feeding dedup_clusters)
    sym, _ = staged(und.union(und.select(F.col("b").alias("a"),
                                         F.col("a").alias("b"))),
                    "cc_sym", stage_dir)
    nodes = sym.select(F.col("a").alias("node")).distinct()
    if vertices is not None:
        vcol = vertices.columns[0]
        nodes = nodes.union(
            vertices.select(F.col(vcol).alias("node"))).distinct()
    labels, labels_path = staged(nodes.withColumn("label", F.col("node")),
                                 "cc_labels", stage_dir)

    converged = False
    for i in range(max_iter):
        msgs = (sym.join(labels, sym["a"] == labels["node"], "inner")
                   .select(F.col("b").alias("node"), F.col("label")))
        # convergence probe rides the SAME job as the materialization
        # (an Observation over the old-vs-new label join) — one pass
        # over the data per round instead of checkpoint + probe jobs
        obs = Observation(f"cc_round_{i}")
        # round barrier: triggers the plan (firing its Observation) and
        # truncates lineage
        labels, new_path = staged(
            labels.select("node", "label").union(msgs)
                  .groupBy("node").agg(F.min("label").alias("label"))
                  .join(labels.select(F.col("node"),
                                      F.col("label").alias("__old")),
                        "node")
                  .observe(obs, F.sum(
                      (F.col("label") != F.col("__old")).cast("long"))
                      .alias("nchanged"))
                  .select("node", "label"),
            "cc_labels", stage_dir)
        if labels_path is not None:
            # consumed by the write just done
            drop_stage(spark, labels_path)
        labels_path = new_path
        if not obs.get["nchanged"]:
            converged = True
            break
    if strict and not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter or use "
            "an alternating-star iteration for long-chain graphs")
    return labels
