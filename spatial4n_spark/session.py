"""SparkSession factory with scale-oriented defaults.

Tuned for the engine's workload shape: Arrow-batched kernel UDFs, cell
equi-joins with potential skew, bbox-column pruning. On a real cluster
the same confs apply; parallelism comes from the master/cluster manager.

Constraint propagation is off (`spark.sql.constraintPropagation.enabled`).
The engine's plans carry large CASE and struct expressions (cell codes,
shape structs, bbox gates), and building constraint sets over them is a
large share of planning: `executedPlan()` of a warm `overlay_areas`
at sf0.01 took 0.61-0.76 s with propagation on and 0.09-0.12 s with it
off (medians of 5 builds, two alternating rounds, 4 cores). Propagation also lets `InferFiltersFromConstraints` turn every
two-layer bbox gate into `isnotnull(<parse UDF>.minx)`-style filters
below the parse projection, so the parse UDF ran in a second Python
node on each side of `polygon_polygon_join` and `overlay_areas`. The
engine needs none of the inferred filters: joins are keyed on cell
codes, and scans still get the filters written in the query.
"""
from __future__ import annotations

import hashlib
import os
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip this package for worker shipping (the --py-files artifact).

    On a cluster: `spark-submit --py-files $(python -c 'from
    spatial4n_spark.session import package_zip; print(package_zip())')`.
    Locally, get_spark() calls addPyFile with it so pandas-UDF workers
    can import the kernels regardless of the driver's cwd.

    The zip's name carries a hash of the package's sources, so two
    checkouts with different code never share a zip, whatever their
    file times say.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    sources = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(pkg_dir)
                     for f in fs if f.endswith(".py"))
    digest = hashlib.sha256()
    for full in sources:
        with open(full, "rb") as fh:
            digest.update(os.path.relpath(full, root).encode() + b"\0"
                          + fh.read() + b"\0")
    out = os.path.join("/tmp",
                       f"spatial4n_spark_pkg-{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(out):
        tmp = f"{out}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in sources:
                z.write(full, os.path.relpath(full, root))
        os.replace(tmp, out)
    return out


def clear_cached_state(spark: SparkSession) -> int:
    """Unpersist every persistent RDD (localCheckpoint blocks included)
    and clear the table cache. Returns the number of RDDs released.

    Why this exists: iterative operators (CC label rounds, LSH
    band tables, the multimodal decode materialization) use eager
    ``localCheckpoint`` — correct within a query, but the blocks stay
    pinned in the block manager until the RDD object is GC'd on the
    driver. In a long session running many queries back-to-back that
    residue accumulates and degrades later Python-worker stages
    (measured: `multimodal_features` 1.6-3.4 s fresh vs 8-16 s after
    25+ queries in the same session — BENCH.md round 5). Sweeping
    between queries restores fresh-session behavior. Safe whenever no
    checkpointed frame from a PREVIOUS query is re-used (the engine's
    queries are self-contained); a truncated-lineage RDD that is
    unpersisted cannot be recomputed, so don't call this mid-query.
    """
    import gc

    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for jrdd in list(jmap.values()):
        jrdd.unpersist(False)
        n += 1
    gc.collect()  # drop driver-side refs so the ContextCleaner can run
    return n


def get_spark(app: str = "spatial4n_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2x cores locally; on a cluster AQE coalesces from a higher start
        shuffle_partitions = max(2 * cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting (hot geo cells)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for pandas UDF kernels; batch size caps kernel
        # working-set (vertex arrays can be wide)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # 32MB scan splits: enough tasks that the final wave is never a
        # large idle fraction of the cores (at 128MB a 3.5GB table read
        # as 28 tasks left 12 of 16 cores idle in the second wave —
        # measured scaling efficiency 0.64 vs 0.93 with even waves).
        # On a 100TB table either size yields tens of thousands of
        # tasks; locally the smaller split is what keeps waves even.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # wave quantization floor: small inputs (the 255MB scaling-
        # bench table) otherwise coalesce to ~27 splits, a 1.7-wave
        # read at 16 cores whose idle tail alone caps 4->16 efficiency
        # at ~0.84 before any hardware effect. 4 waves per core keeps
        # the tail ≤ 1/4 wave; on big tables maxPartitionBytes rules.
        .config("spark.sql.files.minPartitionNum", str(4 * cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no inferred filters: see the module docstring
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    return spark
