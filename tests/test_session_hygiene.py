"""clear_cached_state: sweeps localCheckpoint blocks + table cache.

Why: iterative operators (CC rounds, multimodal decode)
eager-localCheckpoint intermediate frames; the blocks stay pinned in
the block manager until driver GC. In a long bench session that
residue degraded later Python-worker queries 2-8x (VERDICT r04 #1).
bench.py now sweeps between queries; this test pins the sweep's
contract.
"""
import pyspark.sql.functions as F


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_clear_cached_state_releases_checkpoint_blocks(spark):
    from spatial4n_spark.session import clear_cached_state

    clear_cached_state(spark)
    base = _n_persistent(spark)

    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    chk = df.localCheckpoint(eager=True)
    assert chk.count() == 1000
    cached = df.cache()
    assert cached.count() == 1000
    assert _n_persistent(spark) > base

    released = clear_cached_state(spark)
    assert released >= 1
    assert _n_persistent(spark) <= base
    # the session stays fully usable afterwards
    assert spark.range(10).count() == 10


def test_clear_cached_state_idempotent(spark):
    from spatial4n_spark.session import clear_cached_state

    clear_cached_state(spark)
    assert clear_cached_state(spark) == 0


def test_package_zip_is_keyed_by_source_content(tmp_path):
    """Two copies of the package whose files carry the same old mtimes
    (a `git archive` export keeps commit times) but differ in one
    source get different zips, each holding its own code."""
    import importlib.util
    import os
    import shutil
    import zipfile

    from spatial4n_spark import session

    src = os.path.dirname(os.path.abspath(session.__file__))
    zips = []
    for name, tail in (("a", ""), ("b", "# changed\n")):
        pkg = tmp_path / name / "spatial4n_spark"
        shutil.copytree(src, pkg,
                        ignore=shutil.ignore_patterns("__pycache__"))
        with open(pkg / "kernels" / "pip.py", "a") as fh:
            fh.write(tail)
        for dp, _, fs in os.walk(pkg):
            for f in fs:
                os.utime(os.path.join(dp, f), (946684800, 946684800))
        spec = importlib.util.spec_from_file_location(
            f"_session_copy_{name}", pkg / "session.py")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        zips.append(mod.package_zip())
    bodies = []
    for z in zips:
        with zipfile.ZipFile(z) as zf:
            bodies.append(zf.read("spatial4n_spark/kernels/pip.py"))
    os.remove(zips[1])
    assert zips[0] != zips[1]
    assert not bodies[0].endswith(b"# changed\n")
    assert bodies[1].endswith(b"# changed\n")
