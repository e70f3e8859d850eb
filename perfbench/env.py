"""Per-run environment: directories, the shipped package, the Spark
session, the JVM log, and process-tree memory.

Everything a run writes lives under `<checkout>/.perfbench_work/<run>/`
(removed when the run ends) or `<checkout>/.perfbench_cache/` (seeded
inputs, kept across runs).
"""
from __future__ import annotations

import hashlib
import os
import shutil
import threading
import time
import uuid
import zipfile

PKG = "spatial4n_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _hash_files(files) -> str:
    """sha256 over (relative path, bytes) pairs, taken in path order, so
    a directory and a zip of the same sources hash alike."""
    h = hashlib.sha256()
    for rel, data in sorted(files):
        h.update(rel.encode())
        h.update(data)
    return h.hexdigest()


def _dir_files(root: str):
    """(path relative to `root`, bytes) of every .py file of the package
    in the checkout at `root`."""
    for dp, _, fs in os.walk(os.path.join(root, PKG)):
        for f in fs:
            if f.endswith(".py"):
                full = os.path.join(dp, f)
                with open(full, "rb") as fh:
                    yield os.path.relpath(full, root).replace(os.sep, "/"), fh.read()


def source_hash(root: str) -> str:
    return _hash_files(_dir_files(root))


def zip_hash(path: str) -> str:
    with zipfile.ZipFile(path) as z:
        return _hash_files((n, z.read(n)) for n in z.namelist()
                           if n.startswith(PKG + "/") and n.endswith(".py"))


def build_zip(root: str, out: str) -> str:
    """Zip the checkout's package into `out` (always rebuilt: a run
    never ships another checkout's kernels)."""
    with zipfile.ZipFile(out, "w") as z:
        for rel, data in sorted(_dir_files(root)):
            z.writestr(rel, data)
    return out


class JvmLog:
    """The JVM's stderr, redirected to a file at launch. Byte offsets
    mark phases, so a pattern can be counted in timed phases only."""

    def __init__(self, path: str):
        self.path = path
        self._fh = open(path, "ab")

    def launch(self, start):
        """Call `start()` with fd 2 pointing at the log; the JVM and the
        Python workers it forks inherit it."""
        saved = os.dup(2)
        os.dup2(self._fh.fileno(), 2)
        try:
            return start()
        finally:
            os.dup2(saved, 2)
            os.close(saved)

    def offset(self) -> int:
        return os.path.getsize(self.path)

    def count(self, pattern: bytes, spans: list[tuple[int, int]]) -> int:
        pat = pattern.lower()
        n = 0
        with open(self.path, "rb") as fh:
            for lo, hi in spans:
                fh.seek(lo)
                n += fh.read(hi - lo).lower().count(pat)
        return n

    def close(self):
        self._fh.close()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of `pid` and its descendants: pages the
    forked Python workers share are counted once, not once per worker."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory (PSS) of this process and all its
    descendants (driver JVM, Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


def _worker_source_hash(_):
    """Runs inside a Python worker: hash the sources of the package the
    worker actually imports, from the shipped zip or from a directory."""
    import spatial4n_spark as pkg
    where = os.path.abspath(pkg.__file__)
    if ".zip" + os.sep in where:
        return zip_hash(where.split(".zip" + os.sep, 1)[0] + ".zip")
    return source_hash(os.path.dirname(os.path.dirname(where)))


class RunEnv:
    """Owns the run directory, the session and the JVM log."""

    def __init__(self, root: str):
        self.root = root
        self.dir = os.path.join(root, ".perfbench_work",
                                f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.cache = os.path.join(root, ".perfbench_cache")
        for d in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.dir, d), exist_ok=True)
        os.makedirs(self.cache, exist_ok=True)
        self.log = JvmLog(os.path.join(self.dir, "jvm.log"))
        self.spark = None
        self.timings: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_session(self, driver_mem: str = "3g"):
        """Zip the package, start Spark through the engine's own
        `session.get_spark` on local[nproc], and check that a Python
        worker imports this checkout's sources."""
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
        # The heap is committed and touched at start: otherwise how much
        # of it a run touches depends on GC timing, and the memory peak
        # spreads by a fifth from run to run.
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} '
            f'-Xms{driver_mem} -XX:+AlwaysPreTouch" '
            f"--conf spark.sql.warehouse.dir={self.path('warehouse')} "
            "pyspark-shell")

        t0 = time.perf_counter()
        zpath = build_zip(self.root, self.path("spatial4n_spark_pkg.zip"))
        self.timings["session.package_zip_s"] = time.perf_counter() - t0

        from spatial4n_spark import session
        # get_spark ships session.package_zip(), a shared /tmp artifact
        # rebuilt only when older than the sources; ship this run's zip.
        session.package_zip = lambda: zpath
        t0 = time.perf_counter()
        self.spark = self.log.launch(
            lambda: session.get_spark("perfbench", cpus=nproc()))
        self.timings["session.start_s"] = time.perf_counter() - t0

        # ship the check itself by value: workers need not import perfbench
        import sys

        from pyspark import cloudpickle
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        want = source_hash(self.root)
        got = (self.spark.sparkContext.parallelize([0], 1)
               .map(_worker_source_hash).collect()[0])
        if got != want:
            raise RuntimeError(
                f"Python worker imports {PKG} with source hash {got[:12]}, "
                f"this checkout has {want[:12]}")
        return self.spark

    def stop(self):
        """Stop Spark, the JVM and every process this run started, then
        delete the run directory."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext
                self.spark.stop()
                gw = SparkContext._gateway
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    # the JVM exits at EOF on its stdin. Shutting py4j's
                    # callback server down first would block on streams
                    # its reader threads hold; they end with the JVM.
                    proc.stdin.close()
                    proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, 15)
                except OSError:
                    pass
            deadline = time.time() + 10
            while descendants(os.getpid()) and time.time() < deadline:
                time.sleep(0.1)
        finally:
            self.log.close()
            shutil.rmtree(self.dir, ignore_errors=True)
