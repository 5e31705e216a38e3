"""SparkSession builder with the Arrow + AQE settings the engine assumes.

Tuned for the local[N] test harness but every setting is the one you'd set
on a real multi-executor cluster: Arrow exchange on (the engine's hot path
is ``mapInArrow``), adaptive query execution + skew-join handling on,
shuffle partitions sized to cores (overridable for cluster use).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make the zseq package importable on executors regardless of the
    driver's cwd — the programmatic equivalent of
    ``spark-submit --py-files zseq.zip``. Idempotent per session."""
    if getattr(spark, "_zseq_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zpath = tempfile.mkstemp(prefix="zseq_pkg_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    # Executors FETCH the zip lazily from this original path (deleting it
    # eagerly breaks Executor.updateDependencies — measured), so the
    # mkstemp file must outlive the app; clean it up at interpreter exit
    # instead of leaking one zip per session on long-lived hosts.
    import atexit

    atexit.register(lambda p=zpath: os.path.exists(p) and os.remove(p))
    spark._zseq_shipped = True


def quiet_worker_zip_finders() -> None:
    """Executor-side: make immutable zip/jar import finders' cache
    invalidation a no-op.

    pyspark's worker loop calls ``importlib.invalidate_caches()`` before
    EVERY task (worker_util.setup_spark_files), and each zipimporter in
    ``sys.path_importer_cache`` re-reads its zip's whole central
    directory on that call. On this Spark layout (pyspark.zip spawns one
    finder per sub-package plus spark jars on the path) that measures
    130-220 ms of pure overhead per Python task — the executor thread
    just waits on the worker (verified by jstack + worker-side phase
    timing). The distribution zips and fetched pyFiles are immutable for
    the lifetime of the app (Spark fetches each file once; re-adding a
    changed file is unsupported), so skipping their directory re-read is
    semantics-preserving. A finder created later (e.g. a subsequent
    addPyFile) keeps normal behavior until a later task quiets it, and
    its first read is always fresh. Idempotent, instance-scoped (no
    global importlib patch)."""
    import sys
    import zipimport

    for f in list(sys.path_importer_cache.values()):
        if isinstance(f, zipimport.zipimporter) \
                and "invalidate_caches" not in f.__dict__:
            try:
                f.invalidate_caches = lambda: None
            except AttributeError:
                pass


def run_tasks(spark: SparkSession, items: list, fn, schema) -> DataFrame:
    """The one task frame: one Spark task per item of ``items``, each
    yielding the Arrow record batches of ``fn(item)`` in ``schema`` (a
    DDL string or StructType). The task list is ``spark.range`` (built
    only in the JVM: no Python RDD hop, no per-item plan literal); the
    worker looks its item up by id in the closure-captured ``items``."""
    def task(batches):
        quiet_worker_zip_finders()
        for b in batches:
            for i in b.column(0).to_pylist():
                yield from fn(items[i])

    n = len(items)
    return spark.range(0, n, 1, n).mapInArrow(task, schema)


def get_spark(app: str = "zseq", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    sp = shuffle_partitions or cpus
    # Streaming Python-DataSource runners (offset management) are spawned
    # by the JVM with the JVM's env, NOT with the task-worker pyFiles
    # bootstrap — addPyFile alone leaves them unable to import zseq when
    # the driver cwd is outside the repo. Exporting PYTHONPATH before the
    # JVM starts covers them (driver-node processes only).
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + pp if pp else ""))
    spark = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(sp))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.openCostInBytes", "1048576")
        .config("spark.driver.memory",
                os.environ.get("ZSEQ_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    ship_package(spark)
    return spark
