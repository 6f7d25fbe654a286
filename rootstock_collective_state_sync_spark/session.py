"""SparkSession factory with scale-oriented defaults.

The engine targets multi-executor clusters reading ~100 TB; tests run
on ``local[N]``. The conf below is the same in both cases except for
master/memory: AQE on (runtime shuffle-partition coalescing, broadcast
conversion, skew-join splitting), Arrow on (fast Pandas-UDF path),
and a shuffle partition count that callers override per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rootstock-collective-state-sync-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local runs;
    on a real cluster pass ``None`` via spark-submit and let the
    cluster manager decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    # Make this package importable in executor Python workers even
    # when the driver script runs from a foreign cwd with only a
    # sys.path insert (cloudpickle serializes mapInPandas closures
    # that reference module-level functions BY module name, so the
    # worker must be able to import the package). Must happen before
    # the JVM launches: workers inherit the gateway's environment.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    # One BLAS thread per Python worker (inherited from the driver env
    # at worker launch; must be set before the JVM starts). The engine
    # runs one Python worker PER CORE — a multi-threaded OpenBLAS
    # inside each worker's numpy kernels (cosine blocks, PQ encode,
    # Gram chunks) oversubscribes cores² threads and thrashes; the
    # kernels are small per batch, so intra-op BLAS parallelism buys
    # nothing that the task-level parallelism doesn't already provide.
    # Standard practice on multi-tenant executors (guide §4.5). Honors
    # a caller's explicit setting.
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan the partitioning of plans that sit on top of
        # an InMemoryRelation (default false pins every cache consumer
        # to the cached plan's partition count). With it on, the
        # partition count everywhere is sized by AQE from actual bytes
        # — a handful of partitions for a KB-scale cached sketch, the
        # full shuffle width for a 100 TB table — instead of freezing
        # spark.sql.shuffle.partitions at cache-build time (guide §2.2:
        # partitioning derived from input size, not a constant).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # deterministic decimal behavior for uint256-ish arithmetic
        .config("spark.sql.decimalOperations.allowPrecisionLoss", "false")
        # TIMESTAMP(NANOS) parquet columns surface as LongType instead
        # of erroring (converted back to timestamps in plans/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
