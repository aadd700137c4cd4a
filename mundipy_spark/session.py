"""SparkSession factory tuned for the engine.

Local-mode defaults sized for the sandbox (local[N] single JVM); on a real
cluster the same confs apply per-executor. AQE is on so skewed tile joins
re-plan at runtime; Arrow is on because every geometry kernel crosses the
JVM<->Python boundary as Arrow batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the package's parent directory: Python workers import mundipy_spark
# from here whatever the driver's working directory is
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_MAX_DRIVER_MEM_MB = 24 * 1024


def default_driver_mem() -> str:
    """Half the host's physical memory, capped at 24g: a local-mode JVM
    heap sized past the host would be killed instead of spilling."""
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return f"{_MAX_DRIVER_MEM_MB}m"
    return f"{min(total // 2 // 2**20, _MAX_DRIVER_MEM_MB)}m"


def get_spark(
    app_name: str = "mundipy_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — the right size for local mode;
    at cluster scale callers override (rule of thumb: 2-3x total cores,
    bounded by ~128MB per shuffle partition at the target SF). The
    driver heap is ``$SPARK_DRIVER_MEM`` or ``default_driver_mem()``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # raise on unsafe pandas->Arrow casts instead of silently
        # truncating (e.g. a process fn returning 2.5 into a column the
        # first result typed as long would otherwise become 2)
        .config("spark.sql.execution.pandas.convertToArrowArraySafely", "true")
        .config("spark.ui.enabled", str(ui).lower())
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_driver_mem()),
        )
        # Spark merges this into each Python worker's PYTHONPATH; without
        # it a worker finds the package only when the JVM's cwd happens
        # to be the checkout
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # Whole-stage codegen can emit consume() methods past HotSpot's
        # 8000-byte DontCompileHugeMethods threshold (e.g. the unrolled
        # JVM PIP refinement inside a broadcast-join condition); the JIT
        # then silently leaves the WHOLE probe loop interpreted —
        # measured 11s vs 5.5s on the 30M-page geocode join. Standard
        # Spark production setting; applies at JVM launch, so it lives
        # here in the session factory (driver == executor in local mode;
        # spark-submit clusters set the executor twin below).
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
    )
    return builder.getOrCreate()
