"""SparkSession factory with scale-oriented defaults.

The reference engine derives its parallelism from a channel count computed out
of byte/record speed limits (core JobContainer.adjustChannelNumber, see
SURVEY.md §2.5); here parallelism is Spark's, and we set the knobs that matter
at scale: AQE (runtime re-plan, skew-join splitting, partition coalescing),
Arrow for every pandas-UDF boundary, and shuffle partitions proportional to
cores (overridable per job from input size via ``tuned_shuffle_partitions``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS_PER_CORE = 2


def _cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "datax-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    hive: bool = False,
) -> SparkSession:
    """``hive=True`` enables Hive catalog support (derby metastore under the
    warehouse dir) — needed only by the RCFile reader/writer; one catalog
    choice per JVM, so keep hive sessions in their own process."""
    cores = _cores()
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or cores * DEFAULT_SHUFFLE_PARTITIONS_PER_CORE
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Default openCost (4 MiB) packs small shard files into ~4 MiB bins,
        # capping scan parallelism on sharded change feeds far below the core
        # count; on local SSD/page-cache (and at scale, on object stores with
        # ranged reads) per-file open cost is nowhere near 4 MiB of scan.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # LakeTable reads hand Spark the manifest's explicit file list; past
        # the default threshold (32 paths) Spark stats them in a separate
        # listing job before the scan, one task per path
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if hive:
        builder = builder.enableHiveSupport()
    spark = builder.getOrCreate()
    ensure_workers_can_import(spark)
    return spark


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Make ``datax_spark`` importable in every Python worker regardless of
    the driver's cwd/PYTHONPATH.

    The package's Arrow kernels and the lake_changelog Data Source are
    module-level functions, pickled BY REFERENCE — workers must import the
    package. When the driver found it only via a ``sys.path`` entry (an
    external harness running from a foreign cwd), workers don't inherit
    that entry and fail with ModuleNotFoundError. Two seams close the gap:

    - ``addFile(pkg, recursive=True)``: every worker variant prepends its
      spark-files dir to ``sys.path``, so a package TREE under it imports
      everywhere (an addPyFile zip would not — planner workers receive an
      empty py-includes list and never put the zip on the path).
    - the STREAMING source runner's files dir is the (nonexistent)
      ``streaming_job`` SUBDIR of the driver's user-files root; since that
      runner always executes on the driver node (it is the planning half of
      a streaming source), a symlink to the locally imported package covers
      it.

    Idempotent per SparkContext; called from ``get_spark``, the changelog
    source's ``register``, and ``LakeTable`` construction so any
    foreign-session entry point passes through it."""
    try:
        # inside the guard: a Spark Connect session has no sparkContext and a
        # namespace-package import has no __file__ — neither may break callers
        sc = spark.sparkContext
        if getattr(sc, "_dsx_pyfiles_shipped", False):
            return
        sc._dsx_pyfiles_shipped = True  # one attempt per context, even on failure
        import datax_spark
        from pyspark import SparkFiles

        pkg_dir = os.path.dirname(os.path.abspath(datax_spark.__file__))
        if not os.path.isdir(pkg_dir):
            # zipimport (spark-submit --py-files): whatever mechanism delivered
            # the zip to the driver delivers it to the workers too — nothing
            # to ship, and addFile on a zip-internal path would fail
            return
        sc.addFile(pkg_dir, recursive=True)
        sj = os.path.join(SparkFiles.getRootDirectory(), "streaming_job")
        os.makedirs(sj, exist_ok=True)
        link = os.path.join(sj, os.path.basename(pkg_dir))
        if not os.path.exists(link):
            os.symlink(pkg_dir, link)
    except Exception:
        # strictly best-effort: a session whose workers can already import
        # the package (repo-root cwd, PYTHONPATH, py-files) must never be
        # broken by the shipping attempt
        pass


def tuned_shuffle_partitions(spark: SparkSession, approx_input_bytes: int,
                             target_partition_bytes: int = 64 * 1024 * 1024) -> int:
    """Derive shuffle partitions from input size (floor = default parallelism).

    At 100 TB this keeps post-shuffle partitions near ``target_partition_bytes``
    instead of the static default; AQE then coalesces small ones at runtime.
    """
    floor = spark.sparkContext.defaultParallelism
    n = max(floor, approx_input_bytes // target_partition_bytes)
    return int(min(n, 200_000))
