"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design point and scaled down by the
``parallelism`` argument for local testing:

- AQE on (runtime coalescing + skew-join splitting).
- Arrow execution for pandas UDFs (all our Python code paths are
  Arrow-vectorized; no per-row Python anywhere).
- shuffle partitions sized to the core count locally; on a real cluster
  this should be ~2-3x total cores and AQE coalesces the tail.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _driver_memory() -> str:
    """Driver heap: $SPARK_DRIVER_MEM, else 40% of physical RAM. The heap
    is committed up front (-Xms = -Xmx, pre-touched), so the default must
    leave room for the Python workers and the OS."""
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem:
        return mem
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{int(ram * 0.4) >> 20}m"


def get_spark(
    app_name: str = "myaku_spark",
    parallelism: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the index-build workload.

    Args:
        parallelism: local core count; defaults to $SPARK_GRAFT_CPUS or
            ``os.cpu_count()``.
        extra_conf: overrides applied last.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    # Make the package importable on executor Python workers regardless of
    # the driver's cwd (equivalent of spark-submit --py-files for local
    # mode; on a cluster, ship a zip of myaku_spark via --py-files).
    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_dir not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_dir}:{pp}" if pp else repo_dir
    # glibc malloc tuning for the Python workers (inherited via the JVM
    # env at gateway launch; mirrored to executorEnv for clusters).
    # Vectorized kernels (numpy/pandas in mapInArrow) allocate large
    # short-lived temporaries; with the default dynamic mmap threshold
    # glibc serves them via mmap and returns them via munmap, so every
    # batch re-pays kernel page-fault + zeroing cost — measured 2.7x
    # single-process and 4x at 32-way on this box's sort/alloc canary.
    # Raising the thresholds keeps those buffers in the arena for reuse
    # (bounded: 128 MB per worker of retained free heap, trimmed beyond).
    _malloc_env = {
        "MALLOC_MMAP_THRESHOLD_": str(128 * 1024 * 1024),
        "MALLOC_TRIM_THRESHOLD_": str(128 * 1024 * 1024),
    }
    for _k, _v in _malloc_env.items():
        os.environ.setdefault(_k, _v)
    driver_mem = _driver_memory()
    builder = SparkSession.builder.appName(app_name)
    # Under spark-submit (gateway already launched with --master from the
    # CLI — a real cluster or explicit local[N]) the submitted master
    # wins; standalone invocations get local[parallelism].
    under_spark_submit = (
        "PYSPARK_GATEWAY_PORT" in os.environ
        or "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    )
    if not under_spark_submit:
        # Partition discovery lists a level of more than 32 dirs (Spark's
        # parallelPartitionDiscovery.threshold) with a Spark job, and a
        # segments dir has 64 ``bucket=`` dirs per group, so at the
        # default every read of it runs a 64-task listing job. On a local
        # master those tasks list the same disk from the same cores, with
        # scheduling on top: listing serially on the driver is faster.
        # 1024 is above any level of the index layout. A submitted master
        # keeps Spark's default (or its own --conf), where the listing
        # fans out to remote storage.
        builder = builder.master(f"local[{parallelism}]").config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "1024"
        )
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(max(parallelism, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Don't let AQE coalesce far below the core count: our
        # post-shuffle stages run CPU-bound Python kernels, where
        # bytes-per-partition is the wrong sizing signal. (At PB scale
        # the 64MB advisory dominates anyway; these floors only bite on
        # small data. CPU-bound UDF stages additionally repartition
        # explicitly — see segments.py / build_index.py.)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The generated-class cache defaults to 100 entries (static
        # conf); a many-query session with shared subplan shapes evicts
        # and re-compiles (janino + fresh JIT) code it already built.
        # Cost of a bigger cache is bounded by ReservedCodeCacheSize.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem)
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                os.environ["MALLOC_MMAP_THRESHOLD_"])
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                os.environ["MALLOC_TRIM_THRESHOLD_"])
        # Codegen classes from a many-query session fill the JVM's
        # default 240 MB code cache (measured >115 MB halfway through
        # the bench query set); once full, UseCodeCacheFlushing evicts
        # silently and hot generated methods fall back to interpreted
        # execution (observed as 5-8x executor CPU inflation on
        # identical queries). 512 MB keeps compiled code resident.
        # Applied to executors too for cluster deployments (same
        # generated classes run there).
        # -Xms = -Xmx + pre-touched transparent-huge-page heap: the heap
        # is committed once at startup (untimed) with 2 MB pages instead
        # of being demand-faulted 4 KB at a time inside the first big
        # queries — this box (like many VMs) serializes page-fault/zero
        # work in the kernel (measured: 32-way allocation throughput is
        # 4.7x a single core vs 14.6x for pure CPU). Standard JVM
        # practice for latency-stable services; executors get THP too
        # (their -Xms is the deployment's executor-memory decision).
        .config(
            "spark.driver.extraJavaOptions",
            (
                "-XX:ReservedCodeCacheSize=512m "
                f"-Xms{driver_mem} "
                "-XX:+UseTransparentHugePages -XX:+AlwaysPreTouch "
                + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
            ).strip(),
        )
        .config(
            "spark.executor.extraJavaOptions",
            (
                "-XX:ReservedCodeCacheSize=512m "
                "-XX:+UseTransparentHugePages "
                + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
            ).strip(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-local DataFrame that plans as a LocalRelation.

    ``spark.createDataFrame(<list>)`` parallelizes pickled rows into a
    Python RDD, so whatever consumes the frame (a broadcast, a write)
    runs its tasks through the Python workers, one per core. An Arrow
    table below ``spark.sql.execution.arrow.localRelationThreshold``
    becomes a LocalRelation instead: its rows already sit in the JVM, no
    Python worker runs, and a one-row write is one task and one file.

    ``rows``: tuples in ``schema`` field order. ``schema``: a StructType
    or a DDL string; it fixes the frame's column names, order and types.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [list(c) for c in cols], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
