"""SparkSession factory tuned for the engine.

Defaults target the sandbox (single-JVM ``local[N]``) but every knob is the
one you would set on a real multi-executor cluster too: AQE on (runtime
re-planning + skew-join splitting), shuffle partitions sized to the
parallelism instead of the 200 default, Arrow enabled for the pandas-UDF
stages, and a pinned UTC session timezone so timestamp semantics match the
reference (gensor stores tz-aware UTC indexes, ``gensor/core/base.py:24-28``)
and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gensor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``). Pass ``master='cluster'`` from a spark-submit job to leave
    the master to the launcher (these configs ride along unchanged).

    The engine defaults below are literals; ``extra_conf`` is applied after
    them and is the one way to override any of them. The environment sets
    only the master's thread count (``SPARK_GRAFT_CPUS``) and the driver
    heap (``SPARK_GRAFT_DRIVER_MEM``, default ``24g``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # match the actual parallelism, not Spark's 200 default
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 32

    builder = SparkSession.builder
    if master != "cluster":
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE partition coalescing is ON (the production default) but with a
        # 64kb minPartitionSize floor instead of 1m: this engine's shuffle
        # rows are narrow and sorted, compressing 30-50×, so the byte model
        # wildly under-counts the CPU behind a partition — at the default
        # floor a 1.85M-row grid stage read as ~2MB and ran 2-wide. The two
        # CPU-amplifying stages the byte model can't see at ANY floor — the
        # dense grid's lead→sequence explode (operators/resample.py) and the
        # per-series Arrow kernels (operators/udfkernel.py) — defeat
        # coalescing locally with explicit-count repartitions, which AQE
        # never merges. r2 ran with coalescing OFF session-wide, which fixed
        # those two but taxed every small query with full-width task
        # overhead (~0.3-0.5s each, VERDICT r2 #7); local defeats + a lower
        # floor serve both.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # v2 committer: per-task renames instead of a serial driver-side
        # commit loop — the v1 loop cost ~100ms/file regardless of
        # parallelism and dominated small tier writes
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Scan-split sizing for the sandbox's small parquet files: the
        # default 128MB maxPartitionBytes bin-packs 7MB files ~18-to-a-task,
        # so a 1.8GB input became ~14 tasks and 32 cores ran half idle with
        # a one-task tail (measured). 16MB/1MB gives file-count-granular
        # tasks here; on a real cluster with 256-512MB files keep 128MB.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # dynamic partition overwrite: the incremental tier merge rewrites
        # only the partitions it touched (plans/incremental.py)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # ParallelGC: measured 11x faster than default G1 on the tier-rollup
        # job at local[32]/24g (161s -> 15s) — G1 evacuation pauses of 2-4s
        # stall every task thread under heavy shuffle/agg churn. Batch
        # engines want throughput GC, not pause-target GC. A larger heap
        # makes it WORSE (96g: 3x slower) — prefer small heap + spill.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    if master.startswith("local["):
        # Workers import the driver's pyspark instead of Spark's bundled
        # zips, which cost ~250 ms per Arrow task (pydaemon.py). The daemon
        # and every engine kernel need the engine on the workers' path,
        # wherever the driver was started from.
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.config("spark.python.daemon.module", "gensor_spark.pydaemon")
            .config("spark.executorEnv.PYTHONPATH", root)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
