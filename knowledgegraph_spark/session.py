"""SparkSession factory tuned for the KG-construction workload.

Scale posture: these configs are what we would ship to a 1000-executor
cluster job (AQE on, skew-join on, Arrow on, explicit shuffle sizing);
`local[N]` is only the sandbox substrate. Nothing here is local-mode-only
except the memory default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from knowledgegraph_spark.config import MAX_BUCKETS

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("KG_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "knowledgegraph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    AQE is always on: coalesced shuffle partitions and skew-join splitting are
    load-bearing for the head-entity skew this workload exhibits at scale
    (BASELINE.json north_rule: "partitioning / shuffle / skew handled
    explicitly ... AQE-tuned shuffles").
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or os.environ.get("KG_SPARK_MASTER", f"local[{cpus}]")
    nshuf = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    # Python workers must be able to import this package (the daemon
    # module below lives in it).  The driver resolves it via sys.path
    # (script-dir rule), but worker processes only see $PYTHONPATH — pin
    # the package root there explicitly so launch cwd cannot matter.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env_pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in env_pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{env_pp}" if env_pp else pkg_root
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuf))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Spark lists a table's partition directories with a Spark job once
        # there are more than this many (default 32): a 64-bucket catalog
        # table then cost a 64-task listing job (170-340 ms on a 4-core
        # host) on every read, and every KG query paid it.  No catalog
        # table holds more than MAX_BUCKETS directories, so the driver
        # lists them all serially (milliseconds on a local warehouse) and
        # a read starts no job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(MAX_BUCKETS))
        # 32g: per-stage profiling (BENCH/BASELINE.md, 2M pages) showed the
        # 16g default GC-bound — raising it cut stage walls 35-41% at BOTH
        # parallelism levels and lifted 2→8-core scaling efficiency from
        # 0.73 to 0.81.  On a real cluster this is per-executor memory.
        .config("spark.driver.memory", os.environ.get("KG_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
        # quiet_daemon = pyspark.daemon + a catch for the benign EPIPE
        # shutdown race whose traceback otherwise pollutes archived bench
        # logs (see knowledgegraph_spark/quiet_daemon.py)
        .config("spark.python.daemon.module", "knowledgegraph_spark.quiet_daemon")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
