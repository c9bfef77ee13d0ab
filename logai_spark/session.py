"""SparkSession factory tuned for the engine.

Defaults target the sandbox (single-JVM local[N]) but every knob is the one
you'd set on a real multi-executor cluster: AQE on (runtime coalesce + skew
join), Arrow on (all our UDFs are pandas/Arrow vectorized), UTC session TZ
(oracle comparisons), shuffle partitions sized to parallelism rather than the
200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] width: $SPARK_GRAFT_CPUS, else the cores this process may run on
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "logai_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``cpus`` controls ``local[N]`` parallelism; ``shuffle_partitions``
    defaults to the same N so that one shuffle wave saturates the cores
    without tiny-task overhead at test scale. On a real cluster you would
    leave master unset and let AQE coalesce from a larger initial number.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # task-side output commit (v2): avoids the driver serially renaming
        # every partition dir at job end — that rename pass is O(#sinks) and
        # does not parallelize with executors
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # python workers fork from a daemon that has already imported
        # pandas/pyarrow/numpy: each spawned worker otherwise pays ~1-2 s of
        # imports, which at dozens of workers per executor throttles scaling
        .config("spark.python.daemon.module", "logai_spark.daemon")
        # the daemon starts BEFORE --py-files paths are injected, so the
        # package location must be on the executor pythonpath explicitly
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                p
                for p in (
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    os.environ.get("PYTHONPATH", ""),
                )
                if p
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
