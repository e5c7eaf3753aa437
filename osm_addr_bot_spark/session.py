"""SparkSession factory.

One place to set the engine's execution knobs so tests, bench and
spark-submit jobs agree. Local-mode friendly but every setting is the
one we'd ship to a multi-executor cluster (AQE, skew join, Arrow).

PySpark's DataFrame debugging is off by default: it records the Python
call site of every Column/DataFrame call over extra Py4J round trips,
~2.8x the commands of a pipeline plan build. The trade-off: analysis
errors lose their "DataFrame context" call-site lines; set
``spark.python.sql.dataFrameDebugging.enabled=true`` to get them back.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEBUGGING_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def get_spark(
    app_name: str = "osm-addr-bot-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same entrypoint serves bench scaling runs at local[8]/local[32]
    and, unchanged, a real cluster via spark-submit (where ``master`` is
    supplied by the launcher and we must not override it).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)

    if master is None and not os.environ.get("SPARK_SUBMIT_MODE"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if master and "[" in master else 32
        except ValueError:
            n = 32
        shuffle_partitions = max(n, 8)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # measured wins (BENCH.md): executor-local storage on tmpfs when
        # the host has one (a real cluster's local SSD analog), and
        # finer input splits so single-file tables scan in parallel
        **({"spark.local.dir": "/dev/shm/spark-local"} if os.path.isdir("/dev/shm") else {}),
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # static: read once per process by PySpark (module docstring)
        DEBUGGING_CONF: "false",
    }
    if os.environ.get("SPARK_SUBMIT_MODE"):
        # Under spark-submit the launcher's --conf / spark-defaults are
        # authoritative — builder.config would silently override them
        # (measured: a --conf spark.sql.shuffle.partitions=7 submit ran
        # with this dict's value instead). The dict above is a set of
        # session DEFAULTS: attach to the launcher's JVM first, read what
        # it set (its system properties, which SparkConf loads), and pass
        # the builder only the engine keys it did not set. Other static
        # keys (spark.local.dir, driver memory, UI) are the launcher's
        # domain under spark-submit.
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized()  # noqa: SLF001 — gateway only, no context yet
        launcher_set = SparkConf()
        for k, v in conf.items():
            if (k.startswith("spark.sql.") or k == DEBUGGING_CONF) and not launcher_set.contains(k):
                builder = builder.config(k, v)
        spark = builder.getOrCreate()
        # extra_conf is an EXPLICIT caller request, not a default: apply
        # every runtime-settable key (ADVICE r2: the spark.sql. filter
        # silently dropped e.g. spark.serializer requests); static confs
        # can't change post-launch — warn instead of silently ignoring
        for k, v in (extra_conf or {}).items():
            try:
                spark.conf.set(k, v)
            except Exception as e:  # noqa: BLE001 — CANNOT_MODIFY_CONFIG
                import warnings

                warnings.warn(
                    f"extra_conf[{k!r}] is a static conf and cannot be set "
                    f"after launch under spark-submit; pass it as --conf ({e})",
                    stacklevel=2,
                )
        spark.sparkContext.setLogLevel("WARN")
        return spark

    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
