"""SparkSession factory: one rule sizes every session.

When spark-submit launched this process (``PYSPARK_GATEWAY_PORT`` is set),
the JVM already exists and its master and driver memory stand; only an
explicit ``master=`` argument is applied. Otherwise the session is sized
from the host: ``local[N]`` with N = ``$SPARK_GRAFT_CPUS`` or the CPUs this
process may run on, and a driver heap of a quarter of ``MemTotal``. On a
local master the shuffle partitions follow the context's
``defaultParallelism``; other masters keep Spark's default. Scratch
directories are Spark's own (``SPARK_LOCAL_DIRS``). ``extra_conf`` is
applied last and overrides any of these.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_conf(
    master: str | None, extra_conf: dict | None, environ, cpus: int, mem_total_kb: int
) -> dict:
    """The master, driver memory and ``extra_conf`` the module rule applies,
    given the environment, the usable CPU count and ``MemTotal`` in kB."""
    conf = {}
    if "PYSPARK_GATEWAY_PORT" in environ:
        if master:
            conf["spark.master"] = master
    else:
        n = environ.get("SPARK_GRAFT_CPUS") or cpus
        conf["spark.master"] = master or environ.get("SPARK_MASTER") or f"local[{n}]"
        conf["spark.driver.memory"] = f"{mem_total_kb // 4 // 1024}m"
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "benthos_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's defaults.

    Master, driver memory and shuffle partitions follow the module rule. AQE
    is on (skew-join handling and runtime coalescing are part of the scale
    story), Arrow is on (all Python-side kernels are Arrow-batched), timezone
    pinned UTC so event-time windows are deterministic.
    """
    conf = session_conf(
        master, extra_conf, os.environ, len(os.sched_getaffinity(0)), _mem_total_kb()
    )
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        # NOTE: spark.sql.streaming.statefulOperator.checkCorrectness.enabled
        # stays at its default (true). Pipelines that chain stateful operators
        # in a shape Spark flags must opt out explicitly via extra_conf with a
        # per-shape justification — never globally.
        # RocksDB state store: bounded memory + changelog-style commits beat
        # the HDFS-backed provider's full-snapshot-per-batch at large state
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # changelog checkpointing: commit the per-batch delta instead of a
        # full RocksDB snapshot — the difference is marginal at test-scale
        # state but is the knob that matters at 10^9-key dedupe state
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    sc = spark.sparkContext
    if sc.master.startswith("local") and "spark.sql.shuffle.partitions" not in conf:
        spark.conf.set("spark.sql.shuffle.partitions", str(sc.defaultParallelism))
    sc.setLogLevel("WARN")
    return spark
