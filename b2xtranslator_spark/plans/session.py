"""SparkSession factory tuned for the extraction workload.

The job is a pure per-document map over wide binary payloads (SURVEY.md §3):
the knobs that matter are Arrow batch shaping for mapInPandas, AQE for
runtime coalescing of the operators' shuffles, and at least 32 shuffle
partitions (a real cluster submit overrides via spark-submit --conf). The
default master runs one local thread per core this process may use.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "b2xtranslator-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = len(os.sched_getaffinity(0))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): measured A/B this
        # round, coalescing tiny shuffles to the advisory byte size
        # serialized the CPU-heavy per-pair verify stages (bytes are a bad
        # proxy for compute there) — dedup_embedding_lsh 0.9 s -> 2.5 s
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # payloads are ~10KB-10MB each: Arrow batch size trades JVM<->Python
        # handoff overhead against worst-case batch memory and straggler
        # granularity. Swept on the sample corpus at local[32]: 32 rows
        # 7.9s, 64 3.9s, 128 3.3s, 256 13s (memory pressure cliff) —
        # 128 is the plateau (ISSUE-003-Memory-Management.md bounds still
        # hold: 128 x 10MB worst case = 1.3GB per in-flight batch).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        # smaller splits than the 128MB default: payload rows are huge, so
        # 32MB keeps scan tasks plentiful and uniform for the map stage
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # row groups are the atomic scan unit: with multi-MB payload rows the
        # default 128MB block yields so few groups that a wide cluster
        # tail-locks on single row-group tasks — 8MB groups keep splits real
        .config("spark.hadoop.parquet.block.size", "8388608")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # pin the session zone: TIMESTAMP_NTZ columns cast to epoch micros
        # (sessionize_events) must mean treat-as-UTC on every host, not
        # whatever the box's /etc/localtime says
        .config("spark.sql.session.timeZone", "UTC")
        # one box cannot run 32 JVM task threads + 32 Python workers + GC on
        # 32 hardware threads: task.cpus=2 halves concurrent tasks so each
        # (JVM thread, Python worker) pair gets a real core. Measured at
        # local[32], cache-cold sf0.1 extraction, median of 3:
        # 10.1-19.0 s (swinging 5.9-38) -> 5.6 s (stable 4.7-8.0); the
        # JVM-only agg queries also got slightly faster (0.42 -> 0.30 s).
        # A real multi-executor cluster sizes executors instead and can
        # override via spark-submit --conf.
        .config("spark.task.cpus", "2")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv6Addresses=false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
