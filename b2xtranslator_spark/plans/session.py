"""SparkSession factory tuned for the extraction workload.

The job is a pure per-document map over wide binary payloads (SURVEY.md §3):
the knobs that matter are Arrow batch shaping for the mapInArrow kernel, one
task slot per physical core, AQE for runtime coalescing of the operators'
shuffles, and at least 32 shuffle partitions (a real cluster submit
overrides via spark-submit --conf). The default master runs one local
thread per CPU this process may use.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _cpu_list(text: str) -> set[int]:
    """CPU numbers of a sysfs list such as "0-3,8,10-11"."""
    cpus: set[int] = set()
    for part in text.strip().split(","):
        lo, _, hi = part.partition("-")
        cpus.update(range(int(lo), int(hi or lo) + 1))
    return cpus


def task_cpus(cpus: set[int], siblings: dict[int, str], cores: int) -> int:
    """CPUs per map task: the SMT threads per physical core among `cpus`
    (the affinity set), from each CPU's thread_siblings_list text in
    `siblings` (a CPU missing there is its own core), clamped to
    [1, cores], the cores the master runs tasks on.

    One Python decoder per physical core: SMT siblings share the core's
    execution units, so a second decoder on the sibling thread mostly
    adds memory and contention. Measured at local[32] on a 16-core,
    32-thread box (SCALING.md §7): task.cpus=2 ran cache-cold extraction
    in 5.6 s, stable, where task.cpus=1 swung 5.9-38 s. On 4 cores with
    one thread each, one slot per core gave perfbench `doc_cold`
    1.24-1.64x the turns/s of two slots (10 seeds)."""
    physical = {
        frozenset(_cpu_list(siblings[c]) & cpus) if c in siblings else frozenset({c})
        for c in cpus
    }
    return max(1, min(len(cpus) // max(1, len(physical)), cores))


def _sibling_lists(cpus: set[int]) -> dict[int, str]:
    out = {}
    for c in cpus:
        try:
            with open(f"/sys/devices/system/cpu/cpu{c}/topology/thread_siblings_list") as f:
                out[c] = f.read()
        except OSError:
            pass
    return out


def build_session(
    app_name: str = "b2xtranslator-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.sched_getaffinity(0)
    master = master or f"local[{len(cpus)}]"
    local = re.fullmatch(r"local\[(\d+)\]", master)
    # glibc gives threads that malloc concurrently their own arenas (up to
    # 8 per core), which the JVM's many threads turn into RSS: on 4 cores
    # and 4 map slots, two arenas (the Hadoop/YARN container default) cut
    # the doc_cold peak by ~145 MB at the same speed. Set before the JVM
    # starts: the driver JVM, the Python daemon and its workers inherit it.
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(max(len(cpus), 32)))
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
        # the parquet reader's batch (default 4096 rows) matches the Arrow
        # batch: its column vectors hold a batch of payload rows per scan
        # task (doc_cold peak RSS 30-85 MB lower than at 4096)
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
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
        # one task slot, so one (JVM thread, Python worker) pair, per
        # physical core (task_cpus). Set even when it is 1: readers of the
        # conf count slots as cores / task.cpus. A real multi-executor
        # cluster sizes executors instead and can override via
        # spark-submit --conf.
        .config(
            "spark.task.cpus",
            str(task_cpus(cpus, _sibling_lists(cpus),
                          int(local.group(1)) if local else len(cpus))),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv6Addresses=false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
