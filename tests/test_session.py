"""The session's defaults: one map task slot per physical core, a driver
heap that fits the machine, and the settings the spark-submit job shares."""

from b2xtranslator_spark.plans.session import driver_memory, task_cpus


def test_one_cpu_is_one_slot():
    assert task_cpus({0}, {0: "0\n"}, cores=1) == 1


def test_single_thread_cores_take_one_cpu_per_task():
    cpus = {0, 1, 2, 3}
    assert task_cpus(cpus, {c: f"{c}\n" for c in cpus}, cores=4) == 1
    # no topology to read: each CPU is its own core
    assert task_cpus(cpus, {}, cores=4) == 1


def test_smt_siblings_share_one_task():
    # 16 cores x 2 threads, numbered as Linux does on x86: cpu c and c + 16
    cpus = set(range(32))
    siblings = {c: f"{c % 16},{c % 16 + 16}\n" for c in cpus}
    assert task_cpus(cpus, siblings, cores=32) == 2
    # the range form of the sibling list, as on some kernels
    ranged = {c: f"{c - c % 2}-{c - c % 2 + 1}\n" for c in cpus}
    assert task_cpus(cpus, ranged, cores=32) == 2
    # one thread of each core in the affinity set: its siblings are out
    assert task_cpus(set(range(16)), siblings, cores=16) == 1
    # a master with fewer cores than threads per core still starts
    assert task_cpus(cpus, siblings, cores=1) == 1


def test_driver_heap_is_half_the_machine():
    gib = 1 << 30
    assert driver_memory(16479424 * 1024) == "7g"  # a 15.7 GiB box
    assert driver_memory(8 * gib) == "4g"
    assert driver_memory(64 * gib) == "16g"  # capped
    assert driver_memory(gib) == "1g"  # never below Spark's own default


def test_submit_job_carries_the_session_settings(monkeypatch):
    """The spark-submit job (scripts/job.py) and build_session both carry
    every setting of JOB_CONF, and the job leaves the master to
    spark-submit. Reads the builders' options; no session starts."""
    import importlib.util
    from pathlib import Path

    from pyspark.sql import SparkSession

    from b2xtranslator_spark.plans.session import JOB_CONF, build_session

    path = Path(__file__).resolve().parents[1] / "scripts" / "job.py"
    spec = importlib.util.spec_from_file_location("job", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    opts = job.builder()._options
    assert {k: opts.get(k) for k in JOB_CONF} == JOB_CONF
    assert "spark.master" not in opts

    monkeypatch.delenv("MALLOC_ARENA_MAX", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: b._options)
    opts = build_session(master="local[1]")
    assert {k: opts.get(k) for k in JOB_CONF} == JOB_CONF
