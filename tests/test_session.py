"""The session's slot rule: one map task slot per physical core."""

from b2xtranslator_spark.plans.session import task_cpus


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
