"""The driver JVM's compilation policy, and the per-thread CPU split
that measures it (iceberg_twist_spark/runstats.py)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from iceberg_twist_spark import runstats
from iceberg_twist_spark.session import get_spark

# thread names as /proc/<pid>/task/*/stat shows them (15 characters)
_NAMES = {
    "C2 CompilerThre": "jit_c2",
    "C1 CompilerThre": "jit_c1",
    "GC Thread#0": "gc",
    "GC Thread#3": "gc",
    "G1 Conc#0": "gc",
    "G1 Main Marker": "gc",
    "G1 Refine#1": "gc",
    "G1 Service": "gc",
    "Executor task l": "task",
    "VM Thread": "other",
    "Thread-3": "py4j",
    "Thread-17": "py4j",
    "dag-scheduler-e": "other",
    "process reaper": "other",
}


def test_thread_names_classify():
    assert {n: runstats.classify(n) for n in _NAMES} == _NAMES


def test_split_keeps_an_exited_threads_cpu_in_its_group():
    """A thread that vanishes between samples keeps the ticks it gained
    up to its last sample, in its own group; only the process ticks
    after that land in ``exited``."""
    samples = [
        (100, {1: ("task", 50), 2: ("gc", 5), 4: ("py4j", 20)}),
        # a C2 thread starts; thread 2 is last seen here
        (130, {1: ("task", 60), 2: ("gc", 9), 3: ("jit_c2", 8), 4: ("py4j", 24)}),
        (150, {1: ("task", 70), 3: ("jit_c2", 11), 4: ("py4j", 27)}),
        # the C2 thread exits
        (170, {1: ("task", 75), 4: ("py4j", 30)}),
    ]
    hz = os.sysconf("SC_CLK_TCK")
    split = {g: round(v * hz) for g, v in runstats._split(samples, workers=6).items()}
    assert split == {
        "jit_c2": 11, "jit_c1": 0, "gc": 4, "task": 25, "py4j": 10, "other": 0,
        "exited": 70 - 11 - 4 - 25 - 10, "python_workers": 6,
    }
    # the two end samples alone put both vanished threads in exited
    ends = {g: round(v * hz) for g, v in runstats._split([samples[0], samples[-1]]).items()}
    assert ends["exited"] == 70 - 25 - 10 and ends["gc"] == ends["jit_c2"] == 0
    assert ends["py4j"] == 10


def test_a_query_spends_task_and_jit_cpu(spark):
    """A scan-and-aggregate over a new expression runs in the task
    threads, and its generated code is compiled by the JIT."""
    _, split = runstats.thread_cpu_during(
        spark,
        lambda: spark.range(20_000_000)
        .selectExpr("sum(hash(id * 31 + 7, id % 1013)) AS h")
        .collect(),
    )
    assert set(split) == set(runstats.GROUPS)
    assert split["task"] > 0
    assert split["jit_c1"] + split["jit_c2"] > 0
    total = runstats.thread_cpu(spark)
    assert total["task"] >= split["task"] and total["jit_c1"] > 0
    assert total["py4j"] > 0  # every Python call into the JVM runs there


def test_driver_jit_policy_is_in_force(spark):
    """Read the flags the JVM runs with, not its command line: Spark
    launches the driver with -XX:+IgnoreUnrecognizedVMOptions, so a
    misspelled flag would be dropped silently."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    want = {
        "Tier4InvocationThreshold": 25000,
        "Tier4MinInvocationThreshold": 3000,
        "Tier4CompileThreshold": 75000,
        "Tier4BackEdgeThreshold": 200000,
    }
    assert {k: int(bean.getVMOption(k).getValue()) for k in want} == want


def test_caller_java_options_keep_the_policy(monkeypatch):
    """A caller's extraJavaOptions (perfbench sets them) apply beside
    the policy: the launcher prepends defaultJavaOptions to them."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    conf = get_spark(extra_conf={"spark.driver.extraJavaOptions": "-XX:-UsePerfData"})
    assert conf["spark.driver.extraJavaOptions"] == "-XX:-UsePerfData"
    assert "-XX:Tier4InvocationThreshold=25000" in conf["spark.driver.defaultJavaOptions"]
