"""Pins the Spark internals the counter reader depends on: job groups
through SparkStatusTracker and stage data from the JVM status store,
with the UI disabled (the engine's session default)."""

from __future__ import annotations

import operator

from counters import SparkCounters


def test_known_shuffle_job_counts(spark):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.ui.enabled") == "false"
    counters = SparkCounters(spark)
    with counters.operation("shuffle") as c:
        out = (sc.parallelize(range(1000), 6)
               .map(lambda x: (x % 5, 1))
               .reduceByKey(operator.add, 3).collect())
    assert sorted(out) == [(k, 200) for k in range(5)]
    assert c.jobs >= 1
    assert c.stages == 2
    assert c.tasks == 6 + 3          # map partitions + reduce partitions
    assert c.tasks_failed == 0
    assert c.shuffle_write_bytes > 0
    assert c.shuffle_read_bytes > 0
    assert c.executor_run_s > 0
    assert 0 <= c.driver_gap_s <= c.wall_s


def test_group_excludes_other_jobs(spark):
    sc = spark.sparkContext
    counters = SparkCounters(spark)
    sc.parallelize(range(10), 2).count()       # outside any operation
    with counters.operation("one job") as c:
        sc.parallelize(range(10), 4).count()
    sc.parallelize(range(10), 2).count()
    assert c.jobs == 1
    assert c.tasks == 4
