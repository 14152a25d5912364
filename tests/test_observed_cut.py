"""``plans.observed_cut``: one checkpoint job yields both the materialized
frame and its row count (an ``Observation`` on the same job)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloudbrush_spark.plans import observed_cut, origin_stats_defined


def _frames(spark):
    base = spark.range(0, 1000, numPartitions=4).withColumn("g", F.col("id") % 7)
    return {
        "empty": base.filter(F.col("id") < 0),
        "zero_partitions": spark.createDataFrame(
            spark.sparkContext.emptyRDD(), "id long, g long"),
        "multi_partition": base,
        "post_shuffle": base.groupBy("g").agg(F.count("id").alias("n")),
    }


@pytest.mark.parametrize("kind", ["empty", "zero_partitions", "multi_partition",
                                  "post_shuffle"])
def test_rows_equal_count_and_frame_is_severed(spark, kind):
    df = _frames(spark)[kind]
    expected = df.count()
    cut, rows = observed_cut(df)
    assert rows == expected
    assert cut.count() == expected
    assert not origin_stats_defined(cut)


def test_runs_no_more_jobs_than_plain_checkpoint(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_during(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup("", "")
        return len(tracker.getJobIdsForGroup(group))

    # same plan shape, fresh frames: nothing is reused between the two
    def frame(n):
        return spark.range(0, n, numPartitions=4) \
            .groupBy((F.col("id") % 5).alias("g")).count()

    plain = jobs_during("cut-plain", lambda: frame(997).localCheckpoint(eager=True))
    observed = jobs_during("cut-observed", lambda: observed_cut(frame(998)))
    assert observed <= plain
