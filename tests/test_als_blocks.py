"""ALS block count follows the input (ml/collabfilter.py::als_blocks).

pyspark.ml's ALS defaults to 10 user and 10 item blocks, so a fit on a
small table runs every solver stage as 10 near-empty tasks. The block
count here comes from the input's plan-time size estimate, with a
ceiling of min(10, defaultParallelism).
"""

from __future__ import annotations

from spark_cassandra_collabfiltering_spark import etl
from spark_cassandra_collabfiltering_spark.fixtures import write_ratings_csv
from spark_cassandra_collabfiltering_spark.ml import collabfilter as cf
from spark_cassandra_collabfiltering_spark.sources import ParquetStorage

GROUP = "test-als-blocks"
GROUP_KEY = "spark.jobGroup.id"


def test_fixture_fit_runs_one_task_per_stage(spark, tmp_path):
    csv = write_ratings_csv(str(tmp_path / "ratings.csv"))
    training, _ = etl.populate_tables(spark, csv, ParquetStorage(str(tmp_path / "t")))
    assert cf.als_blocks(training) == 1

    sc = spark.sparkContext
    sc.setLocalProperty(GROUP_KEY, GROUP)
    try:
        model = cf.train(training)
    finally:
        sc.setLocalProperty(GROUP_KEY, None)
    tracker = sc.statusTracker()
    stage_ids = [
        s for j in tracker.getJobIdsForGroup(GROUP) for s in tracker.getJobInfo(j).stageIds
    ]
    assert stage_ids  # the fit ran jobs under the group
    tasks = {s: tracker.getStageInfo(s).numTasks for s in stage_ids}
    assert max(tasks.values()) == 1, tasks
    assert model.userFactors.rdd.getNumPartitions() == 1
    assert model.itemFactors.rdd.getNumPartitions() == 1


def test_large_input_blocks_capped(spark):
    # Range's size estimate is exact: 8 TB here
    huge = spark.range(10**12).selectExpr(
        "int(id) AS user", "int(id) AS product", "double(id) AS rating"
    )
    cap = min(cf.ALS_MAX_BLOCKS, spark.sparkContext.defaultParallelism)
    assert cf.als_blocks(huge) == cap
    # above a join the estimate is far too large: the cap, never more
    joined = huge.join(huge.select("user"), "user")
    assert cf.als_blocks(joined) == cap
