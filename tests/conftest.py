from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_cassandra_collabfiltering_spark.session import get_spark  # noqa: E402

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA_ROOT, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA_ROOT, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    # JVM spawn occasionally races a just-exited heavy JVM on this host
    # (py4j ConnectionRefused at gateway start); retry with a pause.
    import time

    last_exc: Exception | None = None
    for attempt in range(3):
        try:
            spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
            spark.range(1).count()  # prove the gateway is live
            break
        except Exception as exc:  # noqa: BLE001
            last_exc = exc
            time.sleep(5 * (attempt + 1))
    else:
        raise RuntimeError(f"SparkSession failed to start after retries: {last_exc}")
    yield spark


def jobs_fired(spark, group, fn):
    """(fn(), number of Spark jobs fn fired) under a fresh job group."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def no_checkpoint_dir(spark):
    """Run the test with no checkpoint dir on the shared context and
    put the previous one back afterwards. ``SparkContext.setCheckpointDir``
    cannot unset it, and a dir left set would switch every later test's
    reuse points (operators/reuse.py) to reliable checkpoints and make
    every ALS fit write them too (checkpointInterval applies whenever
    one is set)."""
    jsc = spark.sparkContext._jsc.sc()
    set_dir = getattr(jsc, "checkpointDir_$eq")  # the Scala var's setter
    saved = jsc.checkpointDir()
    set_dir(spark.sparkContext._jvm.scala.Option.apply(None))
    yield
    set_dir(saved)
