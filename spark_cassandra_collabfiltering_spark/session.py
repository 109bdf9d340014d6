"""SparkSession factory.

The reference builds a ``SparkConf`` with ``master=local[4]`` and a
Cassandra host, then a ``JavaSparkContext``
(reference: CollabFilterCassandraDriver.java:25-26,50-54). Here the
session is the modern ``SparkSession`` with scale-oriented defaults:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- Arrow on (vectorized Python interchange for the few Pandas UDF paths)
- shuffle partitions sized to the local parallelism instead of the
  200 default (on a real cluster this is set per-deploy; AQE coalesces)
- the generated-class cache (``spark.sql.codegen.cache.maxEntries``)
  raised from 100 to ``CODEGEN_CACHE_ENTRIES`` = 1000, sized from
  measured working sets: one pass of the perfbench registry workload
  needs about 184 distinct classes, and bench.py's 25-query HEADLINE
  suite at sf0.001 about 583 in its first pass plus 63 and 30 plan
  variants in the next two. At 100 no class survives until its next
  use, so every rebuild of the same plan recompiles it with Janino and
  re-JITs it. The conf is static: it takes effect only when set before
  the JVM starts, so an ``extra_conf`` for an already-running session
  cannot change it. bench.py and scripts/dump_plans.py build their
  sessions here, so they get the same value. Vanilla
  sessions (``scripts/check_oracle.py --vanilla``) leave it at 100 on
  purpose; it changes no result, only compile time.

All knobs are plain Spark configs so the same code runs unchanged on a
1000-executor cluster — only ``master`` and sizing configs change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "spark_cassandra_collabfiltering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    cassandra_host: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``cassandra_host`` mirrors the reference's
    ``spark.cassandra.connection.host`` conf
    (CollabFilterCassandraDriver.java:26); it is only applied when given,
    since the connector is an optional backend (tests use parquet).
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or max(DEFAULT_CPUS * 2, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python data sources (sources/txnlake_ds.py): let pushed
        # filters reach pushFilters() for log-level file pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Single-JVM local mode: driver memory IS the executor heap for
        # all N task threads. Spark's 1g default starves wide hash
        # aggregates (the item-kNN wedge agg OOMed at sf1 under it);
        # 8g unless SPARK_GRAFT_DRIVER_MEM says otherwise.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # -Xss16m: deep Java deserialization chains (Scala collection
        # proxies inside ALS task closures) intermittently overflow the
        # default thread stack — seen as whole-suite Py4J failures with
        # a hundreds-deep ObjectInputStream trace. A bigger stack is
        # the deterministic fix (same flag a cluster deploy would set).
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp -Xss16m")
        .config("spark.executor.extraJavaOptions", "-Xss16m")
    )
    if cassandra_host:
        builder = builder.config("spark.cassandra.connection.host", cassandra_host)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    total_cores: int,
    target_partition_mb: int = 256,
    broadcast_mb: int = 64,
) -> dict[str, str]:
    """Deployment preset for a real cluster run (the 100 TB sizing the
    local defaults stand in for). Returned as a plain dict so it plugs
    into ``get_spark(extra_conf=...)`` or spark-submit ``--conf``; every
    knob is sizing, not semantics — plans are identical either way.

    - shuffle.partitions = 2x total cores: enough tasks to keep every
      core busy through stragglers, few enough that task overhead
      doesn't dominate; AQE coalesces small post-shuffle partitions
      down, so erring high is safe.
    - files.maxPartitionBytes / advisoryPartitionSizeInBytes: scan and
      shuffle partitions sized so a partition comfortably fits executor
      memory with room for hash tables (spill-aware; at 100 TB this —
      not parallelism — is what bounds per-task memory).
    - autoBroadcastJoinThreshold raised to ``broadcast_mb``: dimension
      tables in this workload (nation/region/part at any SF, query
      batches, LSH vocabularies, PQ codebooks) are worth shipping to
      every executor long before the 10 MB default admits them.
    - Kryo: smaller/faster task and shuffle serialization (matters for
      the array-heavy rows: embeddings, shingle sets, PQ codes).
    - dynamicAllocation + shuffleTracking: right-size the fleet across
      the pipeline's phases (scan-heavy vs solver-heavy stages differ
      by an order of magnitude in useful parallelism).
    - Arrow batch size bounds mapInPandas memory (multimodal decode
      rows carry megabyte payloads — 10k-row default batches would
      balloon).

    Separately from confs: call ``sc.setCheckpointDir(<reliable fs>)``
    on the cluster to make every reuse point (operators/reuse.py) and
    every ALS fit write fault-tolerant checkpoints there instead of
    executor-local ones.
    """
    return {
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.files.maxPartitionBytes": f"{target_partition_mb}m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": f"{target_partition_mb}m",
        "spark.sql.autoBroadcastJoinThreshold": f"{broadcast_mb}m",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    }
