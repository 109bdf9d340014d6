"""Benchmark for the spark_cassandra_collabfiltering_spark engine; see README.md."""
