"""Benchmark of the flink_start_spark engine; see README.md."""
