"""Benchmark of the cassandra_spark engine; entry point: perfbench/run.py."""
