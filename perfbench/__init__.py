"""Benchmark harness for comm_detect_spark; see README.md."""
