"""Benchmark harness for the flink_mm_spark engine (see ``run.py``)."""
