"""Benchmark of the spark_etl_pipeline_spark engine; entry point ``run.py``."""
