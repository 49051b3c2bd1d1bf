"""Benchmark for the splio_etl_aggregations_spark engine; see run.py."""
