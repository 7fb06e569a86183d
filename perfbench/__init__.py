"""Benchmark for the employee_analytics_etl_spark engine (see README.md)."""
