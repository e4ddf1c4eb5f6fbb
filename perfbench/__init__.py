"""Benchmark for the obmp_psql_spark engine; see README.md."""
