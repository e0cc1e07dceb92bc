"""Benchmark of pyarrow_ops_spark: see perfbench/README.md."""
