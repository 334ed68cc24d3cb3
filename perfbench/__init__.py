"""Benchmark of the web_crawler_spark engine; run.py is the entry point."""
