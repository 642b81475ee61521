"""Benchmark for news_crawler_spark: see perfbench/README.md."""
