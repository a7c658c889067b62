"""Benchmark for the crawl engine; entry point: perfbench/run.py."""
