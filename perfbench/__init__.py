"""Crawl-operator benchmark for the indigo-spark engine (see README.md)."""
