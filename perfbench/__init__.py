"""Crawl benchmark for the boris_spark engine (entry point: ``run.py``)."""
