"""Crawl benchmark (see run.py)."""
