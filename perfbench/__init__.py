"""Crawl-and-curate benchmark (see README.md); entry point: run.py."""
