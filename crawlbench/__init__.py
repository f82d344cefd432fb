"""Crawl-and-serve benchmark; run ``python3 crawlbench/run.py --help``."""
