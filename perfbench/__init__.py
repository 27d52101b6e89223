"""Layered benchmark for web_scraper_spark (see README.md)."""
