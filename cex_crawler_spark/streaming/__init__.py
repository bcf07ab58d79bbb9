"""Windowed batch analogs of the crawl's incremental semantics."""
