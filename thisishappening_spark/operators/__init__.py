"""Analytic operators: admission filter, status ingest, dedup, similarity
search and text statistics."""
