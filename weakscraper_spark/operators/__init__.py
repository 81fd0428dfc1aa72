"""Spark DataFrame operators: extraction (C6/C13), dedup family,
similarity search, text analysis."""
