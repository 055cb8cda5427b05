"""Relational operators: filters, joins, record derivation, dedup,
similarity, text analysis."""
