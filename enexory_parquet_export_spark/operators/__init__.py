"""Relational operators: CDC merge, binlog parse, dedup, similarity,
mixing, as-of / range joins, skew remedies and multimodal transforms."""
