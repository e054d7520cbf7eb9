"""Partitioning / skew strategies (north_rule: explicit partitioning)."""
