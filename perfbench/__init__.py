"""Seeded, closed-loop benchmark of the config-driven PySpark engine."""
