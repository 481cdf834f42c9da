"""Seeded build-and-serve benchmark for the askg_spark KG engine."""
