"""KG construction and live-index benchmark for odinson_spark (see run.py)."""
