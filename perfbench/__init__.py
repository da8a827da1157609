"""Node benchmark for rtstore_spark (see run.py)."""
