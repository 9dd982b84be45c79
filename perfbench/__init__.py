"""flox_spark benchmark package (see run.py)."""
