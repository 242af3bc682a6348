"""bento-spark benchmark (see run.py)."""
