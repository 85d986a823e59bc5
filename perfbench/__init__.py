"""The repository's benchmark: see run.py."""
