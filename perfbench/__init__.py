"""Repository benchmark: see run.py and BASELINE.md."""
