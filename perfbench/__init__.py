"""RELIEF-F selector benchmark (see run.py)."""
