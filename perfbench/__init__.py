"""Relay benchmark for trignis-spark (entry point: ``run.py``)."""
