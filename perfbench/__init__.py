"""Extraction benchmark harness (see ``run.py``)."""
