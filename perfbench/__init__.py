"""The engine's benchmark: two workloads, one runner (``run.py``)."""
