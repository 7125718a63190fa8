"""The repository's benchmark: seeded workloads timed end to end, with a
traced mode that reports per-layer counters (see ``run.py``)."""
