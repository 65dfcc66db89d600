"""Engine benchmark: workloads, oracles and the per-layer trace (run.py)."""
