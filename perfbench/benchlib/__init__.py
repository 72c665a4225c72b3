"""Support code for ``perfbench/run.py``: input generation, build, harness
launch, metrics and output checks."""
