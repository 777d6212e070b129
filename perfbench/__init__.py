"""Temporal-engine benchmark: see NOTES.md, run with `python3 perfbench/run.py`."""
