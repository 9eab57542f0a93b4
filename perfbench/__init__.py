"""Closed-loop benchmark of sparkts; entry point ``perfbench/run.py``."""
