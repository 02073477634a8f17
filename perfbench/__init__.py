"""Seeded benchmark of parq_tools_spark; entry point ``perfbench/run.py``."""
