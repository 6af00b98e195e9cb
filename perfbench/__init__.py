"""Closed-loop benchmark of async_pipes_spark; see run.py."""
