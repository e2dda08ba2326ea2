"""Benchmark of the reference Jira job end to end; see README.md."""
