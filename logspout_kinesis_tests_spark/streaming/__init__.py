"""Streaming pipelines, sinks and sources; import the defining module."""
