"""Operators; import the defining module (e.g. ``operators.etl``)."""
