"""Expression builders; import the defining module (e.g. ``functions.scalars``)."""
