"""Log-pipeline benchmark (see README.md)."""
