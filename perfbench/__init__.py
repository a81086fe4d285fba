"""Session-path benchmark of the multisql_spark engine (see run.py)."""
