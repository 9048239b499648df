"""geoglue_spark benchmark (see README.md)."""
