"""Job benchmark for ci_log_processing_spark: see run.py."""
