"""Names of the parquet tables in a synthetic test-data directory.

The reference's "source" is the Zuul REST API plus a download
directory (logscraper.py:414-440, logsender.py:175-198); ours is a
set of parquet tables (the Iceberg analog in this sandbox — the DDL
surface is kept behind sinks.TableSink so a real Iceberg catalog
slots in without touching the pipeline)."""

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
