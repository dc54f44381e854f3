"""Repository benchmark: Flight serving, ingest with reads and mirroring,
and Spark analytics. Entry point: ``python3 perfbench/run.py``."""
