"""Structured Streaming layer (engine extension — absent in the reference).

The reference's "streaming" is async batch over RabbitMQ
(/root/reference/executor/app/main.py:361-407; SURVEY.md §2.9) — that maps to
job orchestration, not Structured Streaming.  This package adds the genuine
streaming capability a web-scale ingest pipeline needs: file-source page
micro-batches with event-time watermarks and windowed per-cell counts
appended to parquet.
"""
