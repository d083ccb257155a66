"""Structured Streaming surface (optional — the north rule is batch).

kmcp itself is strictly batch (SURVEY.md §2.9); this package adds the
incremental paths a production dedup service needs: new clips arrive
as parquet files, and each micro-batch is deduplicated exactly
(``dedup.streaming_exact_dedup``) or flagged against a persistent
sketch index that grows by one append per batch
(``dedup.streaming_neardup_flags``).  ``windows`` holds the
event-time aggregations.
"""
