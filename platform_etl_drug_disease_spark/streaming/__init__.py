"""Structured Streaming variants of the event-time operators.

The reference is batch-only (SURVEY.md §2.8); this package is the engine's
streaming extension: a watermarked stream-stream interval join, custom
stateful operators via ``applyInPandasWithState`` (running totals, rolling
z-score, funnel flags), the idempotent micro-batch writer and the
memory-sink runner the catalog's streaming queries use.
"""
