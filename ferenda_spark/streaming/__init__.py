"""Structured Streaming: event-time windowed rollups and sessionization
(windows.py), AvailableNow extraction and watermark batches (ingest.py),
continuous identity and entailment maintenance (identity.py,
entailment.py)."""
