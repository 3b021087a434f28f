"""Structured Streaming: event-time windowed rollups and sessionization
(windows.py)."""
