"""Benchmark of the event_streamer_spark engine (see README.md)."""
