"""Benchmark of the solarpos_spark engine; see NOTES.md."""
