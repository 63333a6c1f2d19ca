"""Closed-loop benchmark of the sketch library over pinned transcripts
tables; see NOTES.md and run.py."""
