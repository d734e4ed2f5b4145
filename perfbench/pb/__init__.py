"""Helpers for the perfbench benchmark (see perfbench/NOTES.md)."""
