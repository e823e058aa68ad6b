"""Steady end-to-end and per-layer benchmark; entry point run.py."""
