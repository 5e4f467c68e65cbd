"""The repo benchmark; see README.md and run.py."""
