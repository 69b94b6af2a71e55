"""Repository benchmark (see README.md); entry point: ``python3 perfbench/run.py``."""
