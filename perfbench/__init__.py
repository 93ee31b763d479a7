"""Layered benchmark of the simdcomp_spark codec engine (see run.py)."""
