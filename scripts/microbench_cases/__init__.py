"""Micro-bench cases for ``scripts/microbench.py``, one module per family:
``media`` (codecs and media assets), ``dedup`` (dedup, decontamination,
similarity), ``training`` (tokenizer and training-data builds) and
``crawl`` (crawl and text operators).

A case is ``fn(spark, n) -> dict``: it synthesizes n inputs, runs its
operators, asserts its exactness checks, unpersists what it persists and
returns its figures. The runner owns everything else: the session, wall
and CPU time, the history line and the output.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


@contextmanager
def phase(figures: dict, name: str):
    """Record the wall seconds of the block as ``figures[name + "_s"]``, for
    cases that time several stages."""
    t0 = time.perf_counter()
    yield
    figures[f"{name}_s"] = round(time.perf_counter() - t0, 2)
