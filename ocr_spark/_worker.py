"""Stat-checked zip import caches inside pyspark Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``), so that files shipped with
``addPyFile`` become importable. On CPython < 3.13,
``zipimport.zipimporter.invalidate_caches`` eagerly re-reads the archive's
whole central directory. A worker that imports pyspark from ``pyspark.zip``
holds one zipimporter per package it has imported, so every task re-reads
that 1,328-entry directory about 16 times before it reads a row: 0.13-0.25
CPU-s per task on a 4-vCPU x86-64 host with CPython 3.11. CPython 3.13 made
the re-read lazy.

``install`` replaces that method, only in a pyspark worker process and only
on CPython < 3.13, by one that re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` changed since that importer last read
it. A rewritten or replaced archive is still picked up. Every ocr_spark UDF
pickles a reference to an ocr_spark module, so the hook is in place from a
reused worker's second task on; a worker's first task still pays once.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# Spark's PythonWorkerFactory sets this for the pyspark daemon and every
# worker it starts; a driver process never has it.
_WORKER_ENV = "PYTHON_WORKER_FACTORY_SECRET"
# archive signature at the importer's last directory read
_SIG_ATTR = "_ocr_spark_archive_sig"


def _stat_checked(original):
    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop(_SIG_ATTR, None)
            original(self)
            return
        sig = (st.st_ino, st.st_size, st.st_mtime_ns)
        if getattr(self, _SIG_ATTR, None) != sig:
            # stat before the read: a write racing the read changes the
            # signature, so the next call reads again
            original(self)
            setattr(self, _SIG_ATTR, sig)

    return invalidate_caches


def install() -> bool:
    """Install the stat-checked ``invalidate_caches`` when running inside a
    pyspark worker on CPython < 3.13; idempotent. Returns whether the hook
    is active."""
    if _WORKER_ENV not in os.environ or sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if not hasattr(cls.invalidate_caches, "__wrapped__"):
        cls.invalidate_caches = _stat_checked(cls.invalidate_caches)
    return True
