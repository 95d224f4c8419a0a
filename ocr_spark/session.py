"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests / bench / jobs agree:
AQE on (runtime re-plan + skew-join), explicit shuffle partitions, Arrow
enabled with a bounded batch size so one Arrow batch of media-heavy docs
fits in executor memory (SURVEY.md §4 "spill / memory").

Python worker reuse (``spark.python.worker.reuse``) stays at Spark's default,
on. Per-worker set-up (importing ocr_spark and its kernels, and the
stat-checked zip import caches of ``ocr_spark._worker``) is amortised across
tasks only because a worker outlives its task; do not disable reuse.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Bounded Arrow batch: the mapInArrow extraction stage holds one batch's
# span arrays (512 rows of ~64KB docs ≈ 32MB per core — safe at 128GiB/32)
# plus one media chunk of decoded images (media_kernels._REC_CHUNK × 1 KB),
# not one image per media span of the batch.
DEFAULT_ARROW_BATCH = 512


def get_spark(
    app_name: str = "ocr_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: local[] parallelism; default $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: default = 2 × cpus (small-scale); a real cluster run
    would size this to ~2-3 × total executor cores (or rely on AQE coalesce).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_ARROW_BATCH),
        )
        # parquet scans: keep split size default (128MB) — right for 100TB too;
        # local tests override nothing here.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
