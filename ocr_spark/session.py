"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests / bench / jobs agree:
AQE on (runtime re-plan + skew-join), explicit shuffle partitions, Arrow
enabled with a bounded batch size so one Arrow batch of media-heavy docs
fits in executor memory (SURVEY.md §4 "spill / memory").

Python worker reuse (``spark.python.worker.reuse``) stays at Spark's default,
on. Per-worker set-up (importing ocr_spark and its kernels, and the
stat-checked zip import caches of ``ocr_spark._worker``) is amortised across
tasks only because a worker outlives its task; do not disable reuse.

Tungsten memory pages (``spark.buffer.pageSize``) are a fixed 4 MB. Spark's
default derives the page from heap / cores (64 MB for an 8 GB heap on 4
cores), and every hash-aggregate map, sorter and broadcast hashed relation
allocates one full page up front, even when it holds a few KB; under G1
each such page is a humongous allocation straight into the old
generation. The engine's per-task working sets are small (the corpus
chain's aggregates and broadcast tables hold KBs to a few MB), so 4 MB
pages halve ``corpus_hygiene``'s peak memory at the same throughput. A
record larger than a page gets a page of its own. The ceiling: a task's
page table holds 8,192 pages, so 4 MB pages cap one task at 32 GB of
execution memory, far above the 8 GB default heap of this local-only
session. Smaller pages bring that cap closer (8 GB at 1 MB), so do not go
below 4 MB.

The generated-code cache (``spark.sql.codegen.cache.maxEntries``, a static
conf) holds 1000 classes instead of Spark's 100: one ``corpus_pipeline``
pass compiles about 95, and with 100 entries every later pass recompiled a
quarter to a half of them.
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
        # 4 MB Tungsten pages and a 1000-class codegen cache: see the
        # module docstring
        .config("spark.buffer.pageSize", "4m")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
