"""Resumable batch protocol: per-partition checkpoint manifests + anti-join
resume (SURVEY.md §4 "resumability"; north rule: "resumable from checkpoint
with per-partition lineage + metrics").

Protocol
--------
Output is hash-bucketed by doc_id: ``bucket = pmod(xxhash64(doc_id), N)`` and
written with ``partitionBy('bucket')`` in dynamic-overwrite mode. A bucket is
COMPLETE iff its manifest JSON exists in ``<out>/_manifests/``. Manifests are
written only after the Spark write job commits, from a verification scan of
the data actually on disk — restricted to the buckets this run wrote (file
pruning) and the two narrow manifest columns (column pruning); global totals
ride with the write job via ``df.observe`` and are cross-checked against the
committed rows. A crash mid-write leaves partial bucket dirs *without*
manifests, and the next run simply rewrites those buckets (dynamic overwrite
replaces partial data; no dups, no loss, at-least-once).

Resume = left_anti join of the input against the completed-bucket manifest
frame (J3, SURVEY.md §2.3) — Spark broadcasts the tiny manifest side. When
the INPUT is itself a bucket-partitioned store (``write_bucketed`` /
a prior stage's output), pass its path to ``run_resumable`` instead of a
frame: completed buckets are then excluded at the SCAN via a partition
filter (``PartitionFilters: [NOT bucket IN (...)]``), so a resume re-reads
only the incomplete buckets' bytes. ``read_completed_output`` is the
matching consumer view (partition-pruned to manifested buckets only).

Each manifest carries lineage + metrics: run id, bucket, doc counts, error
counts, doc_id range, wall seconds and docs/sec for its run — the
per-partition observability the north rule asks for.

At 100 TB: N buckets is chosen so one bucket ≈ a few hundred GB (e.g. 4096);
manifests stay a driver-trivial 4096 small JSON files, and a resume after a
partial cluster loss re-reads nothing but the missing buckets' inputs.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SUBDIR = "_manifests"


class CheckpointCommitError(RuntimeError):
    """Committed data disagrees with the write job's observed totals: the
    run refuses to write manifests (safe for at-least-once — the buckets
    stay incomplete and the next run rewrites them)."""


def _bucket_stats_from_footers(out_dir: str, candidates: list[int]) -> list[dict] | None:
    """Per-bucket manifest stats from parquet file FOOTERS only — row counts,
    `error` null-counts and `doc_id` min/max all come from column-chunk
    statistics, so the default commit path reads zero data pages (the footer
    reads are driver-side and O(files), trivial even at 4096 buckets).
    Returns None when any footer lacks the needed statistics — the caller
    falls back to the verification scan."""
    import glob as _glob

    import pyarrow.parquet as pq

    stats: list[dict] = []
    for b in candidates:
        pdir = os.path.join(out_dir, f"bucket={b}")
        if not os.path.isdir(pdir):
            continue
        files = sorted(_glob.glob(os.path.join(pdir, "*.parquet")))
        if not files:
            continue
        n_docs = 0
        n_errors = 0
        id_min: str | None = None
        id_max: str | None = None
        for fp in files:
            try:
                md = pq.ParquetFile(fp).metadata
            except Exception:
                return None
            col_of = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if "doc_id" not in col_of or "error" not in col_of:
                return None
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                if rgm.num_rows == 0:
                    continue
                n_docs += rgm.num_rows
                st_err = rgm.column(col_of["error"]).statistics
                if st_err is None or not st_err.has_null_count:
                    return None
                n_errors += rgm.num_rows - st_err.null_count
                st_id = rgm.column(col_of["doc_id"]).statistics
                if st_id is None or not st_id.has_min_max:
                    return None
                lo, hi = st_id.min, st_id.max
                id_min = lo if id_min is None else min(id_min, lo)
                id_max = hi if id_max is None else max(id_max, hi)
        if n_docs == 0:
            continue
        stats.append(
            {
                "bucket": int(b),
                "n_docs": int(n_docs),
                "n_errors": int(n_errors),
                "min_doc_id": id_min,
                "max_doc_id": id_max,
            }
        )
    return stats


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


BUCKET_SCHEME_FILE = "_bucket_scheme.json"


def write_bucketed(
    docs: DataFrame, path: str, n_buckets: int, mode: str = "overwrite"
) -> None:
    """Lay a doc frame out as a bucket-partitioned store (this module's
    bucket scheme), making it eligible for the partition-pruned resume path
    (`remaining_input_bucketed` / `run_resumable(docs=<path>)`). A
    `_bucket_scheme.json` sidecar records n_buckets so a resume with a
    DIFFERENT bucket count is rejected loudly instead of silently pruning
    rows whose stored partition value disagrees with the recomputed hash."""
    docs.withColumn("bucket", bucket_col(n_buckets)).write.mode(
        mode
    ).partitionBy("bucket").parquet(path)
    with open(os.path.join(path, BUCKET_SCHEME_FILE), "w") as f:
        json.dump({"n_buckets": int(n_buckets), "hash": "pmod(xxhash64(doc_id), n)"}, f)


def _bucket_scheme(path: str) -> int | None:
    p = os.path.join(path, BUCKET_SCHEME_FILE)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return int(json.load(f)["n_buckets"])


def completed_buckets(out_dir: str) -> list[dict]:
    mdir = os.path.join(out_dir, MANIFEST_SUBDIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for fn in sorted(os.listdir(mdir)):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                out.append(json.load(f))
    return out


def remaining_input(spark: SparkSession, docs: DataFrame, out_dir: str, n_buckets: int) -> DataFrame:
    """Anti-join the input against completed buckets (broadcast, no shuffle
    of the big side beyond the bucket hash already needed for the write)."""
    done = completed_buckets(out_dir)
    with_bucket = docs.withColumn("bucket", bucket_col(n_buckets))
    if not done:
        return with_bucket
    done_df = spark.createDataFrame(
        [(int(m["bucket"]),) for m in done], "bucket int"
    )
    return with_bucket.join(F.broadcast(done_df), "bucket", "left_anti")


def remaining_input_bucketed(
    spark: SparkSession, input_dir: str, out_dir: str, n_buckets: int
) -> DataFrame:
    """Partition-PRUNED resume for a bucket-partitioned input directory
    (a doc store laid out by this module's own bucket scheme, e.g. a prior
    resumable stage's output): completed buckets are excluded with a filter
    on the `bucket` PARTITION column, so the FileScan shows
    ``PartitionFilters: [NOT bucket IN (...)]`` and the completed buckets'
    files are never listed into the scan at all — at 100 TB a resume after
    a partial run re-reads exactly the incomplete buckets' bytes, not the
    corpus (`remaining_input` above is the fallback for unpartitioned
    inputs: same keep set, but the scan reads everything and filters).
    Dynamic-partition discovery keeps `bucket` as an int column, matching
    `bucket_col`.

    The store's recorded scheme must match `n_buckets`: stored partition
    values are pruned against manifests keyed by the RECOMPUTED hash, so a
    count mismatch (say a 16-bucket store resumed at 32) would silently drop
    every doc whose stored bucket is manifested but whose recomputed bucket
    is not — refuse loudly instead. Stores without the sidecar (not written
    by `write_bucketed`) are rejected too: fall back to `remaining_input`,
    whose keep set never depends on the on-disk layout."""
    stored = _bucket_scheme(input_dir)
    if stored is None:
        raise ValueError(
            f"{input_dir!r} has no {BUCKET_SCHEME_FILE}: cannot prove its "
            "partition layout matches bucket_col(n_buckets); lay it out with "
            "write_bucketed, or resume via remaining_input(spark.read"
            ".parquet(...)) which recomputes buckets from doc_id"
        )
    if stored != n_buckets:
        raise ValueError(
            f"bucket-scheme mismatch: {input_dir!r} was written with "
            f"n_buckets={stored} but resume requested n_buckets={n_buckets}; "
            "a mismatched prune would silently lose documents"
        )
    docs = spark.read.option("basePath", input_dir).parquet(input_dir)
    done = [int(m["bucket"]) for m in completed_buckets(out_dir)]
    if not done:
        return docs
    return docs.where(~F.col("bucket").isin(done))


def read_completed_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Downstream-consumer view: ONLY the manifested (complete) buckets,
    selected via the `bucket` partition column so the scan partition-prunes
    (``PartitionFilters: [bucket IN (...)]``) — unmanifested partials from
    a crashed run are invisible without reading a byte of them.

    Safe to call before the producer's first commit: if the directory is
    missing or holds no readable data files yet (only `_manifests` /
    `_temporary`), an empty OUTPUT_SCHEMA frame is returned instead of a
    schema-inference AnalysisException."""
    from pyspark.errors import AnalysisException

    done = [int(m["bucket"]) for m in completed_buckets(out_dir)]
    try:
        docs = spark.read.option("basePath", out_dir).parquet(out_dir)
    except AnalysisException:
        from ocr_spark.schema import OUTPUT_SCHEMA

        return (
            spark.createDataFrame([], OUTPUT_SCHEMA)
            .withColumn("bucket", F.lit(None).cast("int"))
        )
    if not done:
        return docs.where(F.lit(False))
    return docs.where(F.col("bucket").isin(done))


def run_resumable(
    spark: SparkSession,
    docs: DataFrame | str,
    out_dir: str,
    n_buckets: int = 32,
    run_id: str = "run-0",
    extract=None,
) -> dict:
    """Execute `extract` (df -> OUTPUT_SCHEMA df) over the not-yet-complete
    buckets and commit data + manifests. Returns run stats.

    Per-bucket manifest stats come from the committed parquet FOOTERS
    (column-chunk statistics — zero data pages read; ONE scan total in the
    whole plan). When a footer lacks statistics, the written buckets' data
    pages are re-read (file- and column-pruned) and the stats built from
    actual rows. Either way the stats describe what is on disk, and they
    are cross-checked against the write job's df.observe totals; manifests
    are refused on mismatch."""
    from ocr_spark.pipeline import extract_documents

    extract = extract or (lambda d: extract_documents(d))

    from pyspark.sql import Observation

    already = {int(m["bucket"]) for m in completed_buckets(out_dir)}
    if isinstance(docs, str):
        # bucket-partitioned input dir: the completed buckets are pruned at
        # the SCAN (PartitionFilters); the anti-join below then has nothing
        # to drop and AQE collapses it against the empty manifest frame
        docs = remaining_input_bucketed(spark, docs, out_dir, n_buckets).drop(
            "bucket"
        )
    todo = remaining_input(spark, docs, out_dir, n_buckets)
    t0 = time.perf_counter()

    result = extract(todo.drop("bucket")).withColumn("bucket", bucket_col(n_buckets))
    # global totals ride along with the write job itself (df.observe —
    # accumulator-backed, zero extra scan); per-bucket detail comes from the
    # pruned verification scan below
    obs = Observation(f"ckpt-{run_id}")
    result = result.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("n_errors"),
        # the exact bucket set THIS run wrote (≤ n_buckets small values) —
        # the verification scan must not touch other unmanifested dirs,
        # which may hold stale partials from a crashed previous run that
        # dynamic overwrite did not replace
        F.collect_set("bucket").alias("buckets"),
    )

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    result.write.mode("overwrite").partitionBy("bucket").parquet(out_dir)
    wall = time.perf_counter() - t0
    totals = obs.get  # available immediately — the write action computed it

    # Per-bucket stats: read back ONLY the buckets this run actually wrote
    # (the observed set — explicit bucket=<b> paths, file-level pruning by
    # construction; never previous runs' buckets or stale partials a crashed
    # run left behind) and only the 2 narrow columns the manifest needs — a
    # metadata-light fraction of the span-payload-dominated output. Reading
    # what is actually on disk (rather than trusting the in-memory counts)
    # is deliberate: the manifest asserts bucket completeness, so it must
    # describe committed files, not the plan that produced them.
    candidates = sorted(set(int(b) for b in (totals["buckets"] or [])) - already)
    stats = _bucket_stats_from_footers(out_dir, candidates)
    if stats is None:  # a footer lacked statistics
        paths = [
            p
            for b in candidates
            if os.path.isdir(p := os.path.join(out_dir, f"bucket={b}"))
        ]
        stats = []
        if paths:
            written = (
                spark.read.option("basePath", out_dir)
                .parquet(*paths)
                .select("doc_id", "error", "bucket")
            )
            stats = [
                r.asDict()
                for r in written.groupBy("bucket")
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
                    F.min("doc_id").alias("min_doc_id"),
                    F.max("doc_id").alias("max_doc_id"),
                )
                .collect()
            ]
    committed = sum(r["n_docs"] for r in stats)
    observed = int(totals["n_docs"] or 0)
    if committed != observed:
        # NOT a bare assert: must fire under python -O too, and must carry
        # the diagnostic values (observed-metric over-count from a retried
        # stage / future bucket-set mismatches are exactly when it matters)
        raise CheckpointCommitError(
            f"committed rows ({committed}) disagree with the write job's "
            f"observed count ({observed}) over buckets {candidates}; "
            "refusing to write manifests — buckets stay incomplete and the "
            "next run rewrites them"
        )

    mdir = os.path.join(out_dir, MANIFEST_SUBDIR)
    os.makedirs(mdir, exist_ok=True)
    total_docs = totals["n_docs"] or 1
    for r in stats:
        manifest = {
            "bucket": int(r["bucket"]),
            "run_id": run_id,
            "n_docs": int(r["n_docs"]),
            "n_errors": int(r["n_errors"]),
            "min_doc_id": r["min_doc_id"],
            "max_doc_id": r["max_doc_id"],
            "wall_sec_run": round(wall, 3),
            "docs_per_sec_run": round(total_docs / wall, 2),
        }
        tmp = os.path.join(mdir, f".bucket-{manifest['bucket']:05d}.json.tmp")
        dst = os.path.join(mdir, f"bucket-{manifest['bucket']:05d}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, dst)  # atomic manifest commit

    return {
        "run_id": run_id,
        "buckets_written": [int(r["bucket"]) for r in stats],
        "n_docs": int(sum(r["n_docs"] for r in stats)),
        "n_errors": int(sum(r["n_errors"] for r in stats)),
        "wall_sec": round(wall, 3),
    }
