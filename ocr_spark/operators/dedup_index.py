"""Cross-snapshot incremental dedup: dedup a NEW crawl batch against a
persisted corpus index without rescanning (or re-shuffling) the corpus.

The missing piece for a continuously-updated corpus (monthly crawl
snapshots): `near_dedup`/`exact_dedup` are one-shot operators over a whole
corpus; re-running them on corpus ∪ batch re-pays the full corpus shuffle
every month. This module persists the SAME artifacts those operators
compute — the exact-dedup fingerprints and the MinHash LSH band buckets —
as an append-only parquet index, and decides keep/drop for each new batch
with joins whose big (index) side never shuffles.

Index layout (three tables under one root, plus `_index_meta.json` pinning
the hash-family parameters so every batch uses the identical family):

  exact/  (doc_id, fp)             bucket-partitioned by pmod(xxhash64(fp))
  bands/  (doc_id, band, bh)       bucket-partitioned by pmod(xxhash64(bh))
  sigs/   (doc_id, sig:array<long>) bucket-partitioned by pmod(xxhash64(id))

`bands` carries ONLY the 8-byte bucket key per (doc, band) — the k-long
signature is stored once per doc in `sigs` and joined only for the few
candidates that share a band bucket, so the index is ~(bands×16 + k×8)
bytes per doc instead of bands×k×8.

Scale shape (10^12-doc corpus, 10^9-doc monthly batch):
  * Every index-side join keeps the batch side small and broadcastable:
    corpus `exact`/`bands` scan → BroadcastHashJoin against the batch's
    fingerprints / band keys → ZERO Exchange on the index side (asserted in
    tests). The bucket partition column additionally enables partition
    pruning / DPP when a batch is narrow (resume of a failed sub-batch).
  * Signature verification joins `sigs` only on band-bucket CANDIDATES
    (batch side, small, broadcast) — the corpus signature table is scanned,
    never shuffled.
  * The batch-internal near-dup pass is the ordinary `minhash_lsh_pairs`
    plan over the batch alone.

Semantics (corpus-priority, append-only — the contract every incremental
dedup system has): previously-kept corpus docs are NEVER retracted; a new
doc is dropped iff (a) its fingerprint already exists in the index, or
(b) its near-dup cluster (batch↔batch ∪ batch↔corpus verified pairs)
contains ANY corpus doc, or (c) it is not the min-id member of its
corpus-free batch cluster. When batch ids sort after corpus ids this
reproduces one-shot `near_dedup(corpus ∪ batch)` exactly EXCEPT for
bridge components — two already-kept corpus docs connected only through a
new batch doc; one-shot would retract one corpus doc, incremental (by
contract) cannot. tests/test_dedup_index.py pins both the equivalence and
the documented bridge divergence.

Reference anchor: the reference app has no incremental story (single-run
desktop pipeline, ocr_workflow_orchestrator.py); this is part of the
task-directive LLM-training-data layer (dedup family, dedup.py), extended
to the snapshot-update regime (Lee et al. 2022 §5 discuss dedup cost at
recurring-crawl scale).
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import (
    minhash_band_buckets,
    minhash_est_jaccard,
    pairs_from_band_buckets,
    dedup_clusters,
)
from ocr_spark.operators.text_analysis import fingerprint

INDEX_META_FILE = "_index_meta.json"


class DedupIndex(NamedTuple):
    """Handle to a persisted dedup index: the three tables + pinned params."""

    exact: DataFrame  # (doc_id, fp)
    bands: DataFrame  # (doc_id, band, bh)
    sigs: DataFrame  # (doc_id, sig)
    meta: dict  # {k, bands, n, n_buckets, id_type}


def _bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def write_dedup_index(
    docs: DataFrame,
    path: str,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """Persist (mode='overwrite') or extend (mode='append') the index with
    the rows for `docs` — which must already be the KEPT set (output of
    `incremental_dedup`, or of `near_dedup` for the initial snapshot).

    Append with parameters different from the stored `_index_meta.json` is
    rejected loudly: band keys from a different (k, bands, n) family would
    silently never collide with the stored ones and every dup would sail
    through."""
    meta = {
        "k": int(k),
        "bands": int(bands),
        "n": int(n),
        "n_buckets": int(n_buckets),
        "hash": "md5-h60 kirsch-mitzenmacher/30bit; fp=md5 prefix",
    }
    meta_path = os.path.join(path, INDEX_META_FILE)
    if mode == "append" and os.path.exists(meta_path):
        with open(meta_path) as f:
            stored = json.load(f)
        if stored != meta:
            raise ValueError(
                f"dedup index at {path} was built with {stored}; "
                f"appending with {meta} would corrupt it"
            )
    # stage the input and the bucket frame across the three write actions:
    # `docs` is typically a LAZY dedup output (near_dedup/incremental_dedup)
    # whose plan would otherwise re-execute once per table write, and
    # bands/sigs both derive from the same minhash aggregation — persist
    # both, release both on every exit path (the repo's cache discipline)
    docs = docs.persist()
    bb = None
    nb = meta["n_buckets"]
    try:
        ex = docs.select(
            F.col(id_col).alias("doc_id"),
            fingerprint(F.col(text_col)).alias("fp"),
        )
        (
            ex.withColumn("bucket", _bucket(F.col("fp"), nb))
            .write.mode(mode)
            .partitionBy("bucket")
            .parquet(os.path.join(path, "exact"))
        )
        bb = minhash_band_buckets(
            docs, k=k, bands=bands, n=n, id_col=id_col, text_col=text_col
        ).persist()
        (
            bb.select(F.col("id").alias("doc_id"), "band", "bh")
            .withColumn("bucket", _bucket(F.col("bh"), nb))
            .write.mode(mode)
            .partitionBy("bucket")
            .parquet(os.path.join(path, "bands"))
        )
        (
            bb.where(F.col("band") == 0)
            .select(F.col("id").alias("doc_id"), "sig")
            .withColumn("bucket", _bucket(F.col("doc_id"), nb))
            .write.mode(mode)
            .partitionBy("bucket")
            .parquet(os.path.join(path, "sigs"))
        )
    finally:
        if bb is not None:
            bb.unpersist()
        docs.unpersist()
    with open(meta_path, "w") as f:
        json.dump(meta, f)


def read_dedup_index(spark: SparkSession, path: str) -> DedupIndex:
    with open(os.path.join(path, INDEX_META_FILE)) as f:
        meta = json.load(f)
    return DedupIndex(
        exact=spark.read.parquet(os.path.join(path, "exact")).drop("bucket"),
        bands=spark.read.parquet(os.path.join(path, "bands")).drop("bucket"),
        sigs=spark.read.parquet(os.path.join(path, "sigs")).drop("bucket"),
        meta=meta,
    )


def incremental_dedup(
    new_docs: DataFrame,
    index: DedupIndex,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: dict | None = None,
) -> DataFrame:
    """Keep/drop for a new batch against the corpus index + within itself.

    Plan shape (asserted in tests): the index's `exact`, `bands` and `sigs`
    scans each feed ONE BroadcastHashJoin whose build side is derived from
    the (small) batch — the index is scanned, never shuffled. The
    batch-internal LSH pass shuffles only the batch.

    `stats`, when given, receives driver-side diagnostic counts (each one
    Spark job over already-small frames): n_batch, exact_dropped,
    near_dropped_corpus, near_dropped_batch, kept.
    """
    k, bands_n, n = index.meta["k"], index.meta["bands"], index.meta["n"]

    # --- stage 1: exact — corpus fingerprints win, then min-id within batch
    fp_new = new_docs.withColumn("__fp", fingerprint(F.col(text_col)))
    # the batch's distinct fingerprints are the small side: broadcast them
    # against the index scan, collect the HIT set (small), then drop batch
    # rows by fingerprint membership — the index side never shuffles.
    # Both joins are NULL-SAFE: fingerprint(null text) is NULL, and
    # exact_dedup's window PARTITIONs all null fingerprints into one group
    # (standard SQL null grouping, oracle-pinned), so the cross-snapshot
    # match must treat NULL as a value too or null-text batch docs would
    # survive a corpus that already holds one — a silent one-shot
    # divergence (pinned in tests/test_dedup_index.py).
    batch_fps = fp_new.select(F.col("__fp").alias("fp")).distinct()
    hit_fps = (
        index.exact.join(
            F.broadcast(batch_fps), index.exact["fp"].eqNullSafe(batch_fps["fp"])
        )
        .select(index.exact["fp"].alias("__hit_fp"))
        .distinct()
    )
    ex_survivors = (
        fp_new.join(
            F.broadcast(hit_fps),
            fp_new["__fp"].eqNullSafe(hit_fps["__hit_fp"]),
            "left_anti",
        )
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("__fp").orderBy(id_col)),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )

    # --- stage 2: near-dup band buckets for exact survivors
    bb = minhash_band_buckets(
        ex_survivors, k=k, bands=bands_n, n=n, id_col=id_col, text_col=text_col
    )

    # batch ↔ corpus candidates: broadcast the batch's (band, bh, id, sig)
    # against the index band scan, then verify against the corpus signature
    # table (candidates broadcast again — the few band-collisions only).
    cand = (
        index.bands.join(
            F.broadcast(bb.select(F.col("id").alias("batch_id"), "band", "bh", "sig")),
            ["band", "bh"],
        )
        .select(
            F.col("doc_id").alias("corpus_id"),
            "batch_id",
            F.col("sig").alias("sig_batch"),
        )
        .dropDuplicates(["corpus_id", "batch_id"])
    )
    pairs_bc = (
        index.sigs.join(
            F.broadcast(cand), index.sigs["doc_id"] == cand["corpus_id"]
        )
        .withColumn(
            "est_jaccard",
            minhash_est_jaccard(F.col("sig_batch"), F.col("sig"), k),
        )
        .where(F.col("est_jaccard") >= threshold)
        .select("corpus_id", "batch_id")
    )

    # batch ↔ batch pairs over the same bucket frame
    pairs_bb = pairs_from_band_buckets(bb, k=k, threshold=threshold).select(
        "id_a", "id_b"
    )

    # --- stage 3: cluster the union; corpus members taint their cluster
    edges = pairs_bb.unionByName(
        pairs_bc.select(
            F.col("corpus_id").alias("id_a"), F.col("batch_id").alias("id_b")
        )
    )
    labels = dedup_clusters(edges)
    # labels holds exactly the edge members (batch ∪ matched-corpus ids;
    # ids must be globally unique across snapshots — true of any real
    # pipeline and of the id generators here)
    corpus_members = pairs_bc.select(F.col("corpus_id").alias("id")).distinct()
    ann = labels.join(
        corpus_members.withColumn("__is_corpus", F.lit(True)), "id", "left"
    ).withColumn("__is_corpus", F.coalesce("__is_corpus", F.lit(False)))
    per_cluster = ann.groupBy("rep").agg(
        F.max(F.col("__is_corpus").cast("int")).alias("has_corpus"),
        F.min(F.when(~F.col("__is_corpus"), F.col("id"))).alias("min_batch_id"),
    )
    drop = (
        ann.where(~F.col("__is_corpus"))
        .join(per_cluster, "rep")
        .where(
            (F.col("has_corpus") == 1) | (F.col("id") != F.col("min_batch_id"))
        )
        .select(F.col("id").alias(id_col))
    )
    kept = ex_survivors.join(drop, id_col, "left_anti")

    if stats is not None:
        n_batch = new_docs.count()
        n_ex = ex_survivors.count()
        n_drop_c = (
            ann.where(~F.col("__is_corpus"))
            .join(per_cluster, "rep")
            .where(F.col("has_corpus") == 1)
            .count()
        )
        n_drop_total = drop.count()
        n_kept = kept.count()
        stats.update(
            n_batch=n_batch,
            exact_dropped=n_batch - n_ex,
            near_dropped_corpus=n_drop_c,
            near_dropped_batch=n_drop_total - n_drop_c,
            kept=n_kept,
        )
    return kept


def update_dedup_index(
    kept_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append the kept batch's index rows, under the STORED parameters.

    Read-after-append hazard (pinned by the iterated test): when
    `kept_docs` is the still-lazy incremental_dedup output, its plan READS
    this same index — re-executing it AFTER the append can observe the
    newly appended files (Spark refreshes file listings when relation
    caches are invalidated) and each doc then finds its own fingerprint
    and drops itself. The three writes here are internally consistent
    (the input is persisted across them and materialized against the
    pre-append listing), but the CALLER must materialize `kept_docs`
    (write it to storage, collect it, or persist+count) BEFORE calling
    this if it needs the frame afterwards — which is the natural pipeline
    order anyway: persist the kept batch, then index it."""
    with open(os.path.join(path, INDEX_META_FILE)) as f:
        meta = json.load(f)
    write_dedup_index(
        kept_docs,
        path,
        k=meta["k"],
        bands=meta["bands"],
        n=meta["n"],
        n_buckets=meta["n_buckets"],
        id_col=id_col,
        text_col=text_col,
        mode="append",
    )
