"""Structured Streaming ingestion: continuous extraction over an arriving
document directory.

The reference is a batch desktop system — request/response per document
(ocr_workflow_orchestrator.py:252-319), no streaming operator exists
(SURVEY §2.9); this module is the Spark-native widening a production corpus
build needs. New interleaved-span parquet files land in a directory; each
micro-batch runs the UNCHANGED batch extractor via foreachBatch, so the plan
per micro-batch is byte-identical to the audited batch plan (salted
repartition, codegen'd span normalization, one Arrow stage). The parquet
file source + checkpointLocation give exactly-once FILE tracking with resume
across restarts: a restarted query never re-reads a file a committed epoch
consumed.

Delivery semantics: foreachBatch is at-least-once (a crash between the sink
write and the epoch commit replays the epoch). The sink therefore writes
each epoch to its own `epoch=N` subdirectory with mode=overwrite — a
replayed epoch overwrites its own partial output, composing at-least-once
replay into exactly-once on disk. `read_stream_output` reads the union.

Scale shape: identical to batch — the streaming layer adds file listing and
offset tracking only; no extra shuffle, no driver-side rows. Backpressure
via maxFilesPerTrigger bounds per-epoch memory at any corpus arrival rate.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery


def _guard_fresh_checkpoint(output_dir: str, checkpoint_dir: str) -> None:
    """Epoch-keyed overwrite sinks compose exactly-once only while the SAME
    checkpoint directory is used: a fresh checkpoint restarts epoch ids at 0
    and would overwrite prior epochs in an existing output dir. Refuse that
    combination up front (r3 verdict: one guard line closes it)."""
    cp_has_offsets = os.path.isdir(os.path.join(checkpoint_dir, "offsets"))
    out_has_epochs = os.path.isdir(output_dir) and any(
        e.startswith("epoch=") for e in os.listdir(output_dir)
    )
    if out_has_epochs and not cp_has_offsets:
        raise ValueError(
            f"output dir {output_dir!r} already holds epoch= outputs but "
            f"checkpoint {checkpoint_dir!r} is fresh — epoch ids would "
            "restart at 0 and overwrite committed epochs. Reuse the "
            "original checkpoint dir to resume, or point at a new output "
            "dir."
        )


def streaming_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    rules: Sequence[tuple[str, str]] = (),
    media_engine: str = "local",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    **extract_kw,
) -> StreamingQuery:
    """Start the streaming extraction query and return its handle.

    available_now=True (default) drains everything pending then stops — the
    batch-backfill / test mode; False runs continuously with
    `processing_time` micro-batch cadence. `extract_kw` forwards to
    pipeline.extract_documents (salt_partitions, media_sidecar).
    """
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA

    _guard_fresh_checkpoint(output_dir, checkpoint_dir)
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_dir)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        out = extract_documents(
            batch_df,
            rules=rules,
            media_engine=media_engine,
            **extract_kw,
        )
        out.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"epoch={epoch_id}")
        )

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("ocr_spark_streaming_extract")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    schema: str = "doc_id long, text string",
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    processing_time: str = "10 seconds",
) -> StreamingQuery:
    """Stateful streaming exact-dedup: emit each document the FIRST time its
    canonical fingerprint is seen across the whole stream; all later
    arrivals (and same-batch twins) are dropped. The custom stateful
    operator the batch `exact_dedup` cannot express — state (one seen-flag
    per fingerprint) lives in Spark's state store, keyed by the md5
    fingerprint, survives restarts via the checkpoint, and is maintained by
    `applyInPandasWithState` (Arrow-batched; grouping shuffles ONLY the
    fingerprint-keyed rows of each micro-batch, never the corpus).

    Within a micro-batch the min-id row of each new fingerprint wins
    (deterministic); across batches the earlier batch wins (stream
    semantics). At cluster scale the state store is RocksDB-backed and
    partitioned with the shuffle — per-key state is 1 byte of payload, so
    10^12 fingerprints shard across executors; no timeout is set because
    dedup state is by definition forever.

    Output goes through the parquet FILE SINK (its _spark_metadata commit
    log gives exactly-once on disk); read results back with
    spark.read.parquet(output_dir), not read_stream_output."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ocr_spark.operators.text_analysis import fingerprint

    stream = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .withColumn("fp", fingerprint(F.col(text_col)))
    )
    def _first_seen(key, pdf_iter, state):
        if state.exists:
            # fingerprint already emitted in an earlier micro-batch: the
            # whole group is duplicates (no state write — NoTimeout entries
            # never expire, so re-putting an identical flag is pure
            # state-store write amplification)
            return iter(())
        # min-id row wins; a null id (float64 NaN in pandas) loses to any
        # real id, and an all-null group emits its first row — a null id
        # must never crash the query (a poison row that raised here would
        # be retried on every restart, wedging the stream forever)
        best = None  # 1-row DataFrame slice (dtypes preserved)
        best_id = None  # None = null id
        for pdf in pdf_iter:
            s = pdf[id_col]
            if s.notna().any():
                i = s.idxmin()
                cid = s.loc[i]
            else:
                i, cid = pdf.index[0], None
            if best is None or (
                cid is not None and (best_id is None or cid < best_id)
            ):
                best, best_id = pdf.loc[[i]], cid
        state.update((True,))
        if best is None:
            return iter(())
        # fp was only the grouping key — don't ship it back over Arrow
        return iter((best.drop(columns=["fp"]),))

    deduped = stream.groupBy("fp").applyInPandasWithState(
        _first_seen,
        outputStructType=schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("ocr_spark_streaming_dedup")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def streaming_near_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    schema: str = "doc_id long, text string",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str = "10 seconds",
) -> StreamingQuery:
    """Streaming NEAR-dedup, first-seen-wins: emit a document only when no
    earlier-arrived document is a verified minhash near-duplicate of it —
    the stream analogue of batch `near_dedup(method='minhash')`, built from
    the SAME primitives so the two agree (minhash_band_buckets bucket keys,
    minhash_est_jaccard verification, dedup_clusters resolution).

    Mechanism (per-batch reconcile — the r3 verdict's band-state design,
    with the batch operator's verification kept intact): every processed
    document registers its (band, bh) bucket claims AND its signature in a
    parquet band registry under the output dir. A micro-batch computes its
    documents' buckets, finds candidate pairs within the batch and against
    the registry (equi-join on the band keys — never a cross join), verifies
    est_jaccard >= threshold, resolves connected components, and drops every
    batch doc whose component is anchored to a registered (earlier) doc or
    loses the min-id tie-break within the batch. ALL batch docs — kept and
    dropped — then register their claims, so later arrivals connect to
    clusters transitively exactly as the batch operator's closure does.

    Equivalence to batch: replaying a corpus in id order yields exactly
    near_dedup's keep set whenever each cluster member shares a verified
    band with some EARLIER cluster member (the normal case — the test pins
    it). The one divergence: a doc whose only link to its cluster runs
    through a LATER arrival is emitted by the stream (it was genuinely novel
    at arrival time) but dropped by the batch closure — inherent to
    first-seen semantics, not a bug.

    Delivery: epoch-keyed overwrite dirs for BOTH the kept docs and the
    registry claims, and the registry read excludes the current epoch — a
    replayed epoch sees exactly the pre-epoch registry, recomputes the same
    decisions, overwrites its own partial output: exactly-once on disk.

    Scale shape: per micro-batch the work is the batch operator's on the
    BATCH (bounded by maxFilesPerTrigger), plus one equi-join against the
    registry (shuffles the registry on its band key each batch — bucket the
    registry store by bh to pre-co-locate at corpus scale) and one
    broadcast-able anti-join of drops against the batch. Registry size is
    bands x docs rows of (key, sig) — the same memory class as the batch
    LSH shuffle, persisted instead of transient."""
    from ocr_spark.operators.dedup import (
        dedup_clusters,
        minhash_band_buckets,
        minhash_est_jaccard,
    )

    _guard_fresh_checkpoint(output_dir, checkpoint_dir)
    registry_dir = os.path.join(output_dir, "_band_registry")

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        buckets = minhash_band_buckets(
            batch_df, k=k, bands=bands, n=n, id_col=id_col, text_col=text_col
        ).localCheckpoint(eager=True)  # reused 3x below: compute sigs once
        reg = None
        # an epoch dir holding only _temporary (crash mid-first-write) has
        # no data files: reading it would die on schema inference, and the
        # documented replay-and-overwrite recovery would never complete —
        # treat a registry with zero committed part files as empty
        def _epoch_has_data(e: str) -> bool:
            d = os.path.join(registry_dir, e)
            return os.path.isdir(d) and any(
                f.startswith("part-") and not f.endswith(".crc")
                for f in os.listdir(d)
            )

        if os.path.isdir(registry_dir) and any(
            e.startswith("epoch=") and _epoch_has_data(e)
            for e in os.listdir(registry_dir)
        ):
            reg = (
                sp.read.option("basePath", registry_dir)
                .parquet(os.path.join(registry_dir, "epoch=*"))
                # a replayed epoch must not collide with its own partial
                # registry write — read strictly earlier epochs
                .where(F.col("epoch") < F.lit(int(epoch_id)))
                .drop("epoch")
            )
        a, b = buckets.alias("a"), buckets.alias("b")
        within = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        pairs = within.withColumn("from_reg", F.lit(False))
        if reg is not None:
            r = reg.alias("r")
            cross = a.join(
                r,
                (F.col("a.band") == F.col("r.band"))
                & (F.col("a.bh") == F.col("r.bh")),
            ).select(
                F.col("a.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("r.sig").alias("sig_b"),
            )
            pairs = pairs.unionByName(cross.withColumn("from_reg", F.lit(True)))
        # verified pairs are the batch's near-dup candidates — tiny. The
        # localCheckpoint pins them so the GROWING registry is scanned
        # exactly once per batch: clustering, anchoring, and the drop join
        # below all reuse this frame instead of re-deriving `cross` (and
        # re-reading the registry) per consumer. from_reg marks which side
        # a pair's id_b came from, so anchored reps are found without the
        # old second registry scan (registry docs only enter the graph via
        # cross pairs; a duplicate-id arrival self-pairs at jaccard 1.0).
        pairs = (
            pairs.dropDuplicates(["id_a", "id_b", "from_reg"])
            .where(
                minhash_est_jaccard(F.col("sig_a"), F.col("sig_b"), k)
                >= F.lit(threshold)
            )
            .select("id_a", "id_b", "from_reg")
            .localCheckpoint(eager=True)
        )
        labels = dedup_clusters(pairs.select("id_a", "id_b"))
        anchored = (
            labels.join(
                pairs.where(F.col("from_reg"))
                .select(F.col("id_b").alias("id"))
                .distinct(),
                "id",
                "left_semi",
            ).select(F.col("rep")).distinct()
            if reg is not None
            else labels.where(F.lit(False)).select("rep")
        )
        drops = (
            labels.join(F.broadcast(anchored), "rep", "left_semi")
            .select("id")
            .unionByName(
                labels.where(F.col("id") != F.col("rep")).select("id")
            )
            .distinct()
            .withColumnRenamed("id", id_col)
        )
        kept = batch_df.join(F.broadcast(drops), id_col, "left_anti")
        kept.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"epoch={epoch_id}")
        )
        buckets.select("id", "sig", "band", "bh").write.mode(
            "overwrite"
        ).parquet(os.path.join(registry_dir, f"epoch={epoch_id}"))

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    writer = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("ocr_spark_streaming_near_dedup")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def read_stream_output(spark: SparkSession, output_dir: str) -> DataFrame:
    """The union of all committed epochs, OUTPUT_SCHEMA-shaped (the epoch
    partition column is dropped — it is a delivery artifact, not data)."""
    return (
        spark.read.option("basePath", output_dir)
        .parquet(os.path.join(output_dir, "epoch=*"))
        .drop("epoch")
    )
