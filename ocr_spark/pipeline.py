"""The flagship extraction pipeline (SURVEY.md §3.1 Spark restatement).

    read spans table
      → native per-span text normalization (T1-T5, T7) inside the nested
        array — F.transform + CASE on kind; no explode, no shuffle, fully
        whole-stage-codegen'd
      → ONE mapInArrow stage for the heavy kinds (html boilerplate strip,
        pdf XY-cut, ocr media kernels) that branches on kind INSIDE the UDF
        (J1 dispatch, ref ocr_workflow_orchestrator.py:272-294) — avoids one
        shuffle per kind
      → span-sequence reassembly (A6): array_sort by offset, per-row
      → output schema + error envelope

Scale notes (north rule):
  * Only docs that actually contain heavy kinds enter the Python stage; pure
    text docs never cross the JVM↔Arrow boundary.
  * Media-heavy skew (5% of docs carry 256-1024 media spans) is defeated by a
    salted repartition on xxhash64(doc_id, salt) before the UDF stage —
    opt-in via `salt_partitions` since it IS a shuffle and only pays for
    itself when the UDF stage dominates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions import text as TX

EXTRACTOR_NAME = "ocr_spark"

HEAVY_KINDS = ("html", "pdf", "ocr", "media")


def _process_span(s: Column, rules: Sequence[tuple[str, str]]) -> Column:
    """Native (codegen) processing for text-bearing spans; heavy kinds pass
    through untouched for the Arrow stage."""
    new_text = F.when(s["kind"] == "text", TX.extract_text(s["text"], rules)).otherwise(
        s["text"]
    )
    return F.struct(
        s["kind"].alias("kind"),
        new_text.alias("text"),
        s["media_ref"].alias("media_ref"),
        s["offset"].alias("offset"),
    )


def _sort_spans(col: Column) -> Column:
    """A6 span-sequence order: stable sort by offset (W2) without exploding."""
    return F.array_sort(
        col,
        lambda l, r: F.when(l["offset"] < r["offset"], F.lit(-1))
        .when(l["offset"] > r["offset"], F.lit(1))
        .otherwise(F.lit(0)),
    )


def has_heavy_spans(col: Column) -> Column:
    return F.exists(col, lambda s: s["kind"].isin(*HEAVY_KINDS))


def _attach_sidecar(df: DataFrame, sidecar: DataFrame) -> DataFrame:
    """S1 binaryFile path (J3 broadcast sidecar join, ref
    ocr_workflow_orchestrator.py:153-178 restated for Spark): gather each
    doc's distinct media refs, broadcast-join the (media_ref, content)
    sidecar, and re-attach the payloads as one map column per doc.

    Scale shape: the refs frame carries only (doc_id, media_ref) — narrow.
    The sidecar side is broadcast (small dims case); a huge sidecar would
    swap to a bucketed shuffle join with the same plan shape. The group-back
    shuffles only docs that HAVE media spans, keyed by doc_id — the same key
    the Arrow stage salts on, so AQE can co-locate the downstream join."""
    from ocr_spark.operators.dispatch import MEDIA_KINDS, MEDIA_SIDECAR_COL

    refs = df.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.filter(
                        "spans",
                        lambda s: s["kind"].isin(*MEDIA_KINDS)
                        & s["media_ref"].isNotNull(),
                    ),
                    lambda s: s["media_ref"],
                )
            )
        ).alias("media_ref"),
    )
    # a ref duplicated in the sidecar (overlapping globs, unioned frames)
    # would make map_from_entries throw 'Duplicate map key' and kill the
    # job; dedupe so it degrades to one payload per ref instead
    resolved = refs.join(
        F.broadcast(sidecar.dropDuplicates(["media_ref"])), "media_ref", "inner"
    )
    pay = resolved.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("media_ref", "content"))).alias(
            MEDIA_SIDECAR_COL
        )
    )
    return df.join(pay, "doc_id", "left")


def _extract_chunked(
    big: DataFrame,
    rules,
    media_resolver: str,
    salt_partitions: int | None,
    threshold: int,
    media_engine: str = "local",
) -> DataFrame:
    """Giant-doc escape hatch: salting spreads DOCS across partitions, but a
    single row cannot split — one doc with 10⁴ media spans would still
    straggle its task (SURVEY.md §7 'hard parts'). Here oversized span arrays
    are sliced into ≤threshold chunks, each chunk flows through the same
    Arrow stage as an independent row, and the doc is reassembled natively:
    spans by global offset (A6 sort), confidence from the stage's mergeable
    (conf_sum, conf_cnt) parts, error = first errored chunk (min by index)."""
    from ocr_spark.operators.dispatch import apply_heavy_kinds

    n_chunks = F.ceil(F.size("spans") / F.lit(threshold)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(F.col("spans"), i * threshold + 1, threshold),
    )
    exploded = big.select("doc_id", F.posexplode(chunks).alias("chunk", "spans"))
    if salt_partitions:
        exploded = exploded.repartition(salt_partitions, F.xxhash64("doc_id", "chunk"))
    done = apply_heavy_kinds(
        exploded, rules, media_resolver, passthrough=("chunk",), media_engine=media_engine
    )

    total_cnt = F.sum("conf_cnt")
    confidence = F.when(
        F.count("conf_cnt") > 0,  # some chunk saw media spans
        F.when(total_cnt > 0, F.sum("conf_sum") / total_cnt).otherwise(F.lit(0.0)),
    )
    first_err = F.min(
        F.when(
            F.col("error").isNotNull(),
            F.struct(F.col("chunk"), F.col("error"), F.col("error_source")),
        )
    ).alias("fe")
    return done.groupBy("doc_id").agg(
        F.flatten(F.collect_list("spans")).alias("spans"),  # order restored by A6 sort
        confidence.alias("confidence"),
        first_err,
    ).select(
        "doc_id",
        "spans",
        "confidence",
        F.col("fe.error").alias("error"),
        F.col("fe.error_source").alias("error_source"),
    )


def extract_documents(
    df: DataFrame,
    rules: Sequence[tuple[str, str]] = (),
    salt_partitions: int | None = None,
    media_resolver: str = "synthetic",
    split_light: bool = False,
    span_chunk_threshold: int | None = None,
    media_engine: str = "local",
    media_sidecar: DataFrame | None = None,
) -> DataFrame:
    """Run the full extraction. Returns OUTPUT_SCHEMA-shaped DataFrame.

    media_sidecar: (media_ref, content) frame (sources.media.sidecar_df) for
    the production binaryFile path — broadcast-joined per doc, payloads
    decoded inside the Arrow stage (backend 'sidecar'). Single-pass mode
    only for now.

    rules: ordered literal replacement pairs (T5), applied to text-bearing
    output spans after whitespace canonicalization, exactly like the
    reference postprocessor.

    split_light: route docs with no heavy spans around the Python stage via a
    filter + unionByName. That sounds like the obvious win, but it scans the
    source TWICE (each branch re-reads) — the single-pass default sends every
    doc through the mapInArrow stage, where an all-light batch is a
    near-zero-cost columnar passthrough. Keep split_light for sources where a
    second pruned scan is cheaper than Arrow-transferring the light bytes
    (e.g. heavy kinds concentrated in a partition-prunable subset).

    media_engine: 'local' or 'cloud' — J1 selection of the media-kind
    engine (reference requested_engine_name analogue).

    span_chunk_threshold: giant-doc skew escape hatch — docs with more spans
    than this are split into chunks that process as independent rows and
    re-merge (see _extract_chunked). Costs a groupBy shuffle for those docs
    only; single-pass mode only.
    """
    from ocr_spark.operators.dispatch import apply_heavy_kinds

    rules = TX.validate_rules(rules)

    # 1. native text-kind normalization inside the nested array
    out = df.withColumn("spans", F.transform("spans", lambda s: _process_span(s, rules)))

    if media_sidecar is not None:
        if split_light or span_chunk_threshold:
            raise NotImplementedError(
                "media_sidecar currently supports single-pass mode only"
            )
        media_resolver = "sidecar"
        out = _attach_sidecar(out, media_sidecar)

    if split_light:
        if span_chunk_threshold:
            raise ValueError("span_chunk_threshold requires single-pass mode")
        # 2a. split: only docs with heavy spans cross the Arrow boundary
        heavy_flag = has_heavy_spans(F.col("spans"))
        light = (
            out.where(~heavy_flag)
            .withColumn("confidence", F.lit(None).cast("double"))
            .withColumn("error", F.lit(None).cast("string"))
            .withColumn("error_source", F.lit(None).cast("string"))
        )
        heavy = out.where(heavy_flag)
        if salt_partitions:
            # defeat media-heavy doc skew: spread docs across partitions by
            # hashed doc_id (uniform), independent of input file layout
            heavy = heavy.repartition(salt_partitions, F.xxhash64("doc_id"))
        heavy_done = apply_heavy_kinds(
            heavy, rules, media_resolver, media_engine=media_engine
        ).drop("conf_sum", "conf_cnt")
        merged = light.unionByName(heavy_done)
    elif span_chunk_threshold:
        # 2b'. giant docs chunked + re-merged; normal docs single-pass
        n = F.size("spans")
        big = out.where(n > span_chunk_threshold)
        rest = out.where(n <= span_chunk_threshold)
        if salt_partitions:
            rest = rest.repartition(salt_partitions, F.xxhash64("doc_id"))
        rest_done = apply_heavy_kinds(
            rest, rules, media_resolver, media_engine=media_engine
        ).drop("conf_sum", "conf_cnt")
        big_done = _extract_chunked(
            big, rules, media_resolver, salt_partitions, span_chunk_threshold,
            media_engine=media_engine,
        )
        merged = rest_done.unionByName(big_done)
    else:
        # 2b. single pass: one scan, one Arrow stage for all docs
        if salt_partitions:
            out = out.repartition(salt_partitions, F.xxhash64("doc_id"))
        merged = apply_heavy_kinds(
            out, rules, media_resolver, media_engine=media_engine
        ).drop("conf_sum", "conf_cnt")

    # 3. reassembly: enforce span order per doc, attach extractor
    return merged.select(
        "doc_id",
        _sort_spans(F.col("spans")).alias("spans"),
        F.col("confidence").cast("double").alias("confidence"),
        F.lit(EXTRACTOR_NAME).alias("extractor"),
        "error",
        "error_source",
    )
