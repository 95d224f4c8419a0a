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
  * Every doc crosses the JVM↔Arrow boundary once, in one scan; an
    all-light batch is a near-zero-cost columnar pass-through of the stage.
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


def extract_documents(
    df: DataFrame,
    rules: Sequence[tuple[str, str]] = (),
    salt_partitions: int | None = None,
    media_engine: str = "local",
    media_sidecar: DataFrame | None = None,
) -> DataFrame:
    """Run the full extraction. Returns OUTPUT_SCHEMA-shaped DataFrame.

    One plan for every input: native text normalization → optional sidecar
    attach → optional salted repartition → the Arrow stage → A6 sort.

    rules: ordered literal replacement pairs (T5), applied to text-bearing
    output spans after whitespace canonicalization, exactly like the
    reference postprocessor.

    salt_partitions: repartition by xxhash64(doc_id) into this many
    partitions before the Arrow stage, spreading media-heavy docs evenly.

    media_engine: one of dispatch.MEDIA_ENGINES — J1 selection of the
    media-kind engine (reference requested_engine_name analogue).

    media_sidecar: (media_ref, content) frame (sources.media.sidecar_df) for
    the production binaryFile path — broadcast-joined per doc, payloads
    decoded inside the Arrow stage (backend 'sidecar').
    """
    from ocr_spark.operators.dispatch import apply_heavy_kinds

    rules = TX.validate_rules(rules)

    # 1. native text-kind normalization inside the nested array
    out = df.withColumn("spans", F.transform("spans", lambda s: _process_span(s, rules)))
    if media_sidecar is not None:
        out = _attach_sidecar(out, media_sidecar)
    if salt_partitions:
        out = out.repartition(salt_partitions, F.xxhash64("doc_id"))
    # 2. one Arrow stage for every doc's heavy spans
    merged = apply_heavy_kinds(out, rules, media_engine=media_engine)

    # 3. reassembly: enforce span order per doc, attach extractor
    return merged.select(
        "doc_id",
        _sort_spans(F.col("spans")).alias("spans"),
        F.col("confidence").cast("double").alias("confidence"),
        F.lit(EXTRACTOR_NAME).alias("extractor"),
        "error",
        "error_source",
    )
